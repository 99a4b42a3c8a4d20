package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** The training-data curation funnel as a reusable operator (the p11 gate
  * query drives exactly this composition against its DuckDB oracle):
  *
  *   quality gate -> exact dedup (keep min id per fingerprint) ->
  *   MinHash-LSH near-dup drop (higher id of each verified pair)
  *
  * Shuffle economics: stages 1+2 share ONE raw-corpus scan — the doc-level
  * char counts AND the exact-dedup fingerprint all ride the token stream as
  * carryCols of one map-side-combinable aggregation, the keep/canonical
  * decisions happen on the resulting small (id, fp) frame, and a single
  * semi-join re-attaches the surviving ids to the payload rows; stage 3
  * inherits the capped banded-LSH pipeline from
  * [[Dedup.nearDupPairsMinhash]]. The survivor
  * frame after exact dedup feeds three consumers (signatures, candidate
  * shingle sets, final anti-join), so it is staged ([[Stager.stage]]) — on
  * a cluster run the funnel inside `Stager.using(Stager.Parquet(graph))`
  * for a durable, lineage-restarting stage point.
  */
object Curation {

  /** Funnel knobs. Quality-score weights are fixed (length 0.4 / alpha
    * ratio 0.3 / English hits 0.2 / punctuation penalty 0.1 — the p02
    * scoring); the thresholds and LSH shape are per-corpus decisions. */
  final case class Config(
      minQuality: Double = 0.45,
      lengthNorm: Double = 200.0,
      shingleN: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 1,
      jaccardThreshold: Double = 0.8)

  /** Composite quality score in [0,1] over tokenStats output columns. */
  private def qualityScore(cfg: Config): Column = {
    val nTok = col("n_tok").cast("double")
    least(nTok / lit(cfg.lengthNorm), lit(1.0)) * lit(0.4) +
      when(col("__n_char") === 0, lit(0.0))
        .otherwise(col("__n_alpha") / col("__n_char")) * lit(0.3) +
      when(nTok === 0, lit(0.0))
        .otherwise(col("h_en").cast("double") / nTok) * lit(0.2) +
      (lit(1.0) - least(when(col("__n_char") === 0, lit(0.0))
        .otherwise(col("__n_punct") / col("__n_char")) * lit(5.0), lit(1.0))) * lit(0.1)
  }

  /** Keep rows whose score sits inside the [loQ, hiQ] band of their
    * GROUP's score distribution, with the band edges read from the
    * auditable bottom-k quantile sketch ([[Sketch.quantileSketch]] —
    * nearest-rank in integer micros, so the cut is bit-identical in any
    * engine). The group-relative band is the point: an absolute score
    * cut keeps whole easy sources and drops whole hard ones, while a
    * per-source band prunes each source against itself.
    *
    * 100 TB shape: the sketch reduces each group to <= k rows before any
    * quantile math; the band frame is one tiny row per group, equi-joined
    * back (AQE broadcasts it). The scored frame is STAGED — both the
    * sketch pass and the filter pass read it, and when scoring is itself
    * expensive (the bigram LM in [[perplexityPrune]]: measured 2x the
    * whole gate when unstaged) recomputing it per consumer doubles the
    * job. Pass scores that are cheap projections under a
    * [[Stager.using]] of choice if the narrow (id, group, score) frame is
    * too big to stage in memory. */
  def keepScoreBand(scored: DataFrame, idCol: String, groupCol: String,
      scoreCol: String, loQ: Double = 0.25, hiQ: Double = 0.75,
      k: Int = 256, salt: String = "pb"): DataFrame = {
    require(loQ > 0.0 && hiQ <= 1.0 && loQ <= hiQ,
      s"need 0 < loQ <= hiQ <= 1, got [$loQ, $hiQ]")
    val staged = Stager.stage(scored,
      s"band_scored_${java.util.UUID.randomUUID().toString.take(8)}")
    val bounds = Sketch.quantileEstimate(
        Sketch.quantileSketch(staged, scoreCol, groupCol, idCol, k, salt),
        Seq("__band_lo" -> loQ, "__band_hi" -> hiQ))
      .select(col(s"`$groupCol`"), col("__band_lo"), col("__band_hi"))
    staged.join(bounds, Seq(groupCol))
      .filter(col(s"`$scoreCol`") >= col("__band_lo") &&
        col(s"`$scoreCol`") <= col("__band_hi"))
      .drop("__band_lo", "__band_hi")
  }

  /** Perplexity-band data pruning (Marion et al. 2023, "When Less is
    * More": the MIDDLE of the perplexity distribution trains better than
    * either tail — low-perplexity docs are boilerplate, high-perplexity
    * docs are noise). Scores every doc with the self-trained bigram LM
    * ([[LmScore.scoreBigramSelf]] — avg_logp is engine-deterministic:
    * decimal-rounded lns, decimal sums, one division) and keeps docs
    * inside their GROUP's [loQ, hiQ] avg_logp band via [[keepScoreBand]].
    * Docs with fewer than 2 tokens have no bigrams, no score, and are
    * pruned (the p41 contract). Higher avg_logp = lower perplexity, so
    * loQ trims the noisy tail and hiQ the boilerplate tail. */
  def perplexityPrune(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, loQ: Double = 0.25, hiQ: Double = 0.75,
      vocabSize: Int = 200, k: Int = 256): DataFrame = {
    val scored = LmScore.scoreBigramSelf(docs, idCol, textCol, vocabSize,
      logRoundDp = 9)
    val withGroup = docs.select(col(s"`$idCol`"), col(s"`$groupCol`"))
      .join(scored, Seq(idCol))
    keepScoreBand(withGroup, idCol, groupCol, "avg_logp", loQ, hiQ, k)
  }

  /** [[curate]] plus a cleanup thunk that releases EXACTLY what this call
    * staged ([[Stager.recording]]), so concurrent work persisting blocks in
    * the same session (or other callers' Parquet stage tables) is never
    * touched. Invoke AFTER materializing the result. */
  def curateStaged(df: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): (DataFrame, () => Unit) =
    Stager.recording(curate(df, idCol, textCol, cfg))

  /** Run the funnel; returns the SURVIVING rows of `df` (all columns).
    * Stages intermediates without a release handle — long-lived sessions
    * calling this repeatedly should use [[curateStaged]] and invoke the
    * cleanup after materializing. */
  def curate(df: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    require(!df.columns.exists(Set("__n_char", "__n_alpha", "__n_punct", "__fp").contains),
      "__n_char/__n_alpha/__n_punct/__fp are reserved helper names in curate")
    val id = col(idCol)
    // per-call-unique stage names: with Stager.Parquet two curate calls
    // sharing a TableGraph must not clobber each other's staged parquet
    // (the Dedup runId convention)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // stages 1+2 FUSED over one corpus scan (guide §1.2 order-1: remove
    // passes): the exact-dedup fingerprint rides the SAME token-stream
    // aggregation as the quality stats (a carryCol — doc-level, so it
    // only widens the per-doc partial-agg rows, never the exploded token
    // stream: tokenStats' map-side combine collapses tokens before the
    // exchange). The unfused shape scanned the raw corpus twice more
    // (once to fingerprint the quality survivors, once for their
    // payload semi-join); at 100 TB those are two full-corpus passes for
    // values already computable in pass one.
    val withChars = df.select(id,
      length(col(textCol)).cast("double").as("__n_char"),
      alphaChars(col(textCol)).cast("double").as("__n_alpha"),
      punctChars(col(textCol)).cast("double").as("__n_punct"),
      fingerprint(col(textCol)).as("__fp"),
      col(textCol))
    val stats = tokenStats(withChars, idCol, textCol,
      carryCols = Seq("__n_char", "__n_alpha", "__n_punct", "__fp"))
    // quality filter -> exact dedup (keep the min-id row per fingerprint),
    // both decided on the small (id, fp) frame; ONE payload semi-join
    // attaches the surviving ids back to the raw rows. The survivor frame
    // feeds three consumers downstream — stage it here (unstaged, each
    // consumer rescans the quality+dedup subtree from the source: 12
    // scans in the funnel plan at gate scale)
    val canonIds = stats.filter(qualityScore(cfg) >= cfg.minQuality)
      .groupBy(col("__fp")).agg(min(id).as(idCol))
      .select(id)
    // the staged survivor frame byte-coalesces to 1-2 partitions at small
    // scale, and every downstream consumer (the minhash re-shingle most of
    // all) inherits that width for its per-row work — spread it once here
    // (metadata-only guard; no-op when the checkpoint is already wide)
    val canonDocs = Dedup.spreadStaged(Stager.stage(
      df.join(canonIds, Seq(idCol), "left_semi"), s"curation_canon_$runId"))
    // stage 3: minhash near-dup drop (higher id of each verified pair)
    val drop = Dedup.nearDupPairsMinhash(canonDocs, idCol, textCol,
        cfg.shingleN, cfg.numHashes, cfg.rowsPerBand, cfg.jaccardThreshold)
      .select(col("id_b").as(idCol))
    canonDocs.join(drop, Seq(idCol), "left_anti")
  }

  /** Per-document n-gram NOVELTY against a reference corpus: the
    * fraction of the doc's DISTINCT word n-grams absent from the
    * reference's gram set — the dedup-aware sampling signal ("how much
    * does this doc add that the corpus doesn't already have") behind
    * novelty-weighted selection and crawl-snapshot triage; the dual of
    * [[Dedup.dupNgramCoverage]], which scores overlap WITHIN one corpus.
    *
    * Output: (idCol, n_grams long — distinct grams, n_novel long,
    * novelty double — n_novel/n_grams, NULL when the doc has no grams).
    * Docs with fewer than n tokens keep their row with n_grams = 0.
    *
    * PRECONDITION: `idCol` must be unique in `docs`. Gram sets are
    * collected BY ID, so duplicate ids would pool grams across copies,
    * and the output emits ONE row per distinct id.
    *
    * 100 TB shape: grams shuffle as the shared 60-bit md5 hash, never
    * text (the p27 contract); the reference side collapses to DISTINCT
    * hashes before the membership join (its only corpus-sized shuffle);
    * the doc gram stream is computed ONCE and consumed by ONE
    * aggregation — total and novel counts come out of the same pass
    * over the membership-marked stream (the unfused shape recomputed
    * the scan+shingle+distinct subtree twice and aggregated it twice);
    * the division is one IEEE op of exact integers. */
  def ngramNovelty(docs: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, ngramN: Int = 3): DataFrame = {
    val id = col(s"`$idCol`")
    val grams = Dedup.shingleRows(docs, idCol, textCol, ngramN)
      .select(id, md5Hash60(col("shingle")).as("__g")).distinct()
    // the reference side only contributes its DISTINCT gram set — it
    // needs no id column of its own (a synthetic per-row id keeps the
    // shingle window doc-local; the gram SET is id-invariant)
    val refGrams = Dedup.shingleRows(
        reference.select(monotonically_increasing_id().as("__ref_id"),
          col(s"`$textCol`")),
        "__ref_id", textCol, ngramN)
      .select(md5Hash60(col("shingle")).as("__g")).distinct()
    // LEFT membership join (ref side distinct => no row multiplication),
    // then ONE per-doc aggregation emits both counts
    val per = grams
      .join(refGrams.withColumn("__hit", lit(1)), Seq("__g"), "left")
      .groupBy(id).agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("__novel"))
    docs.select(id).distinct()
      .join(per, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
      .withColumn("n_novel",
        when(col("n_grams") > 0L, coalesce(col("__novel"), lit(0L))))
      .withColumn("novelty",
        when(col("n_grams") > 0L,
          col("n_novel").cast("double") / col("n_grams").cast("double")))
      .select(id, col("n_grams"), col("n_novel"), col("novelty"))
  }
}
