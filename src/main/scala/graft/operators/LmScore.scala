package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** N-gram language-model fluency scoring (beyond-reference, SURVEY.md §2.4):
  * the CCNet/KenLM-style quality filter — train an add-one-smoothed bigram
  * model over a (reference) corpus, then score each document by its mean
  * token log-probability. Gibberish, boilerplate and non-linguistic text
  * score far below fluent prose, making `avg_logp` the standard
  * perplexity-proxy column a pipeline thresholds on. (The reference has no
  * LM of its own; its only quality surface is whatever pandas code the LLM
  * emits, /root/reference/magictables/magictable.py:176-186.)
  *
  * 100 TB shape:
  *  - the vocabulary is a top-V frequency cut (TakeOrderedAndProject — no
  *    full sort) and broadcasts to map tokens to in-vocab/"<unk>" BEFORE
  *    bigram formation, so model size is bounded by construction;
  *  - bigram/context counts are map-side-combinable groupBys over the
  *    token stream (shuffle O(distinct bigrams), not O(tokens));
  *  - scoring joins the document bigram stream against the count tables —
  *    the same matches-not-corpus shuffle shape as BM25 (Search.scala);
  *    the context table (≤ V+1 rows) broadcasts;
  *  - everything is built-in expressions (codegen'd); `ln` is rounded
  *    through DECIMAL to `logRoundDp` decimals because libm vs JVM differ
  *    at 1 ulp (the p26 BM25 contract), so scores are bit-identical in the
  *    DuckDB oracle.
  */
object LmScore {

  /** Exploded (id, __pos, __w) lowercase whitespace token stream with
    * per-document positions — the bigram-ready variant of
    * TextFunctions.termStream (same normalization contract). */
  private def posTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(s"`$idCol`"),
        posexplode(split(lower(coalesce(col(s"`$textCol`"), lit(""))), "\\s+"))
          .as(Seq("__pos", "__w")))
      .filter(col("__w") =!= "")

  /** Top-`vocabSize` terms by corpus frequency: (term, n). Deterministic
    * tie-break (count desc, term asc) so the vocabulary cut is identical
    * across engines and runs. */
  def topVocab(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    graft.functions.TextFunctions.termStream(docs, Seq.empty, textCol)
      .groupBy(col("__term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("__term").asc)
      .limit(vocabSize)
      .select(col("__term").as("term"), col("n"))
  }

  /** (id, __w1, __w2) bigram stream with out-of-vocabulary tokens mapped to
    * "<unk>" — one broadcast join on the token stream, then one doc-keyed
    * window for the `lead` (the shingleRows pipeline shape). */
  private def bigramStream(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val mapped = posTokens(docs, idCol, textCol)
      .join(broadcast(vocab.select(col("term").as("__w"), lit(true).as("__in"))),
        Seq("__w"), "left")
      .select(col(s"`$idCol`"), col("__pos"),
        when(col("__in"), col("__w")).otherwise(lit("<unk>")).as("__wm"))
    val w = Window.partitionBy(col(s"`$idCol`")).orderBy(col("__pos"))
    mapped
      .select(col(s"`$idCol`"), col("__wm").as("__w1"),
        lead(col("__wm"), 1).over(w).as("__w2"))
      .filter(col("__w2").isNotNull)
  }

  /** Train on `train` and score `docs`: per document, the number of bigrams
    * and the mean add-one-smoothed bigram log-probability
    *
    *   avg_logp = mean over bigrams of ln((c(w1,w2) + 1) / (c(w1) + V))
    *
    * where c(w1) counts w1 as a bigram CONTEXT (the row-sum of the bigram
    * table, so probabilities sum to 1 per context) and V is the number of
    * distinct mapped token types in the training stream (vocabulary +
    * "<unk>" if any token fell outside the cut). Documents with fewer than
    * two tokens have no bigrams and are absent (inner semantics — join
    * back against the corpus to keep them, the overlapReport convention).
    *
    * Each ln is rounded to `logRoundDp` decimals through DECIMAL on both
    * engines, and the per-document mean sums those through DECIMAL(25,9)
    * before ONE IEEE division — bit-stable everywhere. (Degenerate edge:
    * an EMPTY training corpus has no types, the smoothed denominator is
    * 0, and every avg_logp comes back null — score against a real
    * reference corpus.) */
  def scoreBigram(docs: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String,
      vocabSize: Int = 10000, logRoundDp: Int = 9): DataFrame =
    bigramLogps(docs, idCol, textCol, train, trainTextCol,
      vocabSize, logRoundDp)
      .groupBy(col(s"`$idCol`"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__logp").cast("decimal(25,9)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_logp"))

  /** The per-bigram scoring stream shared by [[scoreBigram]] and
    * [[minKProbAudit]]: (idCol, __logp) — one row per scored-document
    * bigram carrying its 9-dp-contract add-one log-probability. */
  private def bigramLogps(docs: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String,
      vocabSize: Int, logRoundDp: Int): DataFrame = {
    require(logRoundDp >= 1 && logRoundDp <= 12,
      s"logRoundDp must be in [1,12], got $logRoundDp")
    val reserved = Seq("__w1", "__w2", "__c12", "__c1", "__v", "__logp",
      "__pos", "__w", "__wm", "__in", "__t", "__lm_tid")
    if (reserved.contains(idCol))
      throw new IllegalArgumentException(s"id column name '$idCol' is reserved by scoreBigram")
    (reserved intersect docs.columns).foreach(c =>
      throw new IllegalArgumentException(s"column name '$c' is reserved by scoreBigram"))

    // Stage the two bounded model frames (vocab ≤ V rows; the bigram table
    // ≤ min(train tokens, (V+1)²) rows): without a cut, Catalyst's column
    // pruning specializes every consumer's copy of the training pipeline
    // and the TRAINING CORPUS would be re-scanned once per consumer — the
    // Stager scaladoc's exact scenario. After staging, training costs two
    // corpus scans (vocab count + bigram count) and scoring one.
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val vocab = Stager.stage(topVocab(train, trainTextCol, vocabSize), s"lm_vocab_$runId")
    val tb = bigramStream(train.select(
        monotonically_increasing_id().as("__lm_tid"), col(s"`$trainTextCol`")),
      "__lm_tid", trainTextCol, vocab)
    val big = Stager.stage(
      tb.groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__c12")),
      s"lm_bigrams_$runId")
    // context counts and the type count derive from the BIGRAM TABLE, not
    // the raw stream: c(w1) = row-sum of c(w1,·) and the mapped-type set
    // equals the set of values in either bigram slot — identical numbers,
    // but the training stream's scan/explode/window pipeline appears once
    // in the plan (its exchange is reused across all three consumers)
    // instead of three independent corpus-wide window passes.
    val ctx = big.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"))
    // distinct mapped TYPES in training (bounded by vocabSize + 1): the
    // add-one denominator. Counted over both bigram slots so a token that
    // only ever ends documents still counts as a type.
    val vTypes = big.select(col("__w1").as("__t"))
      .union(big.select(col("__w2").as("__t")))
      .agg(countDistinct(col("__t")).as("__v"))

    bigramStream(docs, idCol, textCol, vocab)
      .join(big, Seq("__w1", "__w2"), "left")
      .join(broadcast(ctx), Seq("__w1"), "left")
      .crossJoin(broadcast(vTypes))
      .withColumn("__logp",
        round(
          log((coalesce(col("__c12"), lit(0L)) + lit(1L)).cast("double") /
              (coalesce(col("__c1"), lit(0L)) + col("__v")).cast("double"))
            .cast("decimal(25,12)"),
          logRoundDp).cast("double"))
      .select(col(s"`$idCol`"), col("__logp"))
  }

  /** Min-k% prob membership audit (Shi et al. 2023, "Detecting
    * Pretraining Data from Large Language Models"): per document, the
    * mean log-probability of its ⌈k%⌉ LEAST-probable bigrams under the
    * [[scoreBigram]] model. The signal: a genuinely novel document has
    * some low-probability outlier tokens, while a document the model has
    * effectively memorized (a duplicate, a benchmark leak, templated
    * boilerplate) is well-modeled even in its WORST k% — so a high
    * min-k score flags membership/contamination where the overall mean
    * ([[scoreBigram]]'s avg_logp) gets diluted by the easy majority.
    * Output: (idCol, n_bigrams long, n_mink long — ⌈k%·n⌉, min_k_logp
    * double). Documents with < 2 tokens have no bigrams and are absent
    * (the scoreBigram convention). kPercent = 100 reproduces avg_logp
    * exactly.
    *
    * Exactness: the per-bigram logps are [[scoreBigram]]'s 9-dp
    * contracted values; the cut ⌈k%·n⌉ is integer-micros arithmetic
    * ((n·kµ + 999999) div 1e6 with kµ = round(k·1e4)); the bottom-m
    * VALUE multiset is deterministic regardless of tie order (tied
    * logps are equal by definition), summed in DECIMAL(25,9), one IEEE
    * division.
    *
    * 100 TB shape: [[scoreBigram]]'s scoring stream (broadcast model
    * joins) plus ONE document-keyed window — partitions are
    * document-sized by construction, never corpus-sized — and a
    * map-side-combinable final aggregation. */
  def minKProbAudit(docs: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String, kPercent: Double = 20.0,
      vocabSize: Int = 10000, logRoundDp: Int = 9): DataFrame = {
    require(kPercent > 0.0 && kPercent <= 100.0,
      s"kPercent must be in (0, 100], got $kPercent")
    val kMicro = math.round(kPercent * 1e4) // percent -> fraction micros
    val lp = bigramLogps(docs, idCol, textCol, train, trainTextCol,
      vocabSize, logRoundDp)
    val byDoc = Window.partitionBy(col(s"`$idCol`"))
    lp.withColumn("__rn", row_number().over(byDoc.orderBy(col("__logp"))))
      .withColumn("__nb", count(lit(1)).over(byDoc))
      .filter(col("__rn") <=
        expr(s"(__nb * ${kMicro}L + 999999L) div 1000000L"))
      .groupBy(col(s"`$idCol`"))
      .agg(max(col("__nb")).as("n_bigrams"),
        count(lit(1)).as("n_mink"),
        (sum(col("__logp").cast("decimal(25,9)")).cast("double") /
          count(lit(1)).cast("double")).as("min_k_logp"))
  }

  /** Self-audit convenience: the corpus audited against its own model —
    * the "which of my documents does my own LM know suspiciously well"
    * pass (intra-corpus duplication / template detection). */
  def minKProbAuditSelf(docs: DataFrame, idCol: String, textCol: String,
      kPercent: Double = 20.0, vocabSize: Int = 10000, logRoundDp: Int = 9): DataFrame =
    minKProbAudit(docs, idCol, textCol, docs, textCol, kPercent,
      vocabSize, logRoundDp)

  /** Self-scoring convenience: train and score on the same corpus (the
    * common "rank my own corpus by fluency" pass). */
  def scoreBigramSelf(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 10000, logRoundDp: Int = 9): DataFrame =
    scoreBigram(docs, idCol, textCol, docs, textCol, vocabSize, logRoundDp)

  /** Train on `train` and score `docs` with an INTERPOLATED KNESER–NEY
    * bigram model (Kneser & Ney 1995; the Chen–Goodman 1999 interpolated
    * form with a fixed absolute discount d = 0.75) — the standard
    * upgrade over [[scoreBigram]]'s add-one smoothing, which
    * over-penalizes seen bigrams in small vocabularies:
    *
    *   P(w2|w1) = max(c(w1,w2) − d, 0)/c(w1)
    *            + (d·N1+(w1·)/c(w1)) · (N1+(·w2)/N1+(··))
    *
    * where N1+(w1·) counts distinct continuations of w1, N1+(·w2)
    * distinct left contexts of w2, and N1+(··) distinct bigram types —
    * the continuation probability ranks words by how many contexts they
    * follow, not raw frequency (the "San Francisco" correction). Unseen
    * contexts back off to the continuation probability alone; a
    * probability of exactly zero (w2 never seen as a continuation)
    * clamps to `eps` before the log (the psi clamp convention). Output:
    * (idCol, n_bigrams, avg_logp — per-document mean of 9-dp-contract
    * ln P, DECIMAL(25,9) sums, one division).
    *
    * Determinism: every P term is a fixed IEEE tree over exact integer
    * casts and the exact literal 0.75 — no libm before the contracted
    * ln. 100 TB shape: [[scoreBigram]]'s exact posture — the model
    * frames (bigram table, context sums, continuation counts) all
    * derive from ONE staged bigram aggregation; scoring is one corpus
    * scan with broadcast model joins. */
  def scoreBigramKN(docs: DataFrame, idCol: String, textCol: String,
      train: DataFrame, trainTextCol: String,
      vocabSize: Int = 10000, discount: Double = 0.75, eps: Double = 1e-12,
      logRoundDp: Int = 9): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0,1), got $discount")
    require(eps > 0.0 && eps < 1e-3, s"eps must be in (0, 1e-3), got $eps")
    require(logRoundDp >= 1 && logRoundDp <= 12,
      s"logRoundDp must be in [1,12], got $logRoundDp")
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val vocab = Stager.stage(topVocab(train, trainTextCol, vocabSize),
      s"lmkn_vocab_$runId")
    val tb = bigramStream(train.select(
        monotonically_increasing_id().as("__lm_tid"), col(s"`$trainTextCol`")),
      "__lm_tid", trainTextCol, vocab)
    val big = Stager.stage(
      tb.groupBy(col("__w1"), col("__w2")).agg(count(lit(1)).as("__c12")),
      s"lmkn_bigrams_$runId")
    val ctx = big.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"),
      count(lit(1)).as("__n1f")) // distinct continuations of w1
    val cont = big.groupBy(col("__w2")).agg(count(lit(1)).as("__n1r"))
    val nbt = big.agg(count(lit(1)).as("__nbt")) // distinct bigram types
    val d = lit(discount)
    val scored = bigramStream(docs, idCol, textCol, vocab)
      .join(big, Seq("__w1", "__w2"), "left")
      .join(broadcast(ctx), Seq("__w1"), "left")
      .join(broadcast(cont), Seq("__w2"), "left")
      .crossJoin(broadcast(nbt))
      .withColumn("__pc",
        coalesce(col("__n1r").cast("double") / col("__nbt").cast("double"),
          lit(0.0)))
      .withColumn("__p",
        when(col("__c1").isNotNull,
          greatest(coalesce(col("__c12"), lit(0L)).cast("double") - d,
            lit(0.0)) / col("__c1").cast("double") +
          (d * col("__n1f").cast("double") / col("__c1").cast("double")) *
            col("__pc"))
        .otherwise(col("__pc")))
      .withColumn("__logp",
        round(log(greatest(col("__p"), lit(eps))).cast("decimal(25,12)"),
          logRoundDp).cast("double"))
    scored.groupBy(col(s"`$idCol`"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("__logp").cast("decimal(25,9)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_logp"))
  }

  /** Self-scoring Kneser–Ney convenience (train = score corpus). */
  def scoreBigramKNSelf(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 10000): DataFrame =
    scoreBigramKN(docs, idCol, textCol, docs, textCol, vocabSize)

  /** Simple Good–Turing adjusted-count table (Good 1953, the Katz-backoff
    * ingredient): from the unigram frequency-of-frequencies N_c, the
    * discounted counts c* = (c+1)·N_{c+1}/N_c for c = 1..kCutoff (Katz
    * applies the discount only below the cutoff — high counts are
    * reliable as-is) plus the c = 0 row carrying the unseen mass
    * p0 = N_1/N (the [[graft.operators.Vocab.vocabCoverageByGroup]]
    * link). Output per c in 0..kCutoff: (c long, n_c long — N_c, the
    * number of distinct types seen exactly c times (at c = 0: NULL —
    * unknowable), n_next long — N_{c+1}, c_star double — NULL where
    * N_c = 0, 0.0 where only N_{c+1} = 0, and p0 at the c = 0 row,
    * p_mass double — c·N_c/N, the total probability mass the raw counts
    * assign to this bucket). Tokens are lowercased whitespace splits.
    *
    * Exactness: every N_c is an exact integer off two aggregations;
    * c_star and p_mass are ONE IEEE division/tree of exact integers.
    *
    * 100 TB shape: one map-side-combinable token count, one
    * count-of-counts aggregation (Zipf-bounded output), one broadcast
    * totals row, one ≤ kCutoff+1-row report — the [[graft.operators
    * .Profile.keySkew]] histogram shape. */
  def goodTuringCounts(docs: DataFrame, textCol: String,
      kCutoff: Int = 5): DataFrame = {
    require(kCutoff >= 1, s"kCutoff must be >= 1, got $kCutoff")
    // staged: the token-count frame feeds the count-of-counts TWICE
    // (N_c and the shifted N_{c+1}) and the totals row — unstaged the
    // corpus tokenization would run three times
    val counts = Stager.stage(docs
      .select(explode(split(lower(coalesce(col(s"`$textCol`"), lit(""))),
        "\\s+")).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__t")).agg(count(lit(1)).as("__c")),
      s"gt_counts_${java.util.UUID.randomUUID().toString.take(8)}")
    val freqOfFreq = counts.groupBy(col("__c")).agg(count(lit(1)).as("__nc"))
    val totals = counts.agg(sum(col("__c")).as("__n"))
    val grid = docs.sparkSession.range(0, kCutoff + 1).select(col("id").as("c"))
    val nc = freqOfFreq.select(col("__c").as("c"), col("__nc"))
    val nNext = freqOfFreq.select((col("__c") - 1L).as("c"),
      col("__nc").as("__nnext"))
    grid.join(broadcast(nc), Seq("c"), "left")
      .join(broadcast(nNext), Seq("c"), "left")
      .crossJoin(broadcast(totals))
      .select(col("c"),
        when(col("c") > 0L, coalesce(col("__nc"), lit(0L))).as("n_c"),
        coalesce(col("__nnext"), lit(0L)).as("n_next"),
        when(col("c") === 0L,
            coalesce(col("__nnext"), lit(0L)).cast("double") /
              col("__n").cast("double"))
          .when(coalesce(col("__nc"), lit(0L)) > 0L,
            (col("c") + 1L).cast("double") *
              coalesce(col("__nnext"), lit(0L)).cast("double") /
              coalesce(col("__nc"), lit(0L)).cast("double"))
          .as("c_star"),
        when(col("c") > 0L,
          (col("c") * coalesce(col("__nc"), lit(0L))).cast("double") /
            col("__n").cast("double")).as("p_mass"))
  }

  /** Conditional bigram entropy H(next | prev) per group — Shannon's
    * printed-English measure (Shannon 1951) as a TEMPLATEDNESS signal:
    * H = −Σ_{a,b} (c(ab)/N)·ln(c(ab)/c(a·)) in nats over each group's
    * within-document word bigrams (lowercased whitespace tokens, the
    * shared toks contract; bigrams never span documents). Low H = the
    * next word is predictable from the previous one — boilerplate,
    * templates, generated filler; high H tracks organic prose. The
    * bigram-level complement of [[graft.operators.TextAudit]]'s
    * per-document signals and the unigram `tokenEntropy`. Output per
    * group: (groupCol, n_bigrams, n_contexts, n_pairs longs — total
    * bigrams, distinct first words, distinct (a,b) pairs,
    * cond_entropy double — NULL only on an empty group, which emits
    * no row). NULL groups drop; docs with < 2 tokens contribute
    * nothing.
    *
    * Determinism contract: c(ab)/N and c(ab)/c(a·) are single
    * divisions of exact integers; each ln passes ln9 (the 9-dp
    * decimal rounding); each term is one multiply quantized to
    * DECIMAL(25,9) before the order-independent sum.
    *
    * 100 TB shape: ONE per-doc window pass builds the bigram stream
    * ([[graft.operators.Dedup.shingleRows]], doc-cardinality keys),
    * rows collapse to per-(group, a, b) counts (map-side combinable),
    * context totals re-aggregate the pair frame, join back on
    * (group, a) — pair-cardinality frames only — and a |groups|-row
    * totals broadcast feeds one final group aggregation. */
  def conditionalEntropy(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val bi = Dedup.shingleRows(docs.filter(g.isNotNull), idCol, textCol, 2,
        carryCols = Seq(groupCol))
      .select(g.as("__g"),
        element_at(split(col("shingle"), " ", 2), 1).as("__a"),
        element_at(split(col("shingle"), " ", 2), 2).as("__b"))
    val pairs = bi.groupBy(col("__g"), col("__a"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val ctx = pairs.groupBy(col("__g"), col("__a"))
      .agg(sum(col("__c")).as("__ca"))
    val totals = pairs.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"))
    pairs.join(ctx, Seq("__g", "__a"))
      .join(broadcast(totals), Seq("__g"))
      .groupBy(col("__g"))
      .agg(max(col("__n")).as("n_bigrams"),
        count(lit(1)).as("n_pairs"),
        countDistinct(col("__a")).as("n_contexts"),
        sum(((col("__c").cast("double") / col("__n").cast("double")) *
          round(log(col("__c").cast("double") / col("__ca").cast("double"))
            .cast("decimal(25,12)"), 9).cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(25, 9))).as("__h"))
      .select(col("__g").as(groupCol), col("n_bigrams"), col("n_contexts"),
        col("n_pairs"),
        negate(col("__h").cast("double")).as("cond_entropy"))
  }
}
