package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling" —
  * beyond-reference, SURVEY.md §2.4 family; the reference has no data
  * selection surface at all). Select raw-corpus documents that look like
  * a TARGET corpus: hashed word unigram+bigram features, add-one-smoothed
  * multinomial models of target and raw, per-document importance
  * log-weight
  *
  *   log w(d) = sum over features f: c_d(f) * [ln p_T(f) - ln p_R(f)]
  *
  * and Gumbel-top-k selection (sampling without replacement weighted by
  * w(d), as in the paper) with the Gumbel noise derived from an md5 hash
  * of (salt, id) — deterministic, seedless, reproducible in ANSI SQL.
  *
  * 100 TB shape:
  *  - the feature space is CLOSED by construction (nBuckets hash buckets),
  *    so both models are bounded frames that broadcast into the scoring
  *    join — no corpus-sized model state anywhere;
  *  - feature counting is a map-side-combinable groupBy over the hashed
  *    stream (shuffle O(docs x distinct buckets), never raw n-grams);
  *  - the top-k cut is TakeOrderedAndProject (never a global sort) and
  *    the rank window runs on the k surviving rows only;
  *  - every ln rounds through DECIMAL to `logRoundDp` decimals (libm vs
  *    JVM differ at 1 ulp — the p26/p41 contract), and per-doc weight
  *    sums accumulate in DECIMAL(25,9), so scores are bit-identical in
  *    the DuckDB oracle.
  */
object Dsir {

  /** Hashed unigram+bigram feature stream: (idCol, bucket), one row per
    * feature OCCURRENCE (multiplicity preserved — the multinomial needs
    * counts). Tokenization is the corpus-wide lowercase-whitespace
    * contract of [[Dedup.shingleRows]].
    *
    * ONE tokenization pass, ZERO shuffle: the unigram and bigram streams
    * both come off the in-row token ARRAY (bigrams as a zip of the array
    * with its own shift), so no per-doc window — the former
    * posexplode + Window.partitionBy(id) + lead formulation paid a full
    * corpus-sized Exchange + Sort per call (and featureStream is called
    * twice per importance pass: raw + target) for adjacency the token
    * array already encodes positionally (guide §2.4). Same feature
    * multiset row for row. A shingleRows(1) ∪ shingleRows(2) union would
    * instead tokenize the corpus twice. */
  def featureStream(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, salt: String): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val toks = filter(split(lower(col(s"`$textCol`")), "\\s+"), t => t =!= "")
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))
    df.select(col(s"`$idCol`"),
        explode(concat(toks,
          when(size(toks) >= 2, bigrams)
            .otherwise(array().cast("array<string>")))).as("__f"))
      .select(col(s"`$idCol`"),
        Splits.hashBucket(col("__f"), salt, nBuckets).as("bucket"))
  }

  private def roundLn(x: Column, dp: Int): Column =
    round(log(x).cast("decimal(25,12)"), dp).cast("double")

  /** Per-document importance weights against a target corpus:
    * (idCol, n_features, log_weight). The RAW model is the scored corpus
    * itself (the paper's setting — the raw pool IS what gets scored).
    * Documents with zero features (empty/whitespace text) carry no
    * signal and are absent. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetIdCol: String, targetTextCol: String,
      nBuckets: Int = 4096, salt: String = "dsir", logRoundDp: Int = 9): DataFrame = {
    require(logRoundDp >= 1 && logRoundDp <= 12,
      s"logRoundDp must be in [1,12], got $logRoundDp")
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // the raw stream feeds both the raw model and the per-doc counts; one
    // (id, bucket) count frame serves both, so the corpus tokenizes once
    val docCounts = Stager.stage(
      featureStream(docs, idCol, textCol, nBuckets, salt)
        .groupBy(col(s"`$idCol`"), col("bucket")).agg(count(lit(1)).as("__c")),
      s"dsir_doccounts_$runId")
    val rawCounts = docCounts.groupBy(col("bucket")).agg(sum(col("__c")).as("__cr"))
    // staged: the bounded (<= nBuckets rows) target model feeds BOTH the
    // llr join and the feature-total scalar — unstaged, Catalyst clones
    // the subplan and the target corpus tokenizes twice
    val tgtCounts = Stager.stage(
      featureStream(target, targetIdCol, targetTextCol, nBuckets, salt)
        .groupBy(col("bucket")).agg(count(lit(1)).as("__ct")),
      s"dsir_tgtcounts_$runId")
    val nRaw = rawCounts.agg(sum(col("__cr")).as("__nr"))
    val nTgt = tgtCounts.agg(coalesce(sum(col("__ct")), lit(0L)).as("__nt"))
    // bounded (<= nBuckets rows per side): the model join broadcasts
    val llr = rawCounts.join(tgtCounts, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(nRaw)).crossJoin(broadcast(nTgt))
      .select(col("bucket"),
        (roundLn((coalesce(col("__ct"), lit(0L)) + lit(1L)).cast("double") /
            (col("__nt") + lit(nBuckets.toLong)).cast("double"), logRoundDp)
          - roundLn((coalesce(col("__cr"), lit(0L)) + lit(1L)).cast("double") /
            (col("__nr") + lit(nBuckets.toLong)).cast("double"), logRoundDp)).as("__llr"))
    docCounts.join(broadcast(llr), Seq("bucket"))
      .groupBy(col(s"`$idCol`"))
      .agg(sum(col("__c")).as("n_features"),
        sum((col("__c").cast("double") * col("__llr")).cast("decimal(25,9)"))
          .cast("double").as("log_weight"))
  }

  /** Gumbel-top-k importance resampling: the k documents with the highest
    * log_weight + Gumbel(md5(salt:gum, id)) — i.e. a deterministic sample
    * of k docs without replacement with P(d) proportional to w(d), per
    * the Gumbel-max trick the paper uses. Output
    * (idCol, n_features, log_weight, score, rank), rank 1..k. */
  def resampleTopK(docs: DataFrame, idCol: String, textCol: String,
      target: DataFrame, targetIdCol: String, targetTextCol: String,
      k: Int, nBuckets: Int = 4096, salt: String = "dsir",
      logRoundDp: Int = 9): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val weights = importanceWeights(docs, idCol, textCol,
      target, targetIdCol, targetTextCol, nBuckets, salt, logRoundDp)
    // u in (0,1) from the 60-bit hash; g = -ln(-ln(u)). Each ln rounds
    // through DECIMAL so the hash-noise is engine-portable; the final
    // add is ONE IEEE operation on two identical doubles. The inner
    // rounded ln is floored at 1e-9 (its own rounding grid): a hash that
    // lands within 5e-10 of u = 1 would otherwise round the inner term
    // to ZERO and the outer ln(0) diverges between engines (null vs
    // -inf). The floor caps the Gumbel tail at -ln(1e-9) ~ 20.7 —
    // far above any realistic log-weight spread.
    val u = (Splits.hashValue60(col(s"`$idCol`"), salt + ":gum").cast("double")
      + lit(0.5)) / lit(1152921504606846976.0) // 2^60, exact in binary64
    val g = -roundLn(greatest(-roundLn(u, logRoundDp), lit(1e-9)), logRoundDp)
    val scored = weights.withColumn("score", col("log_weight") + g)
    // TakeOrderedAndProject cut first; the rank window sees only k rows
    val top = scored.orderBy(col("score").desc, col(s"`$idCol`")).limit(k)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(s"`$idCol`"))))
      .select(col(s"`$idCol`"), col("n_features"), col("log_weight"),
        col("score"), col("rank"))
  }
}
