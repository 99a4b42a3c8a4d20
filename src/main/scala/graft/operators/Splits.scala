package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based dataset splitting and sampling for
  * training-data pipelines (beyond-reference, SURVEY.md §2.4).
  *
  * Everything here is a pure narrow map/filter over a codegen'd md5 of the
  * key column — zero shuffle, zero state, reproducible across runs,
  * engines and cluster sizes. That is exactly what a 100 TB train/val/test
  * split needs:
  *
  *  - the split is a function of (salt, key), so EVERY row of a key lands
  *    in the same split — re-runs, retries and late-arriving rows cannot
  *    leak a key across the train/test boundary;
  *  - changing the salt re-deals the whole assignment (fresh fold);
  *  - sampling by hash threshold is a stable subset: raising the rate
  *    keeps every previously-sampled key (nested samples for scaling-law
  *    curves), unlike `df.sample` whose membership changes per run/seed.
  *
  * Hash contract (shared with the DuckDB oracle, memory: md5 is the only
  * cross-engine-stable hash): bucket = first 15 hex chars of
  * md5("salt:key") as a positive 60-bit integer, mod `nBuckets`.
  */
object Splits {

  /** Default bucket space. 1e6 gives 0.0001% rate granularity while
    * staying far below the 2^60 hash space (bias < 2^-40). */
  val DefaultBuckets = 1000000

  /** The 60-bit hash space of [[hashValue60]]: 2^60. */
  val HashSpace60: Long = 1L << 60

  /** Raw uniform 60-bit hash of (salt, key) — the value [[hashBucket]]
    * reduces mod nBuckets, exposed for order-based selections
    * ([[capPerGroup]]'s rank, prefix pre-thins): thresholding THIS value
    * keeps exactly the low end of the order it defines, which a
    * mod-bucket threshold does not. */
  def hashValue60(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt + ":"), key.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** Uniform pseudo-random bucket in [0, nBuckets) from (salt, key).
    * 15 hex chars = 60 bits, always positive, so `%` == `pmod`. */
  def hashBucket(key: Column, salt: String, nBuckets: Int = DefaultBuckets): Column = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    hashValue60(key, salt) % nBuckets
  }

  /** Assign each row a named split by weighted hash bucketing.
    *
    * `weights` are relative (normalized internally); boundaries are
    * `round(cumFraction * nBuckets)` so they are integers both engines
    * agree on. Adds `splitCol` (and `bucketCol` if given — useful for
    * auditing the assignment or deriving sub-folds downstream).
    */
  def assignSplit(
      df: DataFrame,
      keyCol: String,
      weights: Seq[(String, Double)],
      salt: String,
      splitCol: String = "split",
      bucketCol: Option[String] = None,
      nBuckets: Int = DefaultBuckets): DataFrame = {
    require(weights.nonEmpty, "assignSplit: weights must be non-empty")
    require(weights.forall(_._2 > 0), s"assignSplit: weights must be positive: $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"assignSplit: duplicate split names: ${weights.map(_._1)}")
    val total = weights.map(_._2).sum
    // cumulative integer thresholds; the last is forced to nBuckets so
    // rounding can never leave a bucket unassigned
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c / total * nBuckets))
      .dropRight(1) :+ nBuckets.toLong
    val bucket = hashBucket(col(s"`$keyCol`"), salt, nBuckets)
    val b = bucketCol.map(c => df.withColumn(c, bucket)).getOrElse(df)
    val bucketRef = bucketCol.map(c => col(s"`$c`")).getOrElse(bucket)
    val split = weights.map(_._1).zip(cum).dropRight(1)
      .foldRight(lit(weights.last._1): Column) { case ((name, hi), other) =>
        when(bucketRef < hi, lit(name)).otherwise(other)
      }
    b.withColumn(splitCol, split)
  }

  /** Keep rows whose key hashes below `fraction` of the bucket space.
    * Deterministic and nested: sampleByHash(df, k, 0.01, s) is a subset of
    * sampleByHash(df, k, 0.10, s). Pushed down as a plain filter — at
    * 100 TB the sample never shuffles and prunes before any join/agg. */
  def sampleByHash(
      df: DataFrame,
      keyCol: String,
      fraction: Double,
      salt: String,
      nBuckets: Int = DefaultBuckets): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction out of [0,1]: $fraction")
    df.filter(hashBucket(col(s"`$keyCol`"), salt, nBuckets) < math.round(fraction * nBuckets))
  }

  /** Per-stratum hash sampling: stratum values listed in `fractions` keep
    * their own rate, everything else keeps `defaultFraction`. The common
    * curation move "keep 100% of rare languages, 5% of English" is a
    * single codegen'd filter — no per-stratum jobs, no shuffle. */
  def stratifiedSampleByHash(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double,
      salt: String,
      nBuckets: Int = DefaultBuckets): DataFrame = {
    (fractions.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0 && f <= 1, s"fraction out of [0,1]: $f"))
    val bucket = hashBucket(col(s"`$keyCol`"), salt, nBuckets)
    val threshold = fractions.foldLeft(lit(math.round(defaultFraction * nBuckets)): Column) {
      case (other, (value, f)) =>
        when(col(s"`$strataCol`") === lit(value), lit(math.round(f * nBuckets))).otherwise(other)
    }
    df.filter(bucket < threshold)
  }

  /** Per-row weighted hash sampling: keep each row with probability
    * `weightCol` (clamped to [0,1] — e.g. a quality score), decided by the
    * SAME deterministic (salt, key) hash as [[sampleByHash]]. The
    * quality-weighted corpus downsample in one codegen'd filter: no
    * shuffle, reproducible, and monotone — a row kept at weight w is kept
    * at every w' > w, so re-scoring upward never evicts survivors. A
    * constant weight column degrades to exactly [[sampleByHash]]. */
  def sampleByHashWeighted(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      salt: String,
      nBuckets: Int = DefaultBuckets): DataFrame = {
    // NaN weights drop (keep-nothing), NOT keep-everything: Spark orders
    // NaN above every double, so least(greatest(NaN, 0), 1) would clamp
    // to 1.0 and silently keep every NaN-weighted row
    val raw = col(s"`$weightCol`").cast("double")
    val w = when(isnan(raw), lit(0.0))
      .otherwise(least(greatest(raw, lit(0.0)), lit(1.0)))
    df.filter(hashBucket(col(s"`$keyCol`"), salt, nBuckets) <
      round(w * nBuckets).cast("long"))
  }

  /** Keep at most `maxPerGroup` rows per group, chosen as the rows whose
    * keys hash LOWEST under [[hashValue60]] within the group — the
    * per-source/per-domain quota every web-scale corpus applies.
    * Deterministic: membership is a pure function of (salt, key) ranks,
    * so re-runs and input reordering keep the same rows, and lowering
    * the cap selects a subset of a higher cap's rows for the same salt.
    *
    * 100 TB shape: one window shuffled on the group key; a single giant
    * group serializes its rows into one reducer, so pre-thin such groups
    * first with a PREFIX filter on the same hash —
    * `df.filter(hashValue60(col(key), salt) < (frac * HashSpace60).toLong)`
    * — which keeps exactly the low end of the order this cap ranks by,
    * so thin-then-cap equals cap alone whenever the thinned group still
    * has ≥ maxPerGroup survivors. ([[sampleByHash]] is NOT
    * order-compatible here: its mod-nBuckets threshold keeps a set
    * uncorrelated with the hash-value order.) */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      maxPerGroup: Int,
      salt: String = ""): DataFrame = {
    require(maxPerGroup >= 1, s"maxPerGroup must be >= 1, got $maxPerGroup")
    require(!df.columns.contains("__cap_rn"),
      "column name '__cap_rn' is reserved by capPerGroup")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(s"`$groupCol`"))
      // key tiebreak: duplicate keys (and 60-bit collisions) order stably.
      // NULLS LAST on both: a null key hashes to null, and Spark's
      // ascending default (NULLS FIRST) would hand null-key rows quota
      // slots ahead of every real row — diverging from DuckDB, whose
      // default is NULLS LAST, the sane "real rows first" rank.
      .orderBy(hashValue60(col(s"`$keyCol`"), salt).asc_nulls_last,
        col(s"`$keyCol`").asc_nulls_last)
    df.withColumn("__cap_rn", row_number().over(w))
      .filter(col("__cap_rn") <= maxPerGroup)
      .drop("__cap_rn")
  }

  /** Deterministic global shuffle for training export: assign each row a
    * shard (`hashBucket(key, salt, nShards)`) and a position within the
    * shard (rank of an independently-salted hash, key tiebreak) — the
    * "shuffle once, read sequentially forever" layout every epoch-based
    * trainer wants, reproducible from (salt, nShards) alone. Compose with
    * [[graft.operators.Sink]] partitioned by `shard` and sorted by
    * `shard_pos` to materialize.
    *
    * 100 TB shape: one shuffle on the shard key (the window partitioning);
    * shards are hash-uniform so no shard exceeds ~|rows|/nShards. The two
    * hashes use DIFFERENT salt derivations, so shard assignment and
    * within-shard order are independent draws. */
  def shardForTraining(
      df: DataFrame,
      keyCol: String,
      nShards: Int,
      salt: String = ""): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val reserved = Seq("shard", "shard_pos")
    (reserved intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(s"column name '$c' is reserved by shardForTraining"))
    val key = col(s"`$keyCol`")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(hashValue60(key, salt + ":pos").asc_nulls_last, key.asc_nulls_last)
    df.withColumn("shard", hashBucket(key, salt, nShards))
      .withColumn("shard_pos", row_number().over(w))
  }

  /** Quality-ranked per-group cap: keep the `maxPerGroup` BEST rows of
    * each group by `scoreCol` (desc), not a random quota ([[capPerGroup]]
    * is the unbiased-sample variant; this is the curation variant — "top
    * 10k docs per domain by quality score"). `keyCol` breaks score ties
    * so the kept set is deterministic; NULL scores rank last on both
    * engines (explicit DESC NULLS LAST — DuckDB's DESC default is NULLS
    * FIRST, which would hand null-score rows the quota).
    *
    * 100 TB shape: one window over the group partitioning — the same
    * single-shuffle bound as capPerGroup; for giant groups the same
    * order-compatible pre-thin documented there applies (pre-thin by
    * score threshold, then cap). */
  def keepBestPerGroup(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      keyCol: String,
      maxPerGroup: Int): DataFrame = {
    require(maxPerGroup >= 1, s"maxPerGroup must be >= 1, got $maxPerGroup")
    require(!df.columns.contains("__best_rn"),
      "column name '__best_rn' is reserved by keepBestPerGroup")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(s"`$groupCol`"))
      .orderBy(col(s"`$scoreCol`").desc_nulls_last,
        col(s"`$keyCol`").asc_nulls_last)
    df.withColumn("__best_rn", row_number().over(w))
      .filter(col("__best_rn") <= maxPerGroup)
      .drop("__best_rn")
  }

  /** Contamination-safe train/holdout split: [[assignSplit]] by content
    * hash, then DROP every non-holdout doc sharing >= minHits n-gram
    * shingles with the holdout split
    * ([[Decontaminate.removeContaminated]]). Without this pass a
    * same-corpus split leaks: an exact/near duplicate pair straddles the
    * boundary with probability ~2p(1-p), and the held-out metric then
    * measures memorization, not generalization. Dropping from the TRAIN
    * side (not the holdout) keeps the holdout's sampling distribution
    * intact — the quantity an eval must preserve.
    *
    * 100 TB shape: both stages are the already-audited operators — a
    * zero-shuffle md5 split filter plus the shingle-hash semi-join whose
    * shuffles carry hashes, never text. */
  def leakSafeSplit(docs: DataFrame, idCol: String, textCol: String,
      weights: Seq[(String, Double)], salt: String, holdout: String,
      shingleN: Int = 5, minHits: Long = 1L,
      splitCol: String = "split"): DataFrame = {
    require(weights.exists(_._1 == holdout),
      s"holdout '$holdout' is not one of ${weights.map(_._1)}")
    val assigned = assignSplit(docs, idCol, weights, salt, splitCol)
    val hold = assigned.filter(col(s"`$splitCol`") === holdout)
    val rest = assigned.filter(col(s"`$splitCol`") =!= holdout)
    Decontaminate.removeContaminated(rest, idCol, textCol, hold, textCol,
        shingleN, minHits)
      .unionByName(hold)
  }

  /** PRIORITY sampling (Duffield, Lund & Thorup 2007, "Priority
    * sampling for estimation of arbitrary subset sums"): per group,
    * EXACTLY min(k, group size) rows, weight-biased — row i draws the
    * deterministic md5 uniform u_i ∈ (0,1) and priority q_i = w_i/u_i;
    * the k largest priorities win, and each kept row carries the
    * Horvitz–Thompson estimation weight max(w_i, τ) (τ = the (k+1)-th
    * largest priority), which makes subset-sum estimates over the
    * sample unbiased — the statistically principled upgrade over
    * [[sampleByHashWeighted]]'s per-row Bernoulli keep (which only
    * controls the EXPECTED count). Heavy rows (w ≥ τ·u) are kept with
    * certainty at their true weight; groups at or under k keep
    * everything at weight_est = w. Rows with NULL or non-positive
    * weights are dropped (they carry no sampling mass). Adds
    * `priority` and `weight_est`.
    *
    * Determinism/portability: u = (h + 0.5)/2^60 off the shared 60-bit
    * md5 — every step IEEE-exact in both engines — and q = w/u is one
    * division, so the per-group ranking is engine-identical with no
    * rounding anywhere in the DECISION; only the reported priority is
    * display-rounded by callers. Rows with NULL group or id also drop:
    * a NULL id draws no uniform, and both match the reference protocol
    * (the oracle's per-group τ join drops NULL groups).
    *
    * 100 TB shape: one narrow projection (hash, divide), then the
    * per-group rank is [[PrefixSum.withKeyedRunningSums]] over
    * (−priority, id) — the p167 `curriculumOrder` pattern — so ONE
    * giant group (the realistic per-source sampling call has few,
    * corpus-sized groups) spreads over many range partitions instead
    * of sorting through one window reducer; τ is the rank-(k+1) row,
    * a ≤|groups|-row broadcast joined back onto the k survivors. */
  def prioritySample(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val reserved = Seq("__nq", "__one", "priority", "weight_est")
    (reserved intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(
        s"column name '$c' is reserved by prioritySample"))
    val g = col(s"`$groupCol`")
    val id = col(s"`$idCol`")
    val w = col(s"`$weightCol`")
    val u = (hashValue60(id.cast("string"), s"prio:$salt").cast("double") +
      lit(0.5)) / lit(graft.operators.Sketch.HashSpace)
    val q = w.cast("double") / u
    val base = df
      .filter(g.isNotNull && id.isNotNull &&
        w.isNotNull && w.cast("double") > 0.0)
      .withColumn("priority", q)
      .withColumn("__nq", negate(q))
      .withColumn("__one", lit(1L))
    // (−priority, id): distinct non-null tuples (id unique by contract,
    // and ties in priority break by id) — the keyed-PrefixSum contract
    val ranked = PrefixSum.withKeyedRunningSums(
      base, Seq(groupCol), Seq("__nq", idCol), Seq("__one"))
    val taus = ranked.filter(col("cum___one") === k + 1)
      .select(g.as("__tg"), col("priority").as("__tau"))
    ranked
      .filter(col("cum___one") <= k)
      .join(broadcast(taus), g === col("__tg"), "left")
      .withColumn("weight_est",
        when(col("__tau").isNull, w.cast("double"))
          .otherwise(greatest(w.cast("double"), col("__tau"))))
      .drop("__nq", "__one", "cum___one", "__tg", "__tau")
  }

  /** Temporal train/val/test split per group: train on the past,
    * validate on the near future, test on the far future — the
    * leakage-safe protocol for anything with a time axis (forecasting
    * eval, dedup-drift studies, continual-pretraining ablations), where
    * a hash split would leak future information into training. Cut
    * points are EXACT nearest-rank order statistics of the group's time
    * axis (rank ⌈p·n⌉ via the integer-micros rule); assignment is then
    * VALUE-based (ts <= cut), so rows tied with a cut timestamp all land
    * on the earlier side — at-cut ties can make the train fraction
    * exceed ⌈p·n⌉ (the honest behavior: you cannot put half a timestamp
    * in the future). Rows with NULL ts or NULL group drop; the
    * nearest-rank VALUE at a rank is tiebreak-independent (ties are the
    * same timestamp), so no id tiebreak is needed. Adds `splitCol` with
    * values train/val/test.
    *
    * 100 TB shape: rows collapse to per-(group, ts) counts, ONE
    * [[PrefixSum.withKeyedRunningSums]] scan picks both cuts as
    * nearest-rank cumulative-count rows (a giant group never sorts
    * through one window reducer — the pre-r13 shape), and the
    * |groups|-row cut table broadcasts back onto the data for a pure
    * VALUE comparison. */
  def temporalSplitByGroup(df: DataFrame, groupCol: String, tsCol: String,
      trainPct: Double = 0.8, valPct: Double = 0.1,
      splitCol: String = "split"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 1.0,
      s"need 0 < trainPct, 0 <= valPct, trainPct + valPct < 1; " +
        s"got ($trainPct, $valPct)")
    val trainMicro = math.round(trainPct * 1e6)
    val valMicro = math.round((trainPct + valPct) * 1e6)
    val g = col(s"`$groupCol`")
    val ts = col(s"`$tsCol`")
    val base = df.filter(g.isNotNull && ts.isNotNull)
    val counts = base.groupBy(g.as("__g"), ts.as("__ts"))
      .agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__ts"), Seq("__c"))
    val totals = cum.groupBy(col("__g")).agg(max(col("cum___c")).as("__n"))
    // the distinct ts whose cumulative count spans rank ⌈n·p⌉
    def cutAt(micro: Long, out: String) =
      cum.join(broadcast(totals), Seq("__g"))
        .filter(col("cum___c") >=
            expr(s"(__n * ${micro}L + 999999L) div 1000000L") &&
          col("cum___c") - col("__c") <
            expr(s"(__n * ${micro}L + 999999L) div 1000000L"))
        .select(col("__g"), col("__ts").as(out))
    val cuts = cutAt(trainMicro, "__cut_train")
      .join(cutAt(valMicro, "__cut_val"), Seq("__g"))
    base.join(broadcast(cuts), g === col("__g"))
      .withColumn(splitCol,
        when(ts <= col("__cut_train"), "train")
          .when(ts <= col("__cut_val"), "val")
          .otherwise("test"))
      .drop("__g", "__cut_train", "__cut_val")
  }

  /** Deterministic k-fold cross-validation assignment: adds `foldCol`
    * in [0, k) from the (salt, key) hash — the same zero-shuffle
    * md5 contract as [[assignSplit]], so folds are reproducible across
    * runs, engines and cluster sizes, and re-salting re-deals them.
    * With `groupCol` set, the hash keys on the GROUP value instead
    * (GroupKFold): every row of a group lands in one fold, so
    * near-duplicate or same-source rows cannot straddle a
    * train/validation boundary — the fold-level cousin of
    * [[leakSafeSplit]].
    *
    * 100 TB shape: a pure narrow codegen'd map — no shuffle, no state;
    * fold selection (`fold != i` for train) is a pushed-down filter. */
  def kFoldAssign(df: DataFrame, keyCol: String, k: Int, salt: String,
      foldCol: String = "fold", groupCol: Option[String] = None): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val key = groupCol.map(c => col(s"`$c`")).getOrElse(col(s"`$keyCol`"))
    df.withColumn(foldCol, hashValue60(key, salt) % k)
  }

  /** Neyman-optimal sample allocation (Neyman 1934): split a labeling /
    * eval / audit `budget` across the strata of `strataCol` in
    * proportion to n_h·σ_h — the allocation that minimizes the variance
    * of the stratified estimate of mean(`valueCol`), the principled
    * answer to "how many docs from each source do we send to review?".
    * Output, one row per stratum: (strataCol, n long, sd double —
    * sample standard deviation, NULL-as-0 weight for single-row
    * strata, alloc long — integer allocation summing EXACTLY to
    * `budget` via largest-remainder rounding, ties to the ascending
    * stratum name; NULL when every stratum is constant, i.e. no
    * variance signal exists). The allocation is UNCAPPED: a tiny
    * high-variance stratum can be allocated more rows than it has —
    * clamp downstream if sampling without replacement. Rows with NULL
    * stratum or value drop.
    *
    * Exactness: moments quantize through DECIMAL(25,9) (exact for
    * integer-valued columns); σ is one fixed IEEE tree with a
    * 0-clamped radicand (FP residue of a constant stratum) and a
    * correctly-rounded √; weights re-quantize to DECIMAL(25,9) so
    * their total is order-independent; floors, remainders and the
    * remainder rank are deterministic double comparisons.
    *
    * 100 TB shape: one moment aggregation; everything after runs on
    * the strata-count-sized frame (its rank window orders strata,
    * never data). */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
      budget: Long): DataFrame = {
    require(budget >= 1L, s"budget must be >= 1, got $budget")
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$strataCol`")
    val v = col(s"`$valueCol`").cast("double")
    import org.apache.spark.sql.expressions.Window
    val moments = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(v.cast(dec)).as("__sx"),
        sum((v * v).cast(dec)).as("__sxx"))
      .withColumn("__var", greatest(
        (col("n").cast("double") * col("__sxx").cast("double") -
          col("__sx").cast("double") * col("__sx").cast("double")) /
          (col("n").cast("double") * (col("n") - 1L).cast("double")),
        lit(0.0)))
      .withColumn("sd", when(col("n") > 1L, sqrt(col("__var"))).otherwise(0.0))
      .withColumn("__wq", (col("n").cast("double") * col("sd")).cast(dec))
    val total = moments.agg(
      coalesce(sum(col("__wq")), lit(0).cast(dec)).as("__wtot"))
    val scored = moments.crossJoin(broadcast(total))
      .withColumn("__raw", when(col("__wtot").cast("double") > 0.0,
        lit(budget.toDouble) * col("__wq").cast("double") /
          col("__wtot").cast("double")))
      .withColumn("__base", floor(col("__raw")).cast("long"))
      .withColumn("__rem", col("__raw") - col("__base").cast("double"))
    // strata-count-sized windows: ordering strata, never data
    scored
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__rem").desc, col("__g").cast("string").asc)))
      .withColumn("__left", lit(budget) - sum(col("__base")).over(
        Window.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .select(col("__g").as(strataCol), col("n"), col("sd"),
        when(col("__raw").isNotNull,
          col("__base") + when(col("__rn") <= col("__left"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** Inverse-CDF thresholds for Poisson(1) scaled to the 60-bit hash
    * space: a uniform u in [0, 2^60) maps to weight w = #{t : u >= t},
    * i.e. w = k iff thresholds(k-1) <= u < thresholds(k) (w = count
    * of thresholds at or below u). Computed once in BigDecimal from the
    * alternating series for e^-1 (50-digit precision), so both the
    * Spark CASE ladder and the DuckDB oracle interpolate the SAME exact
    * Long literals. Capped at w = 9: the last bucket carries
    * P(X ≥ 9 | λ=1) ≈ 1.11e-6 of the space, overweighting the deeper
    * tail (P(X > 9) ≈ 1.0e-7) by at most 1e-7 — far below bootstrap
    * noise at any practical nReps. */
  val poisson1Thresholds60: IndexedSeq[Long] = {
    import java.math.{BigDecimal => JBD, MathContext}
    val mc = new MathContext(50)
    // e^-1 = Σ (-1)^j / j!  (alternating, converges fast)
    val eInv = (0 to 45).foldLeft((JBD.ZERO, JBD.ONE)) {
      case ((acc, fact), j) =>
        val f = if (j == 0) JBD.ONE else fact.multiply(new JBD(j), mc)
        val term = JBD.ONE.divide(f, mc)
        (if (j % 2 == 0) acc.add(term, mc) else acc.subtract(term, mc), f)
    }._1
    val space = new JBD(HashSpace60)
    // cdf_k = e^-1 * Σ_{j<=k} 1/j!
    (0 to 8).scanLeft((JBD.ZERO, JBD.ONE)) { case ((sum, fact), j) =>
      val f = if (j == 0) JBD.ONE else fact.multiply(new JBD(j), mc)
      (sum.add(JBD.ONE.divide(f, mc), mc), f)
    }.tail.map { case (partial, _) =>
      eInv.multiply(partial, mc).multiply(space, mc)
        .setScale(0, java.math.RoundingMode.FLOOR).longValueExact()
    }.toIndexedSeq
  }

  /** The Poisson(1) weight of one uniform 60-bit hash value under
    * [[poisson1Thresholds60]] — the CASE ladder both engines share. */
  def poisson1Weight(u: Column): Column =
    poisson1Thresholds60.zipWithIndex.reverse.foldLeft(
      lit(poisson1Thresholds60.size): Column) { case (other, (t, w)) =>
      when(u < t, lit(w)).otherwise(other)
    }

  /** Poisson-bootstrap confidence interval for the per-group mean of
    * `valueCol` (Chamandy et al., "Estimating Uncertainty for Massive
    * Data Streams", Google 2012 — the bootstrap that works on a
    * cluster): each of `nReps` resamples weights every row by an iid
    * Poisson(1) count derived from the deterministic (salt, rep, key)
    * hash — no resample materializes, no driver state, and re-runs
    * reproduce the interval bit-for-bit. Output one row per group:
    * (groupCol, n long — non-null rows, mean double — the point
    * estimate, b_reps long — resamples with nonzero weight, ci_lo,
    * ci_hi doubles — nearest-rank `loMicro`/`hiMicro` quantiles of the
    * resample means). Rows with NULL group or value drop.
    *
    * Exactness: weights are exact small integers from the shared
    * threshold ladder; each w·x product is ONE IEEE multiply quantized
    * to DECIMAL(25,9) (order-independent sums, exact for integer-valued
    * x); each resample mean is one IEEE division; the CI indices are
    * exact integer nearest-rank picks from the sorted resample-mean
    * list.
    *
    * 100 TB shape: the nReps-fold row expansion aggregates map-side to
    * (group, rep) partials before any shuffle (one exchange of
    * group×rep keyed moments); the quantile pick runs on nReps-sized
    * lists per group. Cost scales linearly in nReps — 100–200 reps is
    * the standard operating point. */
  def poissonBootstrapMean(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, salt: String, nReps: Int = 100,
      loMicro: Long = 25000L, hiMicro: Long = 975000L): DataFrame = {
    require(nReps >= 2, s"nReps must be >= 2, got $nReps")
    require(loMicro >= 0L && hiMicro <= 1000000L && loMicro < hiMicro,
      s"need 0 <= loMicro < hiMicro <= 1e6, got ($loMicro, $hiMicro)")
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val base = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), col(s"`$idCol`").as("__k"), v.cast("double").as("__x"))
    val reps = broadcast(
      df.sparkSession.range(nReps.toLong).select(col("id").as("__rep")))
    val u = hashValue60(
      concat(col("__rep").cast("string"), lit(":"), col("__k").cast("string")),
      salt)
    val perRep = base.crossJoin(reps)
      .withColumn("__w", poisson1Weight(u).cast("long"))
      .groupBy(col("__g"), col("__rep"))
      .agg(sum(col("__w")).as("__sw"),
        sum((col("__w").cast("double") * col("__x")).cast(dec)).as("__swx"))
      .select(col("__g"), when(col("__sw") > 0L,
        col("__swx").cast("double") / col("__sw").cast("double")).as("__m"))
    val cis = perRep.filter(col("__m").isNotNull)
      .groupBy(col("__g"))
      .agg(array_sort(collect_list(col("__m"))).as("__arr"))
      .withColumn("__b", size(col("__arr")).cast("long"))
      .select(col("__g"), col("__b").as("b_reps"),
        element_at(col("__arr"), greatest(lit(1L),
          expr(s"(__b * ${loMicro}L + 999999L) div 1000000L")).cast("int"))
          .as("ci_lo"),
        element_at(col("__arr"), greatest(lit(1L),
          expr(s"(__b * ${hiMicro}L + 999999L) div 1000000L")).cast("int"))
          .as("ci_hi"))
    base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        (sum(col("__x").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("mean"))
      .join(cis, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), col("mean"),
        col("b_reps"), col("ci_lo"), col("ci_hi"))
  }

  /** Deterministic curriculum / interleave ordering: rank every row
    * within its group by (score DESC, id ASC), then interleave the
    * groups round-robin — position = (rank−1)·|groups| + group_index —
    * so a training job reading the output in `position` order sees the
    * best examples first AND a balanced source mix at every prefix (the
    * data-ordering step of curriculum learning, Bengio et al. 2009,
    * composed with source interleaving — pure arithmetic, reproducible
    * across runs and engines). Output: (groupCol, idCol, scoreCol,
    * rank_in_group, position longs). NULL group/id/score rows drop
    * (a NULL score has no place in a curriculum — filter upstream).
    *
    * 100 TB shape: the per-group rank is
    * [[PrefixSum.withKeyedRunningSums]] over (−score, id) — a giant
    * source never sorts through one reducer (the exact shape
    * `Window.partitionBy(source)` would serialize) — and the group
    * index table is a |groups|-row broadcast whose own window orders
    * GROUP NAMES, never data. The output is a position COLUMN: writing
    * in that order is the consumer's range-partition-by-position, not a
    * global sort here. */
  def curriculumOrder(df: DataFrame, groupCol: String, idCol: String,
      scoreCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val id = col(s"`$idCol`")
    val s = col(s"`$scoreCol`")
    val base = df.filter(g.isNotNull && id.isNotNull && s.isNotNull)
      .select(g.as("__g"), id.as("__id"), s.as("__s"),
        negate(s.cast("double")).as("__ns"), lit(1L).as("__one"))
    val ranked = PrefixSum.withKeyedRunningSums(
      base, Seq("__g"), Seq("__ns", "__id"), Seq("__one"))
    // group index + count: a |groups|-row frame; the unpartitioned
    // window orders group NAMES (tiny by contract), never data
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("__g"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val gi = base.select(col("__g")).distinct()
      .withColumn("__ng", count(lit(1)).over(wAll))
      .withColumn("__gi",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__g"))).cast("long") - 1L)
    ranked.join(broadcast(gi), Seq("__g"))
      .select(col("__g").as(groupCol), col("__id").as(idCol),
        col("__s").as(scoreCol), col("cum___one").as("rank_in_group"),
        ((col("cum___one") - 1L) * col("__ng") + col("__gi")).as("position"))
  }

  /** Deterministic global shuffle order: shuffle_pos = rank of
    * (md5-hash(salt, id), id) — the reproducible corpus permutation a
    * training run reads instead of a nondeterministic `ORDER BY rand()`
    * (re-runs, retries and engine changes all see the SAME order, and
    * changing the salt re-deals the whole permutation, the
    * [[assignSplit]] philosophy). The id tiebreak makes the order total
    * even across 60-bit hash collisions. Output: (idCol, shuffle_pos
    * long, 0-based, contiguous). NULL ids drop.
    *
    * 100 TB shape: the rank is [[PrefixSum.withKeyedRunningSums]] over the
    * composite (hash, id) — a range exchange plus a broadcast offset
    * table, never `row_number()` over an unpartitioned window (the
    * single-reducer sort a naive shuffle writes). Writing in
    * shuffle_pos order is the consumer's range-partition-by-position. */
  def deterministicShuffle(df: DataFrame, idCol: String, salt: String): DataFrame = {
    val id = col(s"`$idCol`")
    val base = df.filter(id.isNotNull)
      .select(id.as("__id"), hashValue60(id, salt).as("__h"),
        lit(1L).as("__one"))
    PrefixSum.withKeyedRunningSums(base, Nil, Seq("__h", "__id"), Seq("__one"))
      .select(col("__id").as(idCol), (col("cum___one") - 1L).as("shuffle_pos"))
  }

  /** One-sample exact KS of the split hash against U[0, 2⁶⁰) — the
    * self-audit that the md5 bucketing every split/sample/shuffle here
    * rides is actually uniform over THIS key population (a pathological
    * key encoding — constant prefixes hashed after truncation, tiny key
    * sets — shows up as a big D long before a biased split does).
    * D = sup over hashes h of |F_emp(h) − h/2⁶⁰|, both one-sided limits.
    * One row: (n_keys long, ks_stat double — 9-dp rounded, NULL on
    * empty input). NULL keys drop; duplicate keys count once.
    *
    * Determinism: h/2⁶⁰ is one long→double cast (correctly rounded —
    * both engines round the same 60-bit integer) and one
    * exact power-of-two division; F_emp terms are single divisions of
    * exact integers.
    *
    * 100 TB shape: distinct keys collapse to per-hash counts, ONE
    * [[PrefixSum]] scan, one max aggregation — the
    * [[graft.operators.Profile.ksStatistic]] posture against an
    * analytic reference instead of a second sample. */
  def hashUniformityKs(df: DataFrame, keyCol: String, salt: String): DataFrame = {
    val k = col(s"`$keyCol`")
    // distinct KEYS first, hash after: deduping on the hash itself would
    // silently collapse 60-bit collisions and under-count F_emp there
    val counts = df.filter(k.isNotNull)
      .select(k.cast("string").as("__k")).distinct()
      .select(hashValue60(col("__k"), salt).as("__h"))
      .groupBy(col("__h")).agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(counts, Nil, Seq("__h"), Seq("__c"))
    val tot = cum.agg(max(col("cum___c")).as("n_keys"))
    cum.crossJoin(broadcast(tot))
      .withColumn("__fref",
        col("__h").cast("double") / lit(HashSpace60.toDouble))
      .withColumn("__d", greatest(
        abs(col("cum___c").cast("double") / col("n_keys").cast("double") -
          col("__fref")),
        abs((col("cum___c") - col("__c")).cast("double") /
          col("n_keys").cast("double") - col("__fref"))))
      .agg(max(col("n_keys")).as("n_keys"),
        round(max(col("__d")), 9).as("ks_stat"))
  }
}
