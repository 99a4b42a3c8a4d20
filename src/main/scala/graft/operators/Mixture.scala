package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus-mixture sampling (beyond-reference, SURVEY.md
  * §2.4) — the "data recipe" step of every large-scale training pipeline:
  * re-weight sources (languages, domains, crawls) so the training stream
  * sees each source at a chosen rate, downsampling the over-represented
  * ones (weight < 1) and REPEATING the under-represented ones
  * (weight > 1, epochs-per-source a la temperature-mixed corpora).
  *
  * Mechanics: a row with weight w is emitted as ⌈w⌉ candidate copies
  * (`repCol` = 0..⌈w⌉−1); copy i survives iff the [[Splits]] md5 bucket
  * of (salt, i, key) lands below round(min(w−i, 1)·1e6). So w = 2.3
  * yields 2 full copies plus a 30% chance of a third — exactly w copies
  * in expectation — and every decision is a pure function of
  * (salt, rep, key): re-runs, retries, and cluster re-partitioning
  * reproduce the identical mixture, and as with [[Splits.sampleByHash]]
  * the fractional tail is MONOTONE in w (raising a source's weight never
  * drops a previously-kept copy, because thresholds only move up).
  *
  * 100 TB shape: one broadcast-free narrow pass — the weight lookup is a
  * codegen'd CASE over the (small, driver-held) weight map, the repeat
  * fan-out is `explode(sequence)` bounded by ⌈max w⌉, and the keep rule
  * is the same codegen'd md5 filter as the split/sample family. No
  * shuffle anywhere; output size is Σ w_s·|s| by construction.
  *
  * [[temperatureWeights]] derives the per-source weights from source
  * counts: sampling probability q_s ∝ p_s^(1/τ) (τ = 1 keeps natural
  * proportions, τ → ∞ approaches uniform over sources), expressed as a
  * per-EXAMPLE weight w_s ∝ p_s^(1/τ − 1) and normalized so the largest
  * weight equals `maxWeight` (1.0 = pure downsampling; > 1 allows
  * repeats of the rarest sources).
  */
object Mixture {

  /** Emit each row 0..⌈w⌉ times according to its source's mixture weight.
    * Adds `repCol` (int, 0-based copy index). Sources absent from
    * `weights` use `defaultWeight`; weight 0 drops the source. */
  def sampleMixture(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      weights: Map[String, Double],
      salt: String = "",
      defaultWeight: Double = 1.0,
      repCol: String = "mix_rep",
      nBuckets: Int = Splits.DefaultBuckets): DataFrame = {
    (weights.values.toSeq :+ defaultWeight).foreach { w =>
      require(w >= 0 && !w.isNaN && !w.isInfinity,
        s"mixture weights must be finite and >= 0, got $w")
      // repeat fan-out guard: weight w emits ceil(w) candidate copies per
      // row — real recipes run single-digit epochs; 3 orders of magnitude
      // above that is a mis-wired weight, not a mixture, and at corpus
      // scale would explode the output before anyone noticed
      require(w <= 1000,
        s"mixture weight $w would emit ${math.ceil(w).toLong} copies per row; " +
          "weights above 1000 are almost certainly a bug")
    }
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(!df.columns.contains(repCol),
      s"output column '$repCol' already exists in the input")
    (Seq("__mix_w") intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(s"column name '$c' is reserved by sampleMixture"))
    val src = col(s"`$sourceCol`").cast("string")
    val wExpr = weights.foldLeft(lit(defaultWeight): Column) {
      case (other, (s, w)) => when(src === lit(s), lit(w)).otherwise(other)
    }
    val rep = col(s"`$repCol`")
    // (salt, rep, key) bucket — [[Splits.hashBucket]] itself (md5 of
    // "salt:rep:key" — the copy index folds into the key position, byte-
    // identical to folding it into the salt), so each copy draws its own
    // uniform bucket, copy 0 of weight<=1 degrades to exactly the
    // stratifiedSampleByHash decision for that fraction, and any future
    // change to the shared hash contract moves this operator with it
    val bucket = Splits.hashBucket(
      concat(rep.cast("string"), lit(":"), col(s"`$keyCol`").cast("string")),
      salt, nBuckets)
    val threshold = round(least(col("__mix_w") - rep, lit(1.0)) * nBuckets).cast("long")
    df.withColumn("__mix_w", wExpr)
      .filter(col("__mix_w") > 0) // also guards sequence() against stop < start
      .withColumn(repCol, explode(sequence(lit(0), ceil(col("__mix_w")).cast("int") - 1)))
      .filter(bucket < threshold)
      .drop("__mix_w")
  }

  /** Temperature-derived per-source example weights from source counts:
    * w_s ∝ (n_s / N)^(1/τ − 1), scaled so max(w) = `maxWeight`. */
  def temperatureWeights(
      counts: Map[String, Long],
      tau: Double,
      maxWeight: Double = 1.0): Map[String, Double] = {
    require(counts.nonEmpty, "temperatureWeights: counts must be non-empty")
    require(counts.values.forall(_ > 0), s"counts must be positive: $counts")
    require(tau > 0 && !tau.isNaN && !tau.isInfinity, s"tau must be finite and > 0, got $tau")
    require(maxWeight > 0 && !maxWeight.isNaN && !maxWeight.isInfinity,
      s"maxWeight must be finite and > 0, got $maxWeight")
    val total = counts.values.sum.toDouble
    val raw = counts.map { case (s, n) => s -> math.pow(n / total, 1.0 / tau - 1.0) }
    val top = raw.values.max
    raw.map { case (s, w) => s -> w / top * maxWeight }
  }

  /** Subsample `df` WITHOUT replacement so its `keyCol` mix matches the
    * `targetMicro` share recipe exactly, keeping as many rows as the
    * scarcest key allows — "make this crawl's language mix look like
    * the reference corpus", the downsampling-only dual of
    * [[sampleMixture]]'s rate re-weighting. Shares are micro-units
    * (Long, summing to ≤ 1e6; normalization is the caller's business
    * so both engines see the same integer recipe). Keys absent from
    * the recipe (or NULL) drop. Quotas are exact integer arithmetic:
    * T = min_k ⌊n_k·1e6/s_k⌋ (the largest total the scarcest key
    * supports), quota_k = ⌊T·s_k/1e6⌋ ≤ n_k; within a key the quota
    * fills with the smallest (salt, id) hashes — [[Splits.capPerGroup]]'s
    * deterministic rank, so re-runs and re-partitionings keep the SAME
    * rows. Over a FIXED row population, raising a quota only adds rows
    * (hash ranks are stable); NEW rows in a key re-deal that key's
    * uniform sample — smallest-hash-first is a sample, not an append
    * log.
    *
    * Rows with NULL id also drop (a NULL id draws no hash and cannot
    * hold a deterministic rank).
    *
    * 100 TB shape: one count aggregation (broadcast back as a quota
    * CASE literal — key cardinality is a recipe, bounded), then the
    * per-key hash rank is
    * [[graft.operators.PrefixSum.withKeyedRunningSums]] over
    * (hash, id) — recipe keys are LOW cardinality with corpus-sized
    * groups, the exact shape a `Window.partitionBy(key)` would
    * serialize through one reducer — and one pushed-down filter. */
  def matchMixture(
      df: DataFrame,
      keyCol: String,
      targetMicro: Map[String, Long],
      idCol: String,
      salt: String): DataFrame = {
    require(targetMicro.nonEmpty, "matchMixture: empty target recipe")
    require(targetMicro.valuesIterator.forall(_ > 0L),
      s"matchMixture: shares must be positive micro-units, got $targetMicro")
    require(targetMicro.valuesIterator.sum <= 1000000L,
      s"matchMixture: shares exceed 1e6 micro-units: $targetMicro")
    val k = col(s"`$keyCol`")
    val id = col(s"`$idCol`")
    val inRecipe = df.filter(k.isInCollection(targetMicro.keys.toSeq) &&
      id.isNotNull)
    val counts = inRecipe.groupBy(k.as("__k"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the recipe is driver-sized by contract; keys with zero rows force
    // T = 0 (an absent ingredient means NO total satisfies the recipe)
    val t = targetMicro.keys.map { key =>
      counts.getOrElse(key, 0L) * 1000000L / targetMicro(key)
    }.min
    val quotas = targetMicro.map { case (key, s) => key -> t * s / 1000000L }
    val quotaCol = quotas.foldLeft(lit(0L): Column) {
      case (other, (key, q)) => when(k === key, lit(q)).otherwise(other)
    }
    // (hash, id-string): distinct non-null tuples (id unique by
    // contract) — the keyed-PrefixSum order contract
    val base = inRecipe
      .withColumn("__mh", Splits.hashValue60(id, salt))
      .withColumn("__mid", id.cast("string"))
      .withColumn("__one", lit(1L))
    PrefixSum.withKeyedRunningSums(
        base, Seq(keyCol), Seq("__mh", "__mid"), Seq("__one"))
      .filter(col("cum___one") <= quotaCol)
      .drop("__mh", "__mid", "__one", "cum___one")
  }

  /** Epoch replication — UPSAMPLING to a target mix, the complement of
    * [[sampleMixture]]'s downsampling: each key's rows repeat
    * `epochs(key)` times in expectation, the "repeat the high-quality
    * slice 2.5 epochs" recipe every data-mix paper publishes (integer
    * part exact per row; the fractional epoch keeps each row once more
    * iff its seeded md5 uniform < frac — deterministic, reproducible
    * shards, no RNG state). Keys absent from `epochs` pass through at
    * 1 epoch. Output: input columns + `copy` (int, 0-based replica
    * index) — downstream shuffles ([[graft.operators.Splits
    * .deterministicShuffle]]) should key on (id, copy). Rows with NULL
    * id or key drop (the draw and the factor lookup need both).
    *
    * 100 TB shape: a pure projection — the factor map is a literal
    * broadcast into a CASE expression, replication is one
    * explode(sequence(0, reps−1)); no join, no shuffle, no window. */
  def epochReplicate(df: DataFrame, keyCol: String, idCol: String,
      epochs: Map[String, Double], salt: String = "epoch"): DataFrame = {
    require(epochs.nonEmpty, "epochReplicate: epochs must be non-empty")
    epochs.foreach { case (kk, e) =>
      require(e >= 0.0 && e <= 1000.0,
        s"epochs must be in [0, 1000], got $kk -> $e") }
    val key = col(s"`$keyCol`")
    val id = col(s"`$idCol`")
    val eCol = epochs.foldLeft(lit(1.0)) { case (acc, (kk, e)) =>
      when(key.cast("string") === kk, lit(e)).otherwise(acc)
    }
    val u = Splits.hashValue60(concat(key.cast("string"), lit(":"),
      id.cast("string")), salt).cast("double") / lit(1152921504606846976.0)
    df.filter(key.isNotNull && id.isNotNull)
      .withColumn("__er_e", eCol)
      .withColumn("__er_n", floor(col("__er_e")).cast("long") +
        when(u < col("__er_e") - floor(col("__er_e")), 1L).otherwise(0L))
      .filter(col("__er_n") > 0L)
      .select(df.columns.map(c => col(s"`$c`")) :+
        explode(sequence(lit(0), (col("__er_n") - 1L).cast("int")))
          .as("copy"): _*)
  }
}
