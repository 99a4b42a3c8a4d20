package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K-minimum-values (bottom-k) distinct-count sketches (beyond-reference,
  * SURVEY.md §2.4) — the deterministic alternative to HLL: per group, keep
  * the k smallest distinct 60-bit md5 hashes of the key. The classic KMV
  * estimator then reads the count off the k-th minimum: if the group has
  * fewer than k distinct keys the sketch IS the exact answer, otherwise
  * distinct ≈ (k−1)·2^60 / h_k.
  *
  * Why a sketch when one pass could count exactly: the sketch is k longs
  * per group, MERGEABLE by set-union-and-trim — shards/partitions/days
  * sketch independently and combine later without rescanning, which is
  * the 100 TB operating mode (per-shard sketches roll up a corpus-wide
  * cardinality without a corpus-wide shuffle). Unlike HLL/engine-native
  * approx_count_distinct, every step here (md5, sort, slice, one
  * correctly-rounded division) is bit-identical across engines, so the
  * p32 gate hash-matches the DuckDB oracle — a sketch you can AUDIT.
  *
  * Shuffle economics of the build: dedup shuffles (group, hash) pairs —
  * the same volume an exact distinct count pays — then the bottom-k
  * window shuffles the surviving distinct hashes by group. A giant group
  * serializes its distinct hashes into one reducer for the window; shard
  * the input and [[kmvMerge]] the shards when that bites.
  */
object Sketch {

  /** 2^60, the hash space of [[graft.functions.TextFunctions.md5Hash60]]
    * (exact in binary64: one significant bit). */
  val HashSpace: Double = 1152921504606846976.0

  /** Build a per-group KMV sketch: (groupCol, minima array<long> — the at
    * most k smallest distinct hashes of keyCol, ascending). */
  def kmvSketch(df: DataFrame, keyCol: String, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2 (the estimator reads h_k), got $k")
    val g = col(s"`$groupCol`")
    val distinctHashes = df
      .select(g, graft.functions.TextFunctions.md5Hash60(col(s"`$keyCol`").cast("string")).as("__h"))
      // null keys hash to null, which would win a bottom-k slot in the
      // ascending window (NULLS FIRST) yet be dropped by collect_list —
      // shorting minima to k-1 and faking the "exact" branch
      .filter(col("__h").isNotNull)
      .distinct()
    distinctHashes
      .withColumn("__rn", row_number().over(Window.partitionBy(g).orderBy(col("__h"))))
      .filter(col("__rn") <= k)
      .groupBy(g)
      .agg(sort_array(collect_list(col("__h"))).as("minima"))
  }

  /** [[kmvSketch]] for groups whose distinct-hash volume overwhelms one
    * reducer (the giant-group caveat in this object's scaladoc): distinct
    * hashes are first bottom-k'd per (group, shard) — shard = hash mod
    * `shards`, so one group's hashes spread over `shards` reducers — then
    * the at most shards·k survivors are bottom-k'd per group. Equivalent
    * to sketching each shard separately and folding [[kmvMerge]] (every
    * global bottom-k hash survives its shard's local bottom-k), but in
    * one plan with two windows, the second over a shards·k-bounded frame.
    * SketchSpec asserts bit-identity with the unsharded sketch across
    * shard counts. */
  def kmvSketchSharded(df: DataFrame, keyCol: String, groupCol: String,
      k: Int, shards: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2 (the estimator reads h_k), got $k")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val g = col(s"`$groupCol`")
    val distinctHashes = df
      .select(g, graft.functions.TextFunctions.md5Hash60(col(s"`$keyCol`").cast("string")).as("__h"))
      .filter(col("__h").isNotNull)
      .distinct()
      .withColumn("__shard", pmod(col("__h"), lit(shards.toLong)))
    distinctHashes
      .withColumn("__rn", row_number().over(
        Window.partitionBy(g, col("__shard")).orderBy(col("__h"))))
      .filter(col("__rn") <= k)
      .withColumn("__rn2", row_number().over(Window.partitionBy(g).orderBy(col("__h"))))
      .filter(col("__rn2") <= k)
      .groupBy(g)
      .agg(sort_array(collect_list(col("__h"))).as("minima"))
  }

  /** Merge two sketch frames built with the same k (set-union the minima,
    * trim back to the k smallest). Groups present on one side only pass
    * through. */
  def kmvMerge(a: DataFrame, b: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val g = col(s"`$groupCol`")
    a.select(g, col("minima")).unionAll(b.select(g, col("minima")))
      .select(g, explode(col("minima")).as("__h"))
      .distinct()
      .withColumn("__rn", row_number().over(Window.partitionBy(g).orderBy(col("__h"))))
      .filter(col("__rn") <= k)
      .groupBy(g)
      .agg(sort_array(collect_list(col("__h"))).as("minima"))
  }

  /** Read the estimate off a sketch frame: exact `size(minima)` below k,
    * (k−1)·2^60 / h_k at k. Adds n_minima (long) and est_distinct
    * (double; the long→double cast of h_k and the division are both
    * IEEE-correctly-rounded, so the value is engine-portable). */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    sketch
      .withColumn("n_minima", size(col("minima")).cast("long"))
      .withColumn("est_distinct",
        when(col("n_minima") < k, col("n_minima").cast("double"))
          .otherwise(lit((k - 1).toDouble * HashSpace) /
            element_at(col("minima"), k).cast("double")))
  }

  /** Convenience: sketch + estimate in one call. */
  def distinctEstimate(df: DataFrame, keyCol: String, groupCol: String,
      k: Int): DataFrame =
    kmvEstimate(kmvSketch(df, keyCol, groupCol, k), k)

  /** Pre-join cardinality estimate from two KMV sketches (Beyer et al.
    * 2007, "On synopses for distinct-value estimation under multiset
    * operations") — the planner-style "how big is this join going to
    * be?" probe that costs two scans and O(k) state instead of running
    * the join. One row:
    *
    *  - rows_a/rows_b long — exact non-null-key row counts;
    *  - est_distinct_a/b, est_union double — KMV estimates ((k−1)·2⁶⁰ /
    *    h_k; exact below k);
    *  - shared_minima long — union-bottom-k hashes present in BOTH
    *    sketches; est_jaccard = shared / min(k, |union minima|) (the KMV
    *    set-operation rule — EXACT when the union has fewer than k
    *    distinct hashes, because then every sketch is the complete set);
    *  - est_intersection = est_jaccard · est_union;
    *  - est_join_rows = est_intersection · (rows_a/D_a) · (rows_b/D_b) —
    *    the UNIFORM-MULTIPLICITY model (every key appears rows/D times);
    *    correlated multiplicities (skew concentrated on shared keys) make
    *    the true size larger — pair with [[Profile.keySkew]] when that
    *    matters.
    *
    * Empty sides emit no row (there is no sketch to merge). All decisions
    * ride exact integers; every reported double is a correctly-rounded
    * cast or a fixed IEEE tree, so the DuckDB oracle hash-matches.
    *
    * 100 TB shape: each side is one distinct-hash bottom-k (the
    * [[kmvSketch]] shuffle — swap in [[kmvSketchSharded]] for monster
    * key sets); everything after operates on ≤k-element arrays in one-row
    * frames. */
  def joinSizeEstimate(a: DataFrame, keyColA: String,
      b: DataFrame, keyColB: String, k: Int = 64): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    def keyed(df: DataFrame, keyCol: String) = df
      .select(col(s"`$keyCol`").as("__key"))
      .filter(col("__key").isNotNull)
      .withColumn("__g", lit("all"))
    val ka = keyed(a, keyColA)
    val kb = keyed(b, keyColB)
    val sa = kmvSketch(ka, "__key", "__g", k)
    val sb = kmvSketch(kb, "__key", "__g", k)
    val ea = kmvEstimate(sa, k).select(col("minima").as("__ma"),
      col("est_distinct").as("est_distinct_a"))
    val eb = kmvEstimate(sb, k).select(col("minima").as("__mb"),
      col("est_distinct").as("est_distinct_b"))
    val eu = kmvEstimate(kmvMerge(sa, sb, "__g", k), k)
      .select(col("minima").as("__mu"), col("n_minima").as("__nmu"),
        col("est_distinct").as("est_union"))
    val ca = ka.agg(count(lit(1)).as("rows_a"))
    val cb = kb.agg(count(lit(1)).as("rows_b"))
    ca.crossJoin(cb).crossJoin(ea).crossJoin(eb).crossJoin(eu)
      .withColumn("shared_minima",
        size(array_intersect(array_intersect(col("__mu"), col("__ma")),
          col("__mb"))).cast("long"))
      .withColumn("est_jaccard", col("shared_minima").cast("double") /
        least(lit(k.toLong), col("__nmu")).cast("double"))
      .withColumn("est_intersection", col("est_jaccard") * col("est_union"))
      .withColumn("est_join_rows", col("est_intersection") *
        (col("rows_a").cast("double") / col("est_distinct_a")) *
        (col("rows_b").cast("double") / col("est_distinct_b")))
      .select(col("rows_a"), col("rows_b"), col("est_distinct_a"),
        col("est_distinct_b"), col("est_union"), col("shared_minima"),
        col("est_jaccard"), col("est_intersection"), col("est_join_rows"))
  }

  // ------------------------------------------------------------ hyperloglog

  /** HyperLogLog register sketch (Flajolet, Fusy, Gandouet & Meunier
    * 2007): per group, m = 2^p registers; register j holds the max over
    * keys routed to j of rho(suffix) — one-based position of the suffix's
    * leading 1-bit from the top of its (60−p)-bit window, (60−p)+1 for an
    * all-zero suffix. Routing takes the TOP p bits of the shared 60-bit
    * md5 hash ([[graft.functions.TextFunctions.md5Hash60]]), the suffix
    * the remaining bits, so the whole sketch is engine-portable (the
    * DuckDB oracle rebuilds it bit-for-bit; rho reads off the binary
    * string length — integer-exact, no log2 FP edge at powers of two).
    *
    * Frame: (groupCol, reg int, rho int) — only NON-ZERO registers, at
    * most m rows per group. MAX-mergeable ([[hllMerge]]) — the classic
    * union rule, so shards/partitions/streams sketch independently and
    * merge associatively with no precision loss.
    *
    * 100 TB shape: ONE map-side-combinable aggregation over (group, reg)
    * — at most m=2^p tiny rows per group ever shuffle, regardless of key
    * volume; no windows, no driver state. Against [[kmvSketch]]: KMV
    * window-sorts distinct hashes (a per-group bottom-k shuffle of the
    * DISTINCT key set); HLL aggregates raw occurrences straight into
    * registers — the right trade when keys repeat heavily (tokens). */
  def hllSketch(df: DataFrame, keyCol: String, groupCol: String,
      p: Int = 12): DataFrame = {
    require(p >= 4 && p <= 13,
      s"p must be in [4, 13] (2^p registers; 13 keeps the estimator's " +
        s"integer register sum inside a long), got $p")
    val w = 60 - p // suffix width
    val g = col(s"`$groupCol`")
    val h = graft.functions.TextFunctions.md5Hash60(col(s"`$keyCol`").cast("string"))
    df.select(g, h.as("__h"))
      .filter(col("__h").isNotNull)
      .withColumn("__reg", shiftright(col("__h"), w).cast("int"))
      // suffix = low w bits; rho = w - bitlength(suffix) + 1 (w+1 if 0).
      // bitlength via the base-2 string — integer-exact in both engines.
      .withColumn("__suf", col("__h").bitwiseAND(lit((1L << w) - 1L)))
      .withColumn("__rho",
        when(col("__suf") === 0L, lit(w + 1))
          .otherwise(lit(w + 1) - length(conv(col("__suf"), 10, 2))).cast("int"))
      .groupBy(g, col("__reg").as("reg"))
      .agg(max(col("__rho")).as("rho"))
  }

  /** Union two register frames built with the same p: per (group, reg),
    * MAX(rho). Groups or registers on one side only pass through. */
  def hllMerge(a: DataFrame, b: DataFrame, groupCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    a.select(g, col("reg"), col("rho"))
      .unionAll(b.select(g, col("reg"), col("rho")))
      .groupBy(g, col("reg"))
      .agg(max(col("rho")).as("rho"))
  }

  /** Flajolet et al. 2007, Fig. 3 bias-correction constants — ONE
    * definition shared by the batch estimator and the streaming replica
    * ([[graft.streaming.Streams.runningHllDistinct]]), whose parity
    * spec asserts bit-identity. */
  private[graft] def hllAlpha(m: Int): Double =
    if (m >= 128) 0.7213 / (1.0 + 1.079 / m)
    else if (m == 64) 0.709
    else if (m == 32) 0.697
    else 0.673

  /** Scalar twin of [[hllEstimate]]'s arithmetic (same integer harmonic
    * sum, same decimal-rounded linear-counting ln) for per-key JVM
    * consumers — the streaming operator's per-batch read-off. Any
    * change here MUST move [[hllEstimate]] with it; StreamsSpec's
    * stream-equals-batch identity is the tripwire. */
  private[graft] def hllScalarEstimate(p: Int, nNonzero: Long,
      sNonzero: Long): Double = {
    val m = 1 << p
    val w = 60 - p
    val zeros = m - nNonzero
    val s = sNonzero + zeros * (1L << (w + 1))
    val raw = hllAlpha(m) * m.toDouble * m.toDouble *
      ((1L << (w + 1)).toDouble / s.toDouble)
    if (raw <= 2.5 * m && zeros > 0L) {
      // the batch round(log(x).cast(DecimalType(25,12)), 9) contract:
      // valueOf goes through Double.toString exactly like Spark's
      // Decimal(double) constructor
      val ln9 = java.math.BigDecimal.valueOf(math.log(m.toDouble / zeros))
        .setScale(12, java.math.RoundingMode.HALF_UP)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      m.toDouble * ln9
    } else raw
  }

  /** Read the cardinality estimate off a register frame:
    * raw = alpha_m · m² / Σ_j 2^(−M_j) with the small-range
    * linear-counting switch (raw ≤ 2.5m and empty registers present →
    * m·ln(m/V), V = empty-register count). The 32-bit large-range
    * correction does not apply at a 60-bit hash space.
    *
    * Engine-portable arithmetic: the harmonic sum folds as the INTEGER
    * Σ 2^(w+1−M_j) (empty registers contribute 2^(w+1); total ≤ 2^61,
    * exact in a long), so both engines divide the same two exact
    * numbers; ln rounds through the shared 9-dp decimal contract.
    * Output: (groupCol, n_nonzero long, est_distinct double). */
  def hllEstimate(sketch: DataFrame, groupCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 13, s"p must be in [4, 13], got $p")
    val m = 1 << p
    val w = 60 - p
    val g = col(s"`$groupCol`")
    val alpha = hllAlpha(m)
    val lnRounded = (c: Column) =>
      round(log(c).cast(org.apache.spark.sql.types.DecimalType(25, 12)), 9)
        .cast("double")
    sketch
      .groupBy(g)
      .agg(
        count(lit(1)).as("n_nonzero"),
        sum(expr(s"shiftleft(cast(1 as bigint), ${w + 1} - rho)"))
          .as("__s_nonzero"))
      .withColumn("__zeros", lit(m.toLong) - col("n_nonzero"))
      // empty registers: 2^(w+1) each, added exactly
      .withColumn("__s",
        col("__s_nonzero") + col("__zeros") * lit(1L << (w + 1)))
      .withColumn("__raw",
        lit(alpha * m.toDouble * m.toDouble) *
          (lit((1L << (w + 1)).toDouble) / col("__s").cast("double")))
      .withColumn("est_distinct",
        when(col("__raw") <= 2.5 * m && col("__zeros") > 0L,
          lit(m.toDouble) * lnRounded(lit(m.toDouble) / col("__zeros").cast("double")))
          .otherwise(col("__raw")))
      .select(g, col("n_nonzero"), col("est_distinct"))
  }

  // ------------------------------------------------------------ count-min

  /** Counter cell for one (depth-row, key): the seeded 60-bit md5 hash
    * reduced mod width. Seeding by string concat ("cms<d>:<key>") keeps
    * the whole construction reproducible in any engine with md5. */
  private def cmsCell(key: Column, d: Column, width: Int): Column =
    pmod(graft.functions.TextFunctions.md5Hash60(
      concat(lit("cms"), d.cast("string"), lit(":"), key.cast("string"))),
      lit(width.toLong))

  /** Count-min frequency sketch per group, in the exploded layout
    * (groupCol, d, idx, cnt) — at most depth·width cells per group.
    *
    * Why a sketch when groupBy(key).count is one line: the exact count
    * shuffles one record PER DISTINCT KEY; this shuffles at most
    * depth·width cells per group no matter how many keys exist, and the
    * partial aggregation combines map-side, so frequency queries over a
    * 100 TB key space cost a bounded, pre-sizeable shuffle. Sketches are
    * MERGEABLE ([[cmsMerge]]: cells sum) — shards/days sketch
    * independently and roll up without rescanning. Like KMV (and unlike
    * engine-native frequency sketches), every step is md5-deterministic,
    * so the p47 gate hash-matches the DuckDB oracle: a sketch you can
    * AUDIT. Null keys carry no identity and are dropped, as in
    * [[kmvSketch]]. Estimates ([[cmsEstimate]]) overcount on collision,
    * never undercount (classic CM guarantee). */
  def cmsSketch(df: DataFrame, keyCol: String, groupCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    require(!Set("d", "idx", "cnt", "__k").contains(keyCol) &&
      !Set("d", "idx", "cnt", "__k").contains(groupCol),
      s"column names d/idx/cnt/__k are reserved by cmsSketch")
    val g = col(s"`$groupCol`")
    val key = col(s"`$keyCol`")
    df.filter(key.isNotNull)
      .select(g, key.as("__k"),
        explode(array((0 until depth).map(lit(_)): _*)).as("d"))
      .groupBy(g, col("d"), cmsCell(col("__k"), col("d"), width).as("idx"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two CMS frames built with the SAME (depth, width): cells sum. */
  def cmsMerge(a: DataFrame, b: DataFrame, groupCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    a.select(g, col("d"), col("idx"), col("cnt"))
      .unionAll(b.select(g, col("d"), col("idx"), col("cnt")))
      .groupBy(g, col("d"), col("idx"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Point-frequency estimates for a probe frame (groupCol, keyCol):
    * min over the depth counters, 0 where a cell is absent. The sketch
    * side is depth·width·groups cells — typically tiny next to the probe
    * stream; Catalyst/AQE broadcasts it when it fits, so probing is a
    * scan of the probes, not a corpus shuffle. Output adds est_count.
    *
    * depth/width MUST be the values the sketch was BUILT with: a larger
    * probe depth reads rows the sketch never wrote (coalesce 0 → every
    * estimate collapses to 0) and a different width indexes the wrong
    * cells. Cells are never negative, so min-with-0 only appears on a
    * parameter mismatch or a genuinely absent key. */
  def cmsEstimate(probes: DataFrame, sketch: DataFrame, keyCol: String,
      groupCol: String, depth: Int, width: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    val reserved = Set("d", "idx", "cnt", "__sg", "__pd", "__pidx", "est_count")
    require(!reserved.contains(keyCol) && !reserved.contains(groupCol),
      s"column names ${reserved.mkString("/")} are reserved by cmsEstimate")
    val g = col(s"`$groupCol`")
    val key = col(s"`$keyCol`")
    val cells = sketch.select(g.as("__sg"), col("d"), col("idx"), col("cnt"))
    probes
      .select(g, key,
        explode(array((0 until depth).map(lit(_)): _*)).as("__pd"))
      .withColumn("__pidx", cmsCell(key, col("__pd"), width))
      // null-SAFE group match: cmsSketch builds cells for a NULL group
      // (only null KEYS are filtered), so a (null-group, key) probe must
      // find them — plain === would miss and undercount to 0, breaking
      // the CM "never undercount" guarantee
      .join(cells, g <=> col("__sg") && col("__pd") === col("d") &&
        col("__pidx") === col("idx"), "left")
      .groupBy(g, key)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  // ------------------------------------------------------------ quantiles

  /** Per-group quantile sketch: a deterministic uniform sample of at most
    * k rows — the k rows whose salted 60-bit md5 of the ID hashes lowest
    * (a hash-ordered bottom-k is a uniform sample of the rows, the same
    * trick [[kmvSketch]] plays on distinct VALUES). Nearest-rank
    * quantiles read off the sorted sample land within O(1/sqrt(k)) of
    * the true quantile with high probability (Hoeffding on the sample
    * CDF), and — unlike engine-native approx_percentile — every step
    * (md5 order, bottom-k, rank pick) is bit-identical across engines,
    * so the p70 gate hash-matches DuckDB: an auditable quantile sketch.
    *
    * Why a sketch when exact percentile is one line: exact per-group
    * quantiles serialize each group's full value stream into one
    * reducer's sort; the sketch shuffles at most k rows per group with
    * map-side bottom-k combining, and sketches are MERGEABLE
    * ([[quantileMerge]]: union, re-trim) — shards/days sample
    * independently and roll up without rescanning, the 100 TB operating
    * mode. Output: (groupCol, sample: array<struct<h,id,v>> ascending by
    * (h, id) — h first so a merge's re-trim keeps exactly the globally
    * lowest hashes). Rows with a null id or null value carry no
    * identity/measurement and are dropped, as in [[kmvSketch]]. */
  def quantileSketch(df: DataFrame, valueCol: String, groupCol: String,
      idCol: String, k: Int, salt: String = "qs"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = col(s"`$groupCol`")
    df.filter(col(s"`$idCol`").isNotNull && col(s"`$valueCol`").isNotNull)
      .select(g,
        graft.functions.TextFunctions.md5Hash60(
          concat(lit(salt), lit(":"), col(s"`$idCol`").cast("string"))).as("__h"),
        col(s"`$idCol`").cast("string").as("__id"),
        col(s"`$valueCol`").as("__v"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(g).orderBy(col("__h"), col("__id"))))
      .filter(col("__rn") <= k)
      .groupBy(g)
      .agg(sort_array(collect_list(
        struct(col("__h").as("h"), col("__id").as("id"), col("__v").as("v")))).as("sample"))
  }

  /** Merge two sketch frames built with the same (k, salt) over DISJOINT
    * row shards (a row present in both shards would be sampled twice):
    * union the samples, keep the k lowest (h, id). Groups on one side
    * only pass through. */
  def quantileMerge(a: DataFrame, b: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = col(s"`$groupCol`")
    a.select(g, col("sample")).unionAll(b.select(g, col("sample")))
      .select(g, explode(col("sample")).as("__s"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(g).orderBy(col("__s.h"), col("__s.id"))))
      .filter(col("__rn") <= k)
      .groupBy(g)
      .agg(sort_array(collect_list(col("__s"))).as("sample"))
  }

  /** Read nearest-rank quantiles off a sketch frame: for each (name, q)
    * the sample value at rank ⌈q·n⌉, computed integer-exactly as
    * (n·qµ + 999999) div 1e6 with qµ = round(q·1e6) — no float-ceil
    * off-by-one, identical in any engine (the [[graft.operators.Dedup
    * .jaccardPairsPrefix]] threshold rule). Adds n_sample (long) and one
    * column per quantile, typed like the value column. */
  def quantileEstimate(sketch: DataFrame, quantiles: Seq[(String, Double)]): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (n, q) =>
      require(q > 0.0 && q <= 1.0, s"quantile $n must be in (0,1], got $q") }
    val vals = sort_array(transform(col("sample"), s => s.getField("v")))
    val base = sketch
      .withColumn("n_sample", size(col("sample")).cast("long"))
      .withColumn("__vs", vals)
    quantiles.foldLeft(base) { case (acc, (name, q)) =>
      val qMicro = math.round(q * 1e6)
      acc.withColumn(name, element_at(col("__vs"),
        expr(s"cast((n_sample * ${qMicro}L + 999999L) div 1000000L as int)")))
    }.drop("__vs")
  }

  /** Convenience: sketch + quantile read-off in one call, sample column
    * dropped (the profile shape the p70 gate serves). */
  def quantileProfile(df: DataFrame, valueCol: String, groupCol: String,
      idCol: String, k: Int, quantiles: Seq[(String, Double)],
      salt: String = "qs"): DataFrame =
    quantileEstimate(quantileSketch(df, valueCol, groupCol, idCol, k, salt), quantiles)
      .drop("sample")

  // ------------------------------------------------------------ heavy hitters
  /** EXACT heavy hitters — every key with count >= minFraction·N — without
    * shuffling the long tail. The naive plan groupBy-counts EVERY distinct
    * key (a corpus-vocabulary-sized shuffle: at 100 TB, billions of
    * singleton keys cross the wire to be discarded by the HAVING). Here a
    * per-partition Misra–Gries summary (FOCS 1982; `summarySize` counters,
    * decrement-all on overflow) nominates candidates map-side with ZERO
    * corpus shuffle, then the partition summaries are MERGED down to ONE
    * k-sized summary before the recount (mergeable summaries, Agarwal et
    * al. PODS 2012): sum the nominated counters per key, subtract the
    * (k+1)-th largest merged estimate d from all, keep the > 0 survivors —
    * at most k candidates TOTAL, independent of partition count. The
    * guarantee is the weight-destruction argument: each decrement-all
    * destroys k+1 units of count mass, the final subtraction destroys at
    * least (k+1)·d (the top k+1 merged counters each lose d), and at most
    * N units exist — so any key's total underestimate is <= N/(k+1), and
    * every key with true count > N/(k+1) survives with estimate > d
    * (enforced by the (k+1)·fraction > 1 require). An exact recount
    * restricted to the candidate set then makes the output exact and
    * deterministic: partitioning can change WHICH extra candidates are
    * nominated, never the final rows.
    *
    * Output: (keyCol, count, n_total), count >= ceil(minFraction·N) in
    * integer-micros arithmetic (count·1e6 >= N·round(f·1e6) — the same
    * no-float-ceil rule as the prefix joins).
    *
    * 100 TB shape: one narrow scan per pass (summaries, recount) over the
    * staged key stream; the summary-merge shuffle moves only nominated
    * (key, counter) rows (<= k per partition), the (k+1)-th largest is a
    * distributed TakeOrdered (k+1 longs on the driver), and the recount
    * joins against <= k candidate keys — broadcast below the 2^20 bound,
    * shuffle-join (AQE's call) above it, so no driver-side set ever
    * scales with partition count. The summary pass is mapPartitions (off
    * codegen) but holds k counters and does O(1) amortized work per row —
    * each decrement-all cancels k prior increments. */
  def heavyHitters(df: DataFrame, keyCol: String, minFraction: Double,
      summarySize: Int = 0): DataFrame = {
    require(minFraction > 0.0 && minFraction <= 1.0,
      s"minFraction must be in (0,1], got $minFraction")
    val fMicro = math.round(minFraction * 1e6)
    require(fMicro >= 1L,
      s"minFraction $minFraction rounds to 0 micros — the integer-micros " +
        "threshold contract needs >= 1e-6")
    // auto-k must clear the guarantee for the MICRO-QUANTIZED fraction the
    // output filter actually applies: ceil(1/minFraction) is not enough
    // when rounding shrinks f (e.g. 6.25e-6 -> 6µ needs k > 1e6/6, not
    // 1/6.25e-6 = 160k)
    val k = if (summarySize > 0) summarySize else (1000000L / fMicro + 1L).toInt
    require((k + 1).toLong * fMicro > 1000000L,
      s"summarySize $k cannot guarantee fraction $minFraction " +
        s"(Misra–Gries catches count > N/(k+1): need (k+1)·fraction > 1)")
    val spark = df.sparkSession
    import spark.implicits._
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // staged: the key stream feeds the summary pass, the total and the recount
    val keys = Stager.stage(
      df.select(col(s"`$keyCol`").cast("string").as("__key"))
        .filter(col("__key").isNotNull),
      s"hh_keys_$runId")
    val candidates = mgCandidates(keys, k, runId)
    val total = keys.groupBy().agg(count(lit(1)).as("n_total"))
    // <= k candidate keys: broadcast when that is sanely small, otherwise
    // leave the join strategy to AQE (a 2^20+-key broadcast would strain
    // driver/executor memory for no win over a shuffle join)
    val candSide = if (k <= (1 << 20)) broadcast(candidates) else candidates
    keys.join(candSide, Seq("__key"))
      .groupBy(col("__key"))
      .agg(count(lit(1)).as("count"))
      .crossJoin(broadcast(total)) // 1-row frame: a broadcast dim, not a blow-up
      .filter(col("count") * 1000000L >= col("n_total") * fMicro)
      .select(col("__key").as(keyCol), col("count"), col("n_total"))
  }

  /** The candidate half of [[heavyHitters]], separated so specs can audit
    * the <= k bound directly: per-partition Misra–Gries summaries, counter
    * sums per key, minus the (k+1)-th largest sum — at most k rows. */
  private[graft] def mgCandidates(keys: DataFrame, k: Int, runId: String): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val summaries = keys.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { key =>
        counters.get(key) match {
          case Some(c) => counters(key) = c + 1L
          case None if counters.size < k => counters(key) = 1L
          case None => // decrement-all; the new key's single count cancels too
            val dead = List.newBuilder[String]
            counters.keysIterator.foreach { kk =>
              val c = counters(kk) - 1L
              if (c == 0L) dead += kk else counters(kk) = c
            }
            dead.result().foreach(counters.remove)
        }
      }
      counters.iterator
    }.toDF("__key", "__cnt")
    // staged: the merged estimates feed both the TakeOrdered d and the
    // trim filter — unstaged, the summary pass would run twice
    val merged = Stager.stage(
      summaries.groupBy(col("__key")).agg(sum(col("__cnt")).as("__est")),
      s"hh_merged_$runId")
    // d = the (k+1)-th largest merged estimate: distributed TakeOrdered,
    // k+1 longs on the driver (bounded by the require'd k, never by the
    // partition count)
    val top = merged.orderBy(col("__est").desc).limit(k + 1)
      .select(col("__est")).as[Long].collect()
    val d = if (top.length == k + 1) top.min else 0L
    merged.filter(col("__est") > d).select(col("__key"))
  }

  /** [[heavyHitters]] PER GROUP: every (group, key) with count >=
    * minFraction of ITS GROUP's occurrence mass — per-domain boilerplate
    * / per-source template detection, where a corpus-relative cut would
    * drown small sources. Same shape, with two group-dimension bounds the
    * flat operator doesn't need:
    *
    *  - the partition pass keeps an independent Misra–Gries summary per
    *    group but caps TOTAL tracked counters at `maxTrackedCounters`,
    *    evicting the least-recently-touched group's summary into the
    *    output stream when the cap bites — partition memory is
    *    O(maxTrackedCounters) no matter how many groups a partition sees.
    *    Eviction splits a group's partition stream into segments, and the
    *    union of segment summaries still nominates every qualifying key:
    *    a key with frequency >= f over the group has frequency >= f in at
    *    least one segment (averaging), and counter mass is EMITTED on
    *    eviction, never destroyed.
    *  - the segment summaries are merged per (group, key) and trimmed per
    *    group by the (k+1)-th largest merged estimate (row_number over
    *    the summary-sized frame — never the corpus), the same
    *    weight-destruction argument as [[heavyHitters]] applied within
    *    each group's n_g — so the candidate set is <= k PER GROUP.
    *
    * The exact recount then joins candidate occurrences with no broadcast
    * hint: candidates scale with k·n_groups, so AQE broadcasts when they
    * are small and falls back to a shuffle join when the group dimension
    * is large (the old unconditional broadcast was the one driver-side
    * bottleneck in this family). Group and key evaluate as strings in the
    * summary pass (the Dataset encoding); output preserves the string
    * forms. */
  def heavyHittersByGroup(df: DataFrame, groupCol: String, keyCol: String,
      minFraction: Double, summarySize: Int = 0,
      maxTrackedCounters: Int = 1 << 20): DataFrame = {
    require(minFraction > 0.0 && minFraction <= 1.0,
      s"minFraction must be in (0,1], got $minFraction")
    val fMicro = math.round(minFraction * 1e6)
    require(fMicro >= 1L,
      s"minFraction $minFraction rounds to 0 micros — the integer-micros " +
        "threshold contract needs >= 1e-6")
    val k = if (summarySize > 0) summarySize else (1000000L / fMicro + 1L).toInt
    require((k + 1).toLong * fMicro > 1000000L,
      s"summarySize $k cannot guarantee fraction $minFraction " +
        s"(Misra–Gries catches count > N_group/(k+1): need (k+1)·fraction > 1)")
    require(k <= maxTrackedCounters,
      s"maxTrackedCounters ($maxTrackedCounters) must admit one full " +
        s"summary of $k counters")
    val spark = df.sparkSession
    import spark.implicits._
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val keys = Stager.stage(
      df.select(col(s"`$groupCol`").cast("string").as("__grp"),
          col(s"`$keyCol`").cast("string").as("__key"))
        .filter(col("__grp").isNotNull && col("__key").isNotNull),
      s"hhg_keys_$runId")
    val candidates = mgCandidatesByGroup(keys, k, maxTrackedCounters, runId)
    val totals = keys.groupBy(col("__grp")).agg(count(lit(1)).as("n_total"))
    keys.join(candidates, Seq("__grp", "__key")) // <= k per group; AQE picks the strategy
      .groupBy(col("__grp"), col("__key"))
      .agg(count(lit(1)).as("count"))
      .join(totals, Seq("__grp")) // one row per group; AQE broadcasts
      .filter(col("count") * 1000000L >= col("n_total") * fMicro)
      .select(col("__grp").as(groupCol), col("__key").as(keyCol),
        col("count"), col("n_total"))
  }

  /** The candidate half of [[heavyHittersByGroup]], separated so specs
    * can audit the <= k-per-group bound and the eviction path directly. */
  private[graft] def mgCandidatesByGroup(keys: DataFrame, k: Int,
      maxTrackedCounters: Int, runId: String): DataFrame = {
    val spark = keys.sparkSession
    import spark.implicits._
    val summaries = keys.as[(String, String)].mapPartitions { it =>
      // access-order map: iteration head = least-recently-touched group
      val perGroup = new java.util.LinkedHashMap[
        String, scala.collection.mutable.HashMap[String, Long]](16, 0.75f, true)
      var tracked = 0L
      val out = scala.collection.mutable.Queue.empty[(String, String, Long)]
      def evictEldest(): Unit = {
        val eldest = perGroup.keySet().iterator().next()
        val cs = perGroup.remove(eldest)
        tracked -= cs.size
        cs.foreach { case (kk, c) => out.enqueue((eldest, kk, c)) }
      }
      def step(g: String, key: String): Unit = {
        var counters = perGroup.get(g)
        if (counters == null) {
          counters = scala.collection.mutable.HashMap.empty[String, Long]
          perGroup.put(g, counters)
        }
        counters.get(key) match {
          case Some(c) => counters(key) = c + 1L
          case None if counters.size < k =>
            counters(key) = 1L
            tracked += 1L
            while (tracked > maxTrackedCounters && perGroup.size() > 1)
              evictEldest()
          case None =>
            val dead = List.newBuilder[String]
            counters.keysIterator.foreach { kk =>
              val c = counters(kk) - 1L
              if (c == 0L) dead += kk else counters(kk) = c
            }
            val d = dead.result()
            tracked -= d.size
            d.foreach(counters.remove)
        }
      }
      new Iterator[(String, String, Long)] {
        private var flushed = false
        def hasNext: Boolean = {
          while (out.isEmpty && it.hasNext) {
            val (g, key) = it.next()
            step(g, key)
          }
          if (out.isEmpty && !flushed) {
            flushed = true
            // entry iteration, NOT get(): with accessOrder=true a get()
            // reorders the access list mid-iteration (CME)
            val es = perGroup.entrySet().iterator()
            while (es.hasNext) {
              val e = es.next()
              e.getValue.foreach { case (kk, c) => out.enqueue((e.getKey, kk, c)) }
            }
            perGroup.clear()
          }
          out.nonEmpty
        }
        def next(): (String, String, Long) = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          out.dequeue()
        }
      }
    }.toDF("__grp", "__key", "__cnt")
    val merged = Stager.stage(
      summaries.groupBy(col("__grp"), col("__key"))
        .agg(sum(col("__cnt")).as("__est")),
      s"hhg_merged_$runId")
    // per-group trim: subtract the (k+1)-th largest merged estimate of the
    // group (row_number over the SUMMARY frame — bounded by nominations,
    // never corpus-sized); groups with <= k merged keys keep everything
    val win = Window.partitionBy(col("__grp"))
      .orderBy(col("__est").desc, col("__key"))
    val dPerGroup = merged.withColumn("__rk", row_number().over(win))
      .filter(col("__rk") === k + 1)
      .select(col("__grp"), col("__est").as("__d"))
    merged.join(dPerGroup, Seq("__grp"), "left")
      .filter(col("__est") > coalesce(col("__d"), lit(0L)))
      .select(col("__grp"), col("__key"))
  }

  /** KMV-estimated pairwise key-overlap matrix across groups — the
    * scale path of [[Profile.sourceOverlap]]/[[Profile.keyOverlap]]:
    * one bottom-k sketch per group, then every pair's union/Jaccard/
    * intersection estimates from O(k) array arithmetic (Beyer et al.
    * 2007, the [[joinSizeEstimate]] rules applied per pair). Output per
    * unordered group pair: (g_a, g_b, n_minima_a, n_minima_b,
    * shared_minima longs, est_distinct_a, est_distinct_b, est_union,
    * est_jaccard, est_intersection doubles). est_jaccard = shared
    * union-bottom-k hashes / min(k, |union minima|) — EXACT below k.
    *
    * 100 TB shape: the corpus is touched ONCE by the per-group
    * distinct-hash bottom-k ([[kmvSketch]]; swap [[kmvSketchSharded]]
    * in for monster groups); the |groups|²/2 pair frame carries only
    * ≤k-element arrays. */
  def overlapMatrixEstimate(df: DataFrame, keyCol: String,
      groupCol: String, k: Int, shards: Int = 1): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    // shards > 1: a monster group's distinct-hash bottom-k spreads over
    // `shards` reducers first (bit-identical result — SketchSpec)
    val sk = if (shards > 1) kmvSketchSharded(df, keyCol, groupCol, k, shards)
      else kmvSketch(df, keyCol, groupCol, k)
    val a = sk.select(col(s"`$groupCol`").as("g_a"), col("minima").as("__ma"))
    val b = sk.select(col(s"`$groupCol`").as("g_b"), col("minima").as("__mb"))
    val pairs = a.crossJoin(b).filter(col("g_a") < col("g_b"))
      .withColumn("__union",
        slice(array_sort(array_union(col("__ma"), col("__mb"))), 1, k))
      .withColumn("__shared", size(array_intersect(
        array_intersect(col("__union"), col("__ma")), col("__mb"))).cast("long"))
    def est(minima: org.apache.spark.sql.Column) =
      when(size(minima) < k, size(minima).cast("double"))
        .otherwise(lit((k - 1).toDouble * HashSpace) /
          element_at(minima, k).cast("double"))
    pairs.select(col("g_a"), col("g_b"),
      size(col("__ma")).cast("long").as("n_minima_a"),
      size(col("__mb")).cast("long").as("n_minima_b"),
      col("__shared").as("shared_minima"),
      est(col("__ma")).as("est_distinct_a"),
      est(col("__mb")).as("est_distinct_b"),
      est(col("__union")).as("est_union"),
      (col("__shared").cast("double") /
        least(lit(k.toLong), size(col("__union")).cast("long"))
          .cast("double")).as("est_jaccard"),
      ((col("__shared").cast("double") /
        least(lit(k.toLong), size(col("__union")).cast("long"))
          .cast("double")) * est(col("__union"))).as("est_intersection"))
  }
}
