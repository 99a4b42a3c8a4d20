package graft

import graft.operators.Sketch
import org.apache.spark.sql.functions._

class SketchSpec extends SparkSpecBase {
  import spark.implicits._

  test("below k the sketch is exact; duplicates never change it") {
    val df = Seq(("a", "x"), ("a", "y"), ("a", "y"), ("b", "z")).toDF("g", "key")
    val est = Sketch.distinctEstimate(df, "key", "g", k = 8)
      .select("g", "n_minima", "est_distinct").as[(String, Long, Double)]
      .collect().map { case (g, n, e) => g -> ((n, e)) }.toMap
    assert(est("a") === ((2L, 2.0)))
    assert(est("b") === ((1L, 1.0)))
  }

  test("null keys carry no identity and never short the sketch") {
    // a null key's null hash would win a bottom-k slot (NULLS FIRST) but
    // be dropped by collect_list, faking the exact branch at k-1
    val base = spark.range(100).select(lit("g").as("g"), concat(lit("k"), $"id").as("key"))
    val withNull = base.unionAll(Seq(("g", null.asInstanceOf[String])).toDF("g", "key"))
    val a = Sketch.kmvSketch(base, "key", "g", k = 16).select("minima").head().getSeq[Long](0)
    val b = Sketch.kmvSketch(withNull, "key", "g", k = 16).select("minima").head().getSeq[Long](0)
    assert(a === b && a.length === 16)
  }

  test("at k the estimator lands near the true cardinality") {
    val df = spark.range(1000).select(lit("g").as("g"), concat(lit("k"), $"id").as("key"))
      .unionAll(spark.range(100).select(lit("g").as("g"), concat(lit("k"), $"id").as("key")))
    val Seq((n, e)) = Sketch.distinctEstimate(df, "key", "g", k = 64)
      .select("n_minima", "est_distinct").as[(Long, Double)].collect().toSeq
    assert(n === 64L)
    // deterministic hash -> deterministic estimate; KMV stderr ~ 1/sqrt(k-1)
    // = 12.7%, leave 3 sigma
    assert(math.abs(e - 1000.0) / 1000.0 < 0.38, s"estimate $e")
  }

  test("merge of shard sketches equals the sketch of the union") {
    val a = spark.range(500).select((($"id" % 3).cast("string")).as("g"),
      concat(lit("k"), $"id").as("key"))
    val b = spark.range(300, 900).select((($"id" % 3).cast("string")).as("g"),
      concat(lit("k"), $"id").as("key"))
    val merged = Sketch.kmvMerge(
      Sketch.kmvSketch(a, "key", "g", 32), Sketch.kmvSketch(b, "key", "g", 32), "g", 32)
    val whole = Sketch.kmvSketch(a.unionAll(b), "key", "g", 32)
    assert(merged.exceptAll(whole).count() === 0)
    assert(whole.exceptAll(merged).count() === 0)
  }

  test("sharded sketch is shard-count invariant and equals the unsharded sketch") {
    // giant-group shape: one group holds most of the distinct keys
    val df = spark.range(2000).select(
      when($"id" % 10 === 0, "small").otherwise("big").as("g"),
      concat(lit("k"), $"id").as("key"))
    val plain = Sketch.kmvSketch(df, "key", "g", k = 32).orderBy("g")
      .as[(String, Seq[Long])].collect().toSeq
    for (shards <- Seq(1, 4, 17)) {
      val sharded = Sketch.kmvSketchSharded(df, "key", "g", k = 32, shards = shards)
        .orderBy("g").as[(String, Seq[Long])].collect().toSeq
      assert(sharded === plain, s"shards=$shards")
    }
  }

  test("guard rails") {
    val df = Seq(("a", "x")).toDF("g", "key")
    intercept[IllegalArgumentException] { Sketch.kmvSketch(df, "key", "g", 1) }
    intercept[IllegalArgumentException] { Sketch.kmvSketchSharded(df, "key", "g", 1, 4) }
    intercept[IllegalArgumentException] { Sketch.kmvSketchSharded(df, "key", "g", 8, 0) }
  }

  // ------------------------------------------------------------ count-min

  private def cmsFixture = {
    // known per-(group, key) counts, incl. a key shared across groups
    val rows = Seq.tabulate(60)(i => ("ga", s"k${i % 6}")) ++ // 10 each of k0..k5
      Seq.tabulate(20)(i => ("gb", s"k${i % 2}"))             // 10 each of k0,k1
    rows.toDF("g", "key")
  }

  test("CMS never undercounts; exact at generous width; absent key reads 0") {
    val probes = (Seq("k0", "k1", "k2", "k3", "k4", "k5", "absent").map(("ga", _)) ++
      Seq(("gb", "k0"), ("gb", "k1"), ("gb", "absent"))).toDF("g", "key")
    val exact = Map(("ga", "absent") -> 0L, ("gb", "absent") -> 0L) ++
      (0 until 6).map(i => ("ga", s"k$i") -> 10L) ++
      (0 until 2).map(i => ("gb", s"k$i") -> 10L)
    // generous width: 7 keys in 4096 cells x 3 independent rows -> the
    // min over depth is collision-free for this fixed fixture
    val wide = Sketch.cmsEstimate(probes,
      Sketch.cmsSketch(cmsFixture, "key", "g", depth = 3, width = 4096),
      "key", "g", depth = 3, width = 4096)
      .as[(String, String, Long)].collect().map { case (g, k, e) => (g, k) -> e }.toMap
    assert(wide === exact)
    // starved width: collisions guaranteed, but the CM bound still holds
    val narrow = Sketch.cmsEstimate(probes,
      Sketch.cmsSketch(cmsFixture, "key", "g", depth = 2, width = 3),
      "key", "g", depth = 2, width = 3)
      .as[(String, String, Long)].collect().map { case (g, k, e) => (g, k) -> e }.toMap
    assert(exact.forall { case (gk, c) => narrow(gk) >= c })
  }

  test("CMS estimates for a NULL group find the null group's cells (null-safe join)") {
    val rows = (Seq.fill(7)((null.asInstanceOf[String], "k0")) ++
      Seq.fill(3)(("ga", "k0"))).toDF("g", "key")
    val probes = Seq((null.asInstanceOf[String], "k0"), ("ga", "k0")).toDF("g", "key")
    val est = Sketch.cmsEstimate(probes,
      Sketch.cmsSketch(rows, "key", "g", depth = 3, width = 4096),
      "key", "g", depth = 3, width = 4096)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(2)).toMap
    assert(est(None) === 7L)   // a plain === join would undercount this to 0
    assert(est(Some("ga")) === 3L)
  }

  test("CMS merge of shard sketches equals the sketch of the union") {
    val df = cmsFixture.withColumn("__half", abs(hash($"key")) % 2)
    val full = Sketch.cmsSketch(cmsFixture, "key", "g", depth = 3, width = 64)
    val merged = Sketch.cmsMerge(
      Sketch.cmsSketch(df.filter($"__half" === 0).drop("__half"), "key", "g", 3, 64),
      Sketch.cmsSketch(df.filter($"__half" === 1).drop("__half"), "key", "g", 3, 64),
      "g")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))
    assert(full.collect().map(key).toSet === merged.collect().map(key).toSet)
  }

  test("CMS guard rails: reserved names and degenerate shapes") {
    val df = Seq(("a", "x")).toDF("g", "key")
    intercept[IllegalArgumentException] { Sketch.cmsSketch(df, "key", "g", 0, 64) }
    intercept[IllegalArgumentException] { Sketch.cmsSketch(df, "key", "g", 3, 1) }
    intercept[IllegalArgumentException] {
      Sketch.cmsSketch(df.withColumnRenamed("key", "cnt"), "cnt", "g", 3, 64)
    }
    intercept[IllegalArgumentException] {
      Sketch.cmsEstimate(df, df, "key", "est_count", 3, 64)
    }
  }

  test("quantile sketch below k is the whole group: nearest-rank quantiles are exact") {
    // group of 10 values 10..100; nearest-rank: p25 -> rank 3 (30),
    // p50 -> rank 5 (50), p99 -> rank 10 (100), p100 == max
    val df = (1 to 10).map(i => ("g", i.toLong, i * 10L)).toDF("g", "id", "v")
    val out = Sketch.quantileProfile(df, "v", "g", "id", k = 64,
      quantiles = Seq("p25" -> 0.25, "p50" -> 0.5, "p99" -> 0.99, "p100" -> 1.0))
    val r = out.select("n_sample", "p25", "p50", "p99", "p100")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r === ((10L, 30L, 50L, 100L, 100L)))
  }

  test("quantile sketch: merge of disjoint shards is bit-identical to the union's sketch") {
    val df = spark.range(2000).select(
      ($"id" % 3).cast("string").as("g"), $"id".as("id"), ($"id" * 7 % 1000).as("v"))
    val full = Sketch.quantileSketch(df, "v", "g", "id", k = 32)
    val merged = Sketch.quantileMerge(
      Sketch.quantileSketch(df.filter($"id" % 2 === 0), "v", "g", "id", k = 32),
      Sketch.quantileSketch(df.filter($"id" % 2 === 1), "v", "g", "id", k = 32),
      "g", k = 32)
    def key(r: org.apache.spark.sql.Row) =
      r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.toString)
    assert(full.collect().map(key).toMap === merged.collect().map(key).toMap)
  }

  test("quantile sketch at k: estimates land near the true quantiles") {
    // uniform 0..9999 -> true p50 ~ 5000, p90 ~ 9000; k=256 sample,
    // deterministic hash -> deterministic estimate; stderr ~ sqrt(q(1-q)/k)
    // on the CDF, leave generous 5-sigma bands (~±0.16 at p50)
    val df = spark.range(10000).select(lit("g").as("g"), $"id".as("id"), $"id".as("v"))
    val r = Sketch.quantileProfile(df, "v", "g", "id", k = 256,
        quantiles = Seq("p50" -> 0.5, "p90" -> 0.9))
      .select("n_sample", "p50", "p90").as[(Long, Long, Long)].head()
    assert(r._1 === 256L)
    assert(math.abs(r._2 - 5000L) < 1600, s"p50 estimate ${r._2}")
    assert(math.abs(r._3 - 9000L) < 1600, s"p90 estimate ${r._3}")
  }

  test("quantile sketch: null ids and null values carry no measurement") {
    val base = Seq(("g", java.lang.Long.valueOf(1L), java.lang.Long.valueOf(10L)),
      ("g", java.lang.Long.valueOf(2L), java.lang.Long.valueOf(20L)))
    val withNulls = base ++ Seq(
      ("g", null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(99L)),
      ("g", java.lang.Long.valueOf(3L), null.asInstanceOf[java.lang.Long]))
    val a = Sketch.quantileSketch(base.toDF("g", "id", "v"), "v", "g", "id", k = 8)
    val b = Sketch.quantileSketch(withNulls.toDF("g", "id", "v"), "v", "g", "id", k = 8)
    assert(a.select("sample").head().toString === b.select("sample").head().toString)
    intercept[IllegalArgumentException] {
      Sketch.quantileEstimate(a, Seq("p0" -> 0.0))
    }
  }

  test("heavy hitters equal the exact groupBy contract on real shingles") {
    val sh = graft.operators.Dedup.shingleRows(
      testdata("sf0.001", "documents"), "doc_id", "text", 3)
    val got = Sketch.heavyHitters(sh, "shingle", minFraction = 0.0002)
      .select("shingle", "count").as[(String, Long)].collect().toSet
    val n = sh.count()
    val exact = sh.groupBy("shingle").agg(count(lit(1)).as("c"))
      .filter(col("c") * 1000000L >= n * 200L)
      .as[(String, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain heavy shingles")
    assert(got === exact)
  }

  test("heavy hitters are exact under Misra–Gries eviction, any partitioning") {
    // zipf-ish stream: key i appears ~600/i times over 60 keys; summary of
    // 10 counters forces constant eviction; fraction 0.1 keeps (k+1)f > 1
    // STRICTLY (k=9 would be exactly 1: a count of exactly f·N could slip
    // the MG net — the require below rejects it, and must)
    val rows = (1 to 60).flatMap(i => Seq.fill(600 / i)(s"k$i"))
    val rnd = new scala.util.Random(7)
    val shuffled = rnd.shuffle(rows).toDF("key")
    val n = rows.size.toLong
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 1000000L >= n * 100000L }.toMap
    assert(exact.nonEmpty && exact.size < 60, "fixture must have a real cutoff")
    for (parts <- Seq(1, 7, 32)) {
      val got = Sketch.heavyHitters(shuffled.repartition(parts), "key",
          minFraction = 0.1, summarySize = 10)
        .select("key", "count").as[(String, Long)].collect().toMap
      assert(got === exact, s"parts=$parts")
    }
  }

  test("grouped heavy hitters are exact per group under eviction, any partitioning") {
    // group a: zipf-ish over 40 keys; group b: uniform over 6 keys, plus
    // key k1 which is heavy in a but a singleton in b (group isolation)
    val rows = (1 to 40).flatMap(i => Seq.fill(400 / i)(("a", s"k$i"))) ++
      (1 to 6).flatMap(i => Seq.fill(30)(("b", s"u$i"))) :+ (("b", "k1"))
    val shuffled = new scala.util.Random(13).shuffle(rows)
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nA = rows.count(_._1 == "a").toLong
    val nB = rows.count(_._1 == "b").toLong
    val want = truth.filter { case ((g, _), c) =>
      c * 1000000L >= (if (g == "a") nA else nB) * 100000L }
      .map { case ((g, key), c) => (g, key) -> c }
    assert(want.exists(_._1._1 == "b") && want.exists(_._1._1 == "a"))
    assert(!want.contains(("b", "k1")), "k1 must not leak b-side heaviness from a")
    for (parts <- Seq(1, 7, 32)) {
      val got = Sketch.heavyHittersByGroup(
          shuffled.toDF("g", "key").repartition(parts), "g", "key",
          minFraction = 0.1, summarySize = 10)
        .select("g", "key", "count").as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(got === want, s"parts=$parts")
    }
  }

  test("merged summaries bound the candidate set by k, any partition count") {
    // 64 partitions each nominate up to k keys under constant eviction
    // churn; the pre-merge design shipped up to k·64 candidates to the
    // recount — the merged-and-trimmed summary must hold <= k TOTAL while
    // still nominating every true heavy hitter
    val rows = (1 to 200).flatMap(i => Seq.fill(if (i <= 3) 500 else 7)(s"k$i"))
    val shuffled = new scala.util.Random(11).shuffle(rows).toDF("key").repartition(64)
    val k = 12
    val keys = shuffled.select(col("key").cast("string").as("__key"))
    val cands = Sketch.mgCandidates(keys, k, "spec")
    assert(cands.count() <= k, "candidate set must be <= k after the merge trim")
    val n = rows.size.toLong
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * 1000000L >= n * 100000L }.toMap
    assert(exact.nonEmpty && exact.size <= k)
    val got = Sketch.heavyHitters(shuffled, "key", minFraction = 0.1, summarySize = k)
      .select("key", "count").as[(String, Long)].collect().toMap
    assert(got === exact)
  }

  test("grouped heavy hitters stay exact and k-bounded when the counter cap evicts groups") {
    // 50 groups interleaved round-robin so the LRU cap (16 counters ~ 2-3
    // live group summaries) evicts on nearly every row; eviction segments
    // each group's stream, and the per-(group,key) merge must still
    // nominate every qualifying key with <= k candidates per group
    val rows = (0 until 6000).map { i =>
      val g = s"g${i % 50}"
      val key = if ((i / 50) % 10 < 4) "hot" else s"t${(i / 50) % 17}"
      (g, key)
    }
    val df = rows.toDF("g", "key").repartition(7)
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val groupN = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val want = truth.filter { case ((g, _), c) =>
      c * 1000000L >= groupN(g) * 200000L }
      .map { case ((g, key), c) => (g, key) -> c }
    assert(want.nonEmpty, "fixture must contain per-group heavy keys")
    val k = 5
    val keys = df.select(col("g").cast("string").as("__grp"),
      col("key").cast("string").as("__key"))
    val cands = Sketch.mgCandidatesByGroup(keys, k, maxTrackedCounters = 16, "spec")
    val maxPerGroup = cands.groupBy("__grp").agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).as[Long].head()
    assert(maxPerGroup <= k, s"candidates per group must be <= k, got $maxPerGroup")
    val got = Sketch.heavyHittersByGroup(df, "g", "key", minFraction = 0.2,
        summarySize = k, maxTrackedCounters = 16)
      .select("g", "key", "count").as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === want)
  }

  test("heavy hitters guard rails: fraction range and summary-size guarantee") {
    val df = Seq("a", "b").toDF("key")
    intercept[IllegalArgumentException] {
      Sketch.heavyHitters(df, "key", minFraction = 0.0)
    }
    intercept[IllegalArgumentException] {
      // 4 counters can only guarantee fractions above 1/5
      Sketch.heavyHitters(df, "key", minFraction = 0.1, summarySize = 4)
    }
    // null keys carry no occurrence mass on either side of the contract
    val withNulls = Seq(Some("a"), Some("a"), Some("a"), None).toDF("key")
    val got = Sketch.heavyHitters(withNulls, "key", minFraction = 0.5)
      .select("key", "count", "n_total").as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(("a", 3L, 3L)))
  }

  test("hll: raw-branch estimate within 3 sigma; registers capped at 2^p") {
    // 50k distinct keys >> 2.5m (m=4096): the raw harmonic estimator,
    // whose relative standard error is 1.04/sqrt(m) ~ 1.63%
    val df = spark.range(50000)
      .select(lit("g").as("g"), concat(lit("key"), $"id").as("key"))
    val p = 12
    val sk = Sketch.hllSketch(df, "key", "g", p)
    assert(sk.count() <= (1L << p), "register frame exceeded 2^p rows")
    val est = Sketch.hllEstimate(sk, "g", p)
      .select("est_distinct").as[Double].head()
    assert(math.abs(est - 50000.0) / 50000.0 < 3 * 1.04 / math.sqrt(1 << p),
      s"estimate $est out of 3-sigma band around 50000")
  }

  test("hll: linear-counting branch near-exact at tiny cardinalities") {
    val df = spark.range(100)
      .select(lit("g").as("g"), concat(lit("key"), $"id").as("key"))
    val est = Sketch.hllEstimate(Sketch.hllSketch(df, "key", "g", 12), "g", 12)
      .select("est_distinct").as[Double].head()
    // LC error at n=100, m=4096 is well under 1 key on average; duplicates
    // must not move it (idempotent register max)
    assert(math.abs(est - 100.0) < 5.0, s"LC estimate $est far from 100")
    val dup = df.unionAll(df).unionAll(df)
    val est2 = Sketch.hllEstimate(Sketch.hllSketch(dup, "key", "g", 12), "g", 12)
      .select("est_distinct").as[Double].head()
    assert(est2 === est, "duplicates changed the register sketch")
  }

  test("hll: merge of split sketches is bit-identical to the whole-corpus sketch") {
    val all = spark.range(20000)
      .select((($"id" % 3).cast("string")).as("g"),
        concat(lit("key"), $"id").as("key"))
    val a = all.filter($"id" % 2 === 0)
    val b = all.filter($"id" % 2 === 1)
    def regs(df: org.apache.spark.sql.DataFrame): Map[(String, Int), Int] =
      df.select("g", "reg", "rho").as[(String, Int, Int)]
        .collect().map { case (g, r, h) => (g, r) -> h }.toMap
    val whole = regs(Sketch.hllSketch(all, "key", "g", 10))
    val merged = regs(Sketch.hllMerge(
      Sketch.hllSketch(a, "key", "g", 10),
      Sketch.hllSketch(b, "key", "g", 10), "g"))
    assert(merged === whole)
  }

  test("hll: null keys are dropped; p bounds enforced") {
    val withNulls = Seq(("g", Some("a")), ("g", None), ("g", Some("b")))
      .toDF("g", "key")
    val est = Sketch.hllEstimate(Sketch.hllSketch(withNulls, "key", "g", 12), "g", 12)
      .select("est_distinct").as[Double].head()
    assert(math.abs(est - 2.0) < 0.01)
    intercept[IllegalArgumentException] { Sketch.hllSketch(withNulls, "key", "g", 3) }
    intercept[IllegalArgumentException] { Sketch.hllSketch(withNulls, "key", "g", 14) }
  }

  // ------------------------------------------------------- joinSizeEstimate

  test("joinSizeEstimate: exact below k — identical key sets give jaccard 1 and the true join size") {
    // 20 distinct keys on both sides, each 3x on A and 2x on B; k=64 > union
    val a = (1 to 20).flatMap(i => Seq.fill(3)(s"k$i")).toDF("ka")
    val b = (1 to 20).flatMap(i => Seq.fill(2)(s"k$i")).toDF("kb")
    val r = Sketch.joinSizeEstimate(a, "ka", b, "kb", k = 64).head()
    assert(r.getLong(0) === 60L && r.getLong(1) === 40L)
    assert(r.getDouble(2) === 20.0 && r.getDouble(3) === 20.0 && r.getDouble(4) === 20.0)
    assert(r.getLong(5) === 20L && r.getDouble(6) === 1.0)
    assert(r.getDouble(7) === 20.0)
    assert(r.getDouble(8) === 120.0, "20 shared keys x 3 x 2 = the exact join size")
  }

  test("joinSizeEstimate: disjoint key sets give jaccard 0 and zero estimated join rows") {
    val a = (1 to 10).map(i => s"a$i").toDF("k")
    val b = (1 to 10).map(i => s"b$i").toDF("k")
    val r = Sketch.joinSizeEstimate(a, "k", b, "k", k = 64).head()
    assert(r.getLong(5) === 0L && r.getDouble(6) === 0.0 && r.getDouble(8) === 0.0)
  }

  test("joinSizeEstimate: at-k estimates land near truth on a half-overlapping key space") {
    // A = 1..2000, B = 1001..3000 -> union 3000, intersection 1000, J = 1/3
    val a = (1 to 2000).map(i => s"key$i").toDF("k")
    val b = (1001 to 3000).map(i => s"key$i").toDF("k")
    val r = Sketch.joinSizeEstimate(a, "k", b, "k", k = 256).head()
    assert(math.abs(r.getDouble(2) - 2000.0) / 2000.0 < 0.25)
    assert(math.abs(r.getDouble(4) - 3000.0) / 3000.0 < 0.25)
    assert(r.getDouble(6) > 0.15 && r.getDouble(6) < 0.55)
    // single-multiplicity sides: est_join_rows tracks the intersection
    assert(math.abs(r.getDouble(8) - 1000.0) / 1000.0 < 0.5)
  }

  test("joinSizeEstimate: null keys are excluded from rows and sketches; empty side emits no row") {
    val a = Seq("x", "y", null).toDF("k")
    val b = Seq("x", null).toDF("k")
    val r = Sketch.joinSizeEstimate(a, "k", b, "k", k = 8).head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 1L && r.getLong(5) === 1L)
    val empty = Seq.empty[String].toDF("k")
    assert(Sketch.joinSizeEstimate(a, "k", empty, "k", k = 8).count() === 0L)
  }

  test("overlapMatrixEstimate: exact below k; disjoint pairs score zero") {
    val df = (Seq.fill(1)(()).flatMap(_ => Seq(
      ("x", 1L), ("x", 2L), ("x", 3L),
      ("y", 2L), ("y", 3L), ("y", 4L),
      ("z", 9L)))).toDF("g", "k")
    val rows = Sketch.overlapMatrixEstimate(df, "k", "g", k = 8)
      .orderBy("g_a", "g_b").collect()
      .map(r => (r.getAs[String]("g_a"), r.getAs[String]("g_b")) -> r).toMap
    val xy = rows(("x", "y"))
    assert(xy.getAs[Long]("shared_minima") === 2L)
    assert(xy.getAs[Double]("est_union") === 4.0)
    assert(xy.getAs[Double]("est_jaccard") === 0.5)
    assert(xy.getAs[Double]("est_intersection") === 2.0)
    assert(rows(("x", "z")).getAs[Double]("est_jaccard") === 0.0)
    assert(rows(("y", "z")).getAs[Double]("est_intersection") === 0.0)
  }

  test("overlapMatrixEstimate agrees with joinSizeEstimate's jaccard on two groups") {
    val df = ((1 to 300).map(i => ("a", i.toLong)) ++
      (151 to 450).map(i => ("b", i.toLong))).toDF("g", "k")
    val m = Sketch.overlapMatrixEstimate(df, "k", "g", k = 64).head()
    val js = Sketch.joinSizeEstimate(
      df.filter(col("g") === "a").select(col("k")), "k",
      df.filter(col("g") === "b").select(col("k")), "k", k = 64).head()
    assert(m.getAs[Double]("est_jaccard") === js.getAs[Double]("est_jaccard"))
    assert(m.getAs[Double]("est_union") === js.getAs[Double]("est_union"))
  }
}
