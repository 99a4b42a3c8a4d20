package graft

import graft.operators.PrefixSum
import org.apache.spark.sql.functions._

class PrefixSumSpec extends SparkSpecBase {
  import spark.implicits._

  test("withRunningSums equals the single-reducer window on distinct keys") {
    val df = (1 to 500).map(i => (i.toLong * 3L, (i % 7).toLong, (i % 11).toLong))
      .toDF("k", "x", "y")
      .repartition(13) // scatter before the range exchange
    val got = PrefixSum.withKeyedRunningSums(df, Nil, Seq("k"), Seq("x", "y"))
      .select("k", "cum_x", "cum_y").as[(Long, Long, Long)].collect()
      .map { case (k, x, y) => k -> ((x, y)) }.toMap
    var (cx, cy) = (0L, 0L)
    (1 to 500).foreach { i =>
      cx += (i % 7).toLong; cy += (i % 11).toLong
      val (gx, gy) = got(i.toLong * 3L)
      assert(gx === cx && gy === cy, s"at key ${i * 3}")
    }
  }

  test("withRunningSums stitches offsets correctly across MANY range partitions") {
    // AQE coalesces a 10k-row shuffle to one partition (the right call at
    // this size) — disable coalescing so the multi-partition offset
    // stitching actually runs, the way it would on a corpus-sized frame
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try {
      val df = (1 to 10000).map(i => (i.toLong, 1L)).toDF("k", "x")
      val parts = df.repartitionByRange(col("k")).rdd.getNumPartitions
      assert(parts > 1, "range exchange must fan out with coalescing off")
      val out = PrefixSum.withKeyedRunningSums(df, Nil, Seq("k"), Seq("x"))
      assert(out.filter(col("cum_x") === col("k")).count() === 10000L,
        "cum of all-ones over ascending keys is the rank itself")
    } finally spark.conf.set(key, old)
  }

  test("withRunningSums handles an empty frame and a single row") {
    val empty = Seq.empty[(Long, Long)].toDF("k", "x")
    assert(PrefixSum.withKeyedRunningSums(empty, Nil, Seq("k"), Seq("x")).count() === 0L)
    val one = Seq((5L, 42L)).toDF("k", "x")
    val r = PrefixSum.withKeyedRunningSums(one, Nil, Seq("k"), Seq("x")).head()
    assert(r.getAs[Long]("cum_x") === 42L)
  }

  test("withKeyedRunningSums equals per-group running sums on distinct composite keys") {
    val df = (for (g <- Seq("a", "b", "c"); i <- 1 to 200)
      yield (g, i.toLong * 2L, (i % 5).toLong)).toDF("g", "k", "x")
      .repartition(13)
    val got = PrefixSum.withKeyedRunningSums(df, Seq("g"), Seq("k"), Seq("x"))
      .select("g", "k", "cum_x").as[(String, Long, Long)].collect()
      .map { case (g, k, c) => (g, k) -> c }.toMap
    Seq("a", "b", "c").foreach { g =>
      var c = 0L
      (1 to 200).foreach { i =>
        c += (i % 5).toLong
        assert(got((g, i.toLong * 2L)) === c, s"group $g key ${i * 2}")
      }
    }
  }

  test("withKeyedRunningSums stitches ONE giant group across MANY range partitions") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try {
      // one giant group + one tiny group: the giant group MUST span
      // multiple range partitions (that is the whole point of the keyed
      // variant — a Window.partitionBy(g) would serialize it)
      val df = ((1 to 20000).map(i => ("big", i.toLong, 1L)) ++
        Seq(("tiny", 1L, 1L), ("tiny", 2L, 1L))).toDF("g", "k", "x")
      val parted = df.repartitionByRange(col("g"), col("k"))
      val spread = parted
        .select(col("g"), org.apache.spark.sql.functions.spark_partition_id().as("p"))
        .filter(col("g") === "big").select("p").distinct().count()
      assert(spread > 1, s"giant group must span >1 partitions, spanned $spread")
      val out = PrefixSum.withKeyedRunningSums(df, Seq("g"), Seq("k"), Seq("x"))
      assert(out.filter(col("g") === "big" && col("cum_x") === col("k")).count()
        === 20000L, "cum of all-ones within the group is the in-group rank")
      assert(out.filter(col("g") === "tiny" && col("cum_x") === col("k")).count()
        === 2L)
    } finally spark.conf.set(key, old)
  }

  test("withKeyedRunningSums: multi-column keys and orders, empty frame") {
    val empty = Seq.empty[(String, Long, Long, Long)].toDF("g", "h", "k", "x")
    assert(PrefixSum.withKeyedRunningSums(empty, Seq("g", "h"), Seq("k"),
      Seq("x")).count() === 0L)
    val df = Seq(("g", 1L, 5L, 2L), ("g", 1L, 7L, 3L), ("g", 2L, 1L, 9L))
      .toDF("g", "h", "k", "x")
    val got = PrefixSum.withKeyedRunningSums(df, Seq("g", "h"), Seq("k"), Seq("x"))
      .select("h", "k", "cum_x").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 5L, 2L), (1L, 7L, 5L), (2L, 1L, 9L)))
  }

  test("keyed running sums keep DECIMAL scale exact across the offset stitch") {
    // regression (p165): the offset column is summed twice, so its decimal
    // precision outgrows the local cum's — an uncast add overflows
    // precision 38 and Spark silently re-rounds the sum to scale 8
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try {
      val df = (1 to 5000).map(i => ("g", i.toLong, "0.000000001"))
        .toDF("g", "k", "xs")
        .withColumn("x", col("xs").cast("decimal(25,9)")).drop("xs")
      val out = PrefixSum.withKeyedRunningSums(df, Seq("g"), Seq("k"), Seq("x"))
      val last = out.filter(col("k") === 5000L)
        .select(col("cum_x").cast("string")).head().getString(0)
      // 5000 × 1e-9 exactly — any scale-8 re-round would read 0.00000500
      assert(BigDecimal(last) === BigDecimal("0.000005000"), last)
      val scale = out.schema("cum_x").dataType
        .asInstanceOf[org.apache.spark.sql.types.DecimalType].scale
      assert(scale === 9, s"stitched sum scale must stay 9, got $scale")
    } finally spark.conf.set(key, old)
  }
}
