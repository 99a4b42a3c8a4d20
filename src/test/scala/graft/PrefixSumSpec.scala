package graft

import graft.operators.PrefixSum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

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

  test("a global scan plans no unpartitioned window and stitches DOUBLE and DECIMAL offsets") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try {
      // halves and 1e-9 steps: every partial sum is exact, so any lost,
      // doubled or misplaced partition offset shows as a wrong value
      val df = (1 to 5000).map(i => (i.toLong, i * 0.5, "0.000000001")).toDF("k", "d", "xs")
        .withColumn("x", col("xs").cast("decimal(25,9)")).drop("xs")
      val out = PrefixSum.withKeyedRunningSums(df, Nil, Seq("k"), Seq("d", "x"))
      // WindowExec warns while the physical plan is made, at the collect
      val warns = warnings("org.apache.spark.sql.execution.window")(out.collect())
      assert(warns.isEmpty, warns.mkString("\n"))
      val plan = out.queryExecution.optimizedPlan
      val windows = plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      assert(windows.nonEmpty, "the per-partition running sums stay windows")
      assert(windows.forall(_.partitionSpec.nonEmpty), plan.treeString)
      val got = out.select("k", "cum_d", "cum_x").as[(Long, Double, BigDecimal)].collect()
      assert(got.length === 5000)
      got.foreach { case (k, d, x) =>
        assert(d === k * (k + 1) / 4.0, s"cum_d at $k")
        assert(x === BigDecimal(k) * BigDecimal("0.000000001"), s"cum_x at $k")
      }
      assert(out.schema("cum_x").dataType
        .asInstanceOf[org.apache.spark.sql.types.DecimalType].scale === 9)
    } finally spark.conf.set(key, old)
  }

  test("a global scan's offsets over 20,000 partition totals are exact and in partition order") {
    // the totals of a 20k-partition range exchange, shuffled: the offsets
    // scan must order them by partition id and walk them in linear time
    // (running the whole operator at 20k partitions costs minutes of
    // task scheduling, none of it in the offsets)
    val p = 20000
    val totals = spark.range(p).select(col("id").cast("int").as("__psid"),
        lit(2L).as("__t_k"), (col("id") * 0.5).as("__t_d"),
        when(col("id") % 3 === 0, lit(null)).otherwise(lit(BigDecimal("0.000000001")))
          .cast("decimal(35,9)").as("__t_x"))
      .repartition(7)
    val types = totals.schema.fields.toSeq.tail.map(f => f.name.stripPrefix("__t_") -> f.dataType)
    val got = PrefixSum.globalOffsets(totals, types)
      .select("__psid", "__o_k", "__o_d", "__o_x").as[(Int, Long, Double, BigDecimal)].collect()
    assert(got.map(_._1).sorted.toSeq === (0 until p))
    got.foreach { case (i, k, d, x) =>
      assert(k === 2L * i, s"__o_k at $i")
      assert(d === i.toLong * (i - 1) / 4.0, s"__o_d at $i")
      assert(x === BigDecimal(i - (i + 2) / 3) * BigDecimal("0.000000001"), s"__o_x at $i")
    }
    assert(PrefixSum.globalOffsets(totals, types).schema.map(_.dataType) === IntegerType +: types.map(_._2))
  }
}
