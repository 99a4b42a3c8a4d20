package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-engineering utilities (SURVEY.md §4 / the 100 TB rules): skew
  * salting and bucketed co-located joins. AQE's skew-join handling covers
  * sort-merge joins automatically; these cover the cases it doesn't —
  * skewed AGGREGATION keys, broadcast-inelegible skewed joins, and
  * shuffle-free repeated joins via bucketing.
  */
object Scale {

  /** Session conf key shared by the driver-local forks (connected
    * components, BPE merge rounds, logistic training): inputs at or below
    * this many rows run the iterative loop on the driver, larger ones as
    * distributed rounds. Default 2^16 rows, a few MB of model-sized data. */
  val DriverLocalMaxRows = "spark.graft.driverLocalMaxRows"

  def driverLocalMaxRows(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(DriverLocalMaxRows).map(_.toLong).getOrElse(1L << 16)

  /** Re-aggregatable aggregate spec: partial(x) then final over partials.
    * sum/count/min/max compose; avg is expressed as sum+count upstream. */
  sealed abstract class ReAgg(val fn: String)
  case object SumAgg extends ReAgg("sum")
  case object CountAgg extends ReAgg("count")
  case object MinAgg extends ReAgg("min")
  case object MaxAgg extends ReAgg("max")

  /** Two-stage salted aggregation for skewed grouping keys: stage 1 groups
    * by (key, salt) — the hot key's rows spread over `saltBuckets`
    * reducers — stage 2 combines the partials per key. Both stages are
    * map-side combinable; correctness needs every aggregate to be
    * re-aggregatable (sum of sums, max of maxes, SUM of counts).
    */
  def saltedAggregate(
      df: DataFrame,
      keyCols: Seq[String],
      aggs: Seq[(String, ReAgg)],
      saltBuckets: Int = 16): DataFrame = {
    require(saltBuckets > 0)
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val partialAggs = aggs.map { case (c, agg) =>
      val col0 = col(s"`$c`")
      (agg match {
        case SumAgg => sum(col0)
        case CountAgg => count(col0)
        case MinAgg => min(col0)
        case MaxAgg => max(col0)
      }).as(s"__p_${agg.fn}_$c")
    }
    val partial = salted
      .groupBy((keyCols.map(c => col(s"`$c`")) :+ col("__salt")): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    val finalAggs = aggs.map { case (c, agg) =>
      val p = col(s"`__p_${agg.fn}_$c`")
      (agg match {
        case SumAgg => sum(p)
        case CountAgg => sum(p) // count of counts = sum
        case MinAgg => min(p)
        case MaxAgg => max(p)
      }).as(s"${agg.fn}_$c")
    }
    partial.groupBy(keyCols.map(c => col(s"`$c`")): _*)
      .agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Salted equi-join for a skewed big side against a small (but not
    * broadcast-eligible) right side: big rows get a random salt in
    * [0, saltBuckets); every right row is replicated once per salt value,
    * so the join key becomes (key, salt) and the hot key's rows spread
    * across saltBuckets reducers instead of one. Right-side cost is
    * |right| × saltBuckets — use only when that stays small relative to
    * the skewed partition it breaks up.
    *
    * The salt varies PER ROW (monotonic id), not just per input
    * partition: a hot key concentrated in one input partition — the
    * normal case when the input is range-partitioned or sorted by the
    * key — would otherwise get one salt value and still land on one
    * reducer. A nondeterministic salt is safe in a JOIN (unlike a write):
    * every row joins the same replicated right rows whichever salt it
    * draws, so retries cannot change the result. */
  def saltedJoin(
      big: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      how: String = "inner",
      saltBuckets: Int = 8): DataFrame = {
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
        "left_anti", "leftanti").contains(how.toLowerCase),
      s"saltedJoin: '$how' would surface unmatched right rows once per salt replica")
    val b = big.withColumn("__salt",
      pmod(hash(keys.map(c => col(s"`$c`")) :+
        (spark_partition_id() + monotonically_increasing_id()): _*), lit(saltBuckets)))
    val r = right.withColumn("__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    b.join(r, keys :+ "__salt", how).drop("__salt")
  }

  /** Register a table bucketed + sorted by join keys: subsequent equi-joins
    * between tables bucketed the same way plan WITHOUT a shuffle (verified
    * in ScaleSpec by asserting no Exchange in the physical plan). This is
    * the cluster answer to "the same big join runs every day". */
  def registerBucketed(
      df: DataFrame,
      tableName: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit = {
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$tableName`")
    // without a persistent metastore the catalog forgets the table between
    // sessions while its managed location persists — clear it explicitly
    val warehouse = java.net.URI.create(
      df.sparkSession.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = java.nio.file.Paths.get(warehouse, tableName.toLowerCase)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
  }
}
