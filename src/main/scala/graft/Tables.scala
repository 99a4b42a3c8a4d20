package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared testdata loaders used by the gate queries ([[SparkEntry]]), the
  * bench, and the specs — ONE place that knows about fixture quirks, so the
  * engine and its tests can never drift apart on a testdata regeneration.
  */
object Tables {

  /** Schema memo per parquet path. `spark.read.parquet(path)` pays schema
    * INFERENCE on every call — footer read + file-index listing on the
    * driver, measured 60-80 ms per call at gate scale vs 6-9 ms with an
    * explicit schema — and the registry's queries construct their frames
    * fresh on every bench rep, so the same immutable fixture footer was
    * being re-inferred ~500 times per suite pass (~25-40 s of pure driver
    * time; guide §1.2 order-2 per-task work, here per-QUERY work). A
    * parquet file's schema is metadata, a pure function of the path —
    * passing it explicitly is the production norm (catalog tables carry
    * their schema); nothing about the DATA is cached and every query
    * still computes from the parquet bytes. Keyed by (path, length,
    * mtime), so a file rewritten in place at the same path is re-inferred
    * instead of being read through its old schema.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]()

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val f = new java.io.File(path)
    val sch = schemaCache.computeIfAbsent((path, f.length, f.lastModified),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** events.parquet's `ts` column has shipped in two flavors across testdata
    * generations: TIMESTAMP(NANOS) — which Spark 4 only reads under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (pinned in [[Sessions]]),
    * surfacing as Long nanoseconds — and TIMESTAMP_MICROS (NTZ). Normalize
    * the long flavor to a micros timestamp here (integer division: ns
    * magnitudes overflow double math) and pass time-typed columns through
    * unchanged, so every consumer sees a time-typed `ts` either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(read(spark, dir, "events"), "ts")

  /** Long epoch-nanos -> TIMESTAMP micros; already-time-typed columns are
    * left as-is (TIMESTAMP and TIMESTAMP_NTZ both work downstream).
    */
  def normalizeTs(df: DataFrame, col: String): DataFrame =
    df.schema(col).dataType match {
      case LongType => df.withColumn(col, timestamp_micros(expr(s"`$col` div 1000")))
      case _        => df
    }
}
