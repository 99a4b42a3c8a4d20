package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Regression guard for the two-flavor events fixture (long-nanos vs
  * TIMESTAMP_MICROS ts) — the round-8 trap where the engine handled both but
  * a spec hard-coded one flavor. Both flavors are written as real parquet and
  * re-read, so the whole loader path is exercised, not just the type switch.
  * (Spark can't WRITE TIMESTAMP(NANOS); a plain INT64 column surfaces as
  * LongType exactly like a nanos column does under nanosAsLong=true, which is
  * the branch under test.)
  */
class TablesSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmpDir(): String = {
    val d = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "tables-spec").toAbsolutePath
    d.toFile.deleteOnExit()
    d.toString
  }

  private val micros = Seq(
    (1700000000000000L, "click", 1.0),
    (1700000060000000L, "view", 2.0))

  test("events loader converts long-nanos ts to a micros timestamp") {
    val dir = tmpDir()
    micros.map { case (us, et, v) => (us * 1000L, et, v) }
      .toDF("ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    val got = ev.select(unix_micros($"ts")).as[Long].collect().sorted
    assert(got === micros.map(_._1).sorted.toArray)
  }

  test("events loader passes TIMESTAMP_NTZ ts through unchanged") {
    val dir = tmpDir()
    micros.toDF("us", "event_type", "value")
      .select(timestamp_micros($"us").cast(TimestampNTZType).as("ts"),
        $"event_type", $"value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampNTZType)
    assert(ev.count() === micros.size)
    // and the streaming helper (the round-8 failure site) analyzes fine
    val out = graft.streaming.Streams.windowedAgg(
      ev, windowLen = "1 hour", watermark = "2 hours")
    assert(out.count() > 0)
  }

  test("events loader passes session-zoned TIMESTAMP ts through unchanged") {
    val dir = tmpDir()
    micros.toDF("us", "event_type", "value")
      .select(timestamp_micros($"us").as("ts"), $"event_type", $"value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.select(unix_micros($"ts")).as[Long].collect().sorted ===
      micros.map(_._1).sorted.toArray)
  }

  test("read re-infers the schema of a parquet file rewritten at the same path") {
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "s")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.read(spark, dir, "t").schema.fieldNames.toSeq === Seq("id", "s"))
    Seq((2.5, true, "b")).toDF("x", "flag", "s")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.read(spark, dir, "t")
    assert(again.schema.fieldNames.toSeq === Seq("x", "flag", "s"))
    assert(again.as[(Double, Boolean, String)].collect().toSeq === Seq((2.5, true, "b")))
  }
}
