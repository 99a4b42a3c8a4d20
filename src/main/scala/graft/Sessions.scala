package graft

import org.apache.spark.sql.SparkSession

/** One session-builder for Verify, Bench, and the test suite — the gate,
  * the benchmark, and the specs must all run under the SAME engine
  * configuration or they verify different semantics (this config had
  * already drifted three ways before being centralized).
  */
object Sessions {
  def local(cores: String, extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // SURVEY.md §4.2 config parity: null-on-bad-cast (pandas
      // errors='coerce') semantics, not ANSI errors
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // runtime skew handling: AQE splits oversized shuffle partitions in
      // joins (complements the explicit salting in operators/Scale) and
      // coalesces tiny ones — both default-on in Spark 4, pinned here so
      // the gate/bench/specs can't drift from the cluster posture
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // some events.parquet vintages carry TIMESTAMP(NANOS), which Spark 4
      // rejects by default; read those as long and convert (Tables.events).
      // Harmless for MICROS-typed fixtures — kept so the engine reads both.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The JVM-global generated-class cache defaults to 100 entries; this
      // engine's registry holds 300+ distinct query shapes with several
      // codegen units each, so every bench/verify pass THRASHED the cache
      // and re-compiled (janino + C2) nearly every operator on every rep —
      // measured r17: full-suite bench 274.6 s -> 202.6 s (-26%) from this
      // line alone, no query slower. Static conf: the first session in the
      // JVM pins it. Sized to hold the whole registry's codegen with slack;
      // generated classes are small (metaspace-bounded), and a production
      // deployment running a many-operator DAG wants the same headroom.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // Local files (warehouse, URL cache, staged parquet, sinks) through a
      // LocalFileSystem that sets permission bits in the JVM: without the
      // native Hadoop library, Hadoop forks `chmod` for every file, `.crc`
      // and directory it creates (~3.5 ms each; 219 forks in a cold
      // MagicTable flow, 38 in its warm replay). A production local-mode
      // deployment, which rarely ships libhadoop, pays the same forks, so
      // it wants this setting too; the bits, checksums and renames stay
      // Hadoop's (a rename onto an existing file still returns false, as
      // in the Hive `ProxyLocalFileSystem` this replaces), and HDFS/S3 are
      // untouched. Hadoop caches the first
      // `file:` filesystem a JVM (and user) asks for, whatever the asking
      // conf says, so this holds when the session touches local files first.
      .config("spark.hadoop.fs.file.impl", classOf[graft.core.PosixLocalFileSystem].getName)
    extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
  }
}
