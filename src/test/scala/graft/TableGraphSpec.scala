package graft

import graft.core.{ChainRecord, TableGraph}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder
import java.time.Instant

/** Catalog + lineage + caches (reference tablegraph.py; TTL C14 with the
  * injectable clock; JSON checkpoint in place of the dill blob — data lives
  * in Parquet, never in the graph). */
class TableGraphSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshDir = java.nio.file.Files.createTempDirectory("graft_g").toString

  test("addTable writes parquet once and getTable rehydrates") {
    val g = new TableGraph(freshDir)
    val node = g.addTable("t1", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(node.rowCount === 2)
    assert(g.getTable(spark, "t1").get.count() === 2)
    assert(g.getTable(spark, "missing").isEmpty)
  }

  test("queryOrFetch applies equality-conjunction conditions (tablegraph.py:115-117)") {
    val g = new TableGraph(freshDir)
    g.addTable("t", Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "v"))
    assert(g.queryOrFetch(spark, "t", Map("v" -> "a")).get.count() === 2)
    assert(g.queryOrFetch(spark, "t", Map("v" -> "a", "id" -> 3)).get.count() === 1)
  }

  test("TTL freshness uses the injected clock (1h default, C14)") {
    var now = Instant.parse("2026-01-01T00:00:00Z")
    val g = new TableGraph(freshDir, clock = () => now)
    g.addTable("t", Seq((1, "a")).toDF("id", "v"))
    assert(g.isFresh("t"))
    now = now.plusSeconds(3599); assert(g.isFresh("t"))
    now = now.plusSeconds(2); assert(!g.isFresh("t"))
  }

  test("checkpoint JSON round-trips nodes, chains and the transform cache") {
    val dir = freshDir
    val g = new TableGraph(dir)
    g.addTable("t", Seq((1, "a")).toDF("id", "v"), metadata = Map("k" -> "v"))
    g.addChain(ChainRecord("t", "t2", "t2", "transform", "q", "",
      Map("describe" -> "limit=5"), g.clock()))
    g.putTransformation("t_q", "limit=5")
    val reloaded = new TableGraph(dir)
    assert(reloaded.getNode("t").map(_.rowCount) === Some(1L))
    assert(reloaded.getChains("t").map(_.chainType) === Seq("transform"))
    assert(reloaded.transformations.get("t_q") === Some("limit=5"))
  }

  test("a chain record equal but for createdAt is kept once and writes nothing") {
    var now = Instant.parse("2026-01-01T00:00:00Z")
    val g = new TableGraph(freshDir, clock = () => now)
    val edge = ChainRecord("t", "t2", "t2", "transform", "q", "", Map("describe" -> "limit=5"), g.clock())
    g.addChain(edge)
    val writes = g.checkpointWrites
    now = now.plusSeconds(60)
    g.addChain(edge.copy(createdAt = g.clock()))
    assert(g.allChains === Seq(edge))
    assert(g.checkpointWrites === writes)
    // any other field differing is a distinct edge
    g.addChain(edge.copy(sourceKey = "q2"))
    assert(g.allChains.size === 2)
    assert(g.checkpointWrites === writes + 1)
  }

  test("per-URL response cache stores and serves bodies") {
    val g = new TableGraph(freshDir)
    assert(g.getCachedUrl("http://u/1").isEmpty)
    g.putCachedUrl("http://u/1", """{"a":1}""")
    assert(g.getCachedUrl("http://u/1") === Some("""{"a":1}"""))
  }

  test("clearAllData wipes nodes, chains, caches, payloads and checkpoint") {
    val dir = freshDir
    val g = new TableGraph(dir)
    g.addTable("t", Seq((1, "a")).toDF("id", "v"))
    g.putCachedUrl("http://u/1", """{"a":1}""")
    g.putTransformation("t_q", "limit=5")
    g.clearAllData()
    assert(g.getNode("t").isEmpty && g.allChains.isEmpty && g.transformations.isEmpty)
    assert(g.getCachedUrl("http://u/1").isEmpty)
    // a fresh graph over the same warehouse sees nothing either
    val reloaded = new TableGraph(dir)
    assert(reloaded.getNode("t").isEmpty)
  }

  test("transform registers lineage + caches compiled description (C3/C13)") {
    val g = new TableGraph(freshDir)
    val mt = graft.core.MagicTable.fromDataFrame(
      Seq((1, 10.0), (2, 30.0), (3, 20.0)).toDF("id", "score"), "scores", g)
    val out = mt.transform("top 2 by score desc showing id")
    assert(out.df.as[Int].collect().toSeq === Seq(2, 3))
    assert(g.transformations.contains("scores_top 2 by score desc showing id"))
    assert(g.getChains("scores").exists(_.chainType === "transform"))
  }

  test("addTable schedules exactly ONE Spark job (row count rides the write)") {
    val g = new TableGraph(freshDir)
    // a re-read count() after the write would be a second scheduled job per
    // registration — at many-table registration scale that's a driver
    // round-trip per table for a number the write already knows
    spark.sparkContext.setJobGroup("graft-addtable-onejob", "addTable", false)
    val node = try g.addTable("jobs", Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    finally spark.sparkContext.clearJobGroup()
    assert(node.rowCount === 3)
    val ids = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-addtable-onejob")
    assert(ids.length === 1, s"addTable ran ${ids.length} jobs, expected 1")
  }

  test("warehouse on a file: URI works end-to-end (Hadoop FileSystem path)") {
    // the warehouse swap, checkpoint and URL cache must go through the
    // Hadoop FS API so an hdfs:// or s3a:// warehouseDir behaves like a
    // local one; a file: URI exercises that code path (java.nio would
    // reject or mangle the scheme)
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_fswh").toString
    val g = new TableGraph(dir)
    g.addTable("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    g.putCachedUrl("http://u/1", """{"a":1}""")
    g.putTransformation("t_q", "limit=5")
    assert(g.getTable(spark, "t").get.count() === 2)
    assert(g.getCachedUrl("http://u/1") === Some("""{"a":1}"""))
    // re-registering the same table replaces the payload (Fs.replace)
    g.addTable("t", Seq((9, "z")).toDF("id", "v"))
    assert(g.getTable(spark, "t").get.as[(Int, String)].collect().toSeq === Seq((9, "z")))
    // checkpoint round-trips through the same FS
    val reloaded = new TableGraph(dir)
    assert(reloaded.getNode("t").map(_.rowCount) === Some(1L))
    assert(reloaded.transformations.get("t_q") === Some("limit=5"))
  }

  test("checkpoint loader recovers from the crash window via the temp file") {
    // on stores where overwrite-rename is non-atomic, a crash between
    // delete and rename loses _graph.json but leaves the fully-written
    // temp — the loader must fall back to it instead of starting clean
    val dir = freshDir
    val g = new TableGraph(dir)
    g.addTable("t", Seq((1, "a")).toDF("id", "v"))
    val ckpt = java.nio.file.Paths.get(dir, "_graph.json")
    val body = java.nio.file.Files.readAllBytes(ckpt)
    java.nio.file.Files.delete(ckpt)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "._graph.json.tmp-crash01"), body)
    val recovered = new TableGraph(dir)
    assert(recovered.getNode("t").map(_.rowCount) === Some(1L))
  }

  test("URL cache put is first-writer-wins (idempotent entries, benign races)") {
    val dir = "file://" + java.nio.file.Files.createTempDirectory("graft_fsurl").toString
    val conf = spark.sparkContext.hadoopConfiguration
    graft.sources.UrlDiskCache.put(dir, "http://x/1", """{"a":1}""", conf)
    graft.sources.UrlDiskCache.put(dir, "http://x/1", """{"a":2}""", conf)
    assert(graft.sources.UrlDiskCache.get(dir, "http://x/1", conf) === Some("""{"a":1}"""))
  }

  test("getTable plans a registered table's read without a Spark job") {
    val g = new TableGraph(freshDir)
    g.addTable("t", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // inferring the schema from the parquet footer would be one job
    val (df, cost) = withJobs(g.getTable(spark, "t").get)
    assert(cost.jobs === 0)
    assert(jobsOf(g.queryOrFetch(spark, "t", Map("v" -> "a")).get) === 0)
    assert(df.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
  }

  test("a schema zoo reads back with the footer's schema and the same rows") {
    val g = new TableGraph(freshDir)
    val json = spark.read.json(Seq(
      """{"i":1,"n":{"a":1,"b":{"c":"x","d":[1,2]}}}""",
      """{"i":2,"n":null}""").toDS())
    val zoo = json.selectExpr(
      "i",
      "n", // nested struct inferred by read.json
      "array(named_struct('k', i, 'v', 'a'), named_struct('k', 2, 'v', cast(null as string))) as arr",
      "map('a', i, 'b', cast(null as bigint)) as m",
      "cast('123456789012345678901234567890.12345678' as decimal(38,8)) as dec",
      "timestamp'2026-01-02 03:04:05.123456' as ts",
      "timestamp_ntz'2026-01-02 03:04:05.123456' as ts_ntz",
      "date'2026-01-02' as d",
      "cast(concat('bin', i) as binary) as bin",
      "42L as not_null")
      .withColumn("meta", col("i").as("meta",
        new MetadataBuilder().putString("comment", "carried").build()))
    assert(!zoo.schema("not_null").nullable)
    g.addTable("zoo", zoo)
    val read = g.getTable(spark, "zoo").get
    val footer = spark.read.parquet(g.tablePath("zoo"))
    assert(read.schema === footer.schema)
    assert(read.schema("meta").metadata.getString("comment") === "carried")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))
    assert(rows(read) === rows(footer))
    assert(rows(read).size === 2)
  }

  test("a checkpoint reload keeps each node's schema") {
    val dir = freshDir
    val g = new TableGraph(dir)
    g.addTable("t", Seq((1, "a", 2.5)).toDF("id", "v", "x"))
    val reloaded = new TableGraph(dir)
    assert(reloaded.getNode("t").flatMap(_.schema) === g.getNode("t").flatMap(_.schema))
    assert(reloaded.getNode("t").flatMap(_.schema).isDefined)
    val (df, cost) = withJobs(reloaded.getTable(spark, "t").get)
    assert(cost.jobs === 0)
    assert(df.as[(Int, String, Double)].collect().toSeq === Seq((1, "a", 2.5)))
  }

  test("a checkpoint written before schemas were recorded still reads, inferring once") {
    val dir = freshDir
    val path = new org.apache.hadoop.fs.Path(dir, "t").toString
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.parquet(path)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_graph.json"),
      s"""{"nodes":[{"name":"t","path":"$path","created_at":"2026-01-01T00:00:00Z",""" +
        """"row_count":2,"source_info":[],"metadata":{}}],"chains":[],"transformations":{}}""")
    val g = new TableGraph(dir)
    assert(g.getNode("t").map(_.rowCount) === Some(2L))
    assert(g.getNode("t").flatMap(_.schema).isEmpty)
    val (first, inferJobs) = withJobs(g.getTable(spark, "t").get)
    assert(inferJobs.jobs === 1, "the footer is read once")
    assert(first.schema === spark.read.parquet(path).schema)
    assert(g.getNode("t").flatMap(_.schema) === Some(first.schema))
    val (again, cost) = withJobs(g.getTable(spark, "t").get)
    assert(cost.jobs === 0, "the inferred schema is kept")
    assert(again.as[(Int, String)].collect().toSet === Set((1, "a"), (2, "b")))
  }

  test("re-registering a name with a new schema reads the new schema") {
    val dir = freshDir
    val g = new TableGraph(dir)
    g.addTable("t", Seq((1, "a")).toDF("id", "v"))
    g.addTable("t", Seq(("x", 2.0, true)).toDF("k", "score", "ok"))
    val df = g.getTable(spark, "t").get
    assert(df.schema.fieldNames.toSeq === Seq("k", "score", "ok"))
    assert(df.schema === spark.read.parquet(g.tablePath("t")).schema)
    assert(df.as[(String, Double, Boolean)].collect().toSeq === Seq(("x", 2.0, true)))
    assert(new TableGraph(dir).getTable(spark, "t").get.schema === df.schema)
  }

  test("the register write job carries a graft job description; the caller's is restored") {
    val g = new TableGraph(freshDir)
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, cost) = withJobs(g.addTable("labelled", Seq((1, "a")).toDF("id", "v")))
      assert(cost.jobs === 1)
      assert(cost.stages.map(_.name).exists(_.endsWith("[graft register labelled]")),
        cost.stages.map(_.name).mkString("; "))
      assert(sc.getLocalProperty("spark.job.description") === "caller")
    } finally sc.setJobDescription(null)
  }
}
