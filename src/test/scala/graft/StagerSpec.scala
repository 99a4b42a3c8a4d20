package graft

import graft.operators.{Curation, Dedup, DupClusters, Graphs, Packing, Stager}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** The [[Stager]] contract: `stage` materializes before it returns, and
  * `release` frees exactly what one stage call made — never a caller's
  * own cache, even one first materialized inside a stage call. */
class StagerSpec extends SparkSpecBase {
  import spark.implicits._

  /** Delegates to `underlying` and logs each call as "stage name" or
    * "release name". */
  private final class Logged(underlying: Stager) extends Stager {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    override def stage(df: DataFrame, name: String): DataFrame = {
      calls += s"stage $name"
      underlying.stage(df, name)
    }
    override def release(staged: DataFrame, name: String): Unit = {
      calls += s"release $name"
      underlying.release(staged, name)
    }
  }

  /** The RDD holding `df`'s cache buffers (built on first use). */
  private def cacheBuffersId(df: DataFrame): Int =
    df.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }
      .getOrElse(fail("frame is not cached"))
      .cacheBuilder.cachedColumnBuffers.id

  /** Runs `body` over a cached but not yet materialized frame of `rows`,
    * then asserts its cache buffers survived. */
  private def keepsCallersCache(rows: DataFrame)(body: DataFrame => Unit): Unit = {
    val cached = rows.cache()
    try {
      body(cached)
      assert(spark.sparkContext.getPersistentRDDs.contains(cacheBuffersId(cached)),
        "a stage release freed the caller's cache buffers")
    } finally cached.unpersist(blocking = true)
  }

  test("curateStaged cleanup keeps a caller's cache first materialized inside a stage") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then the fox rests " * 5),
      (2L, "a completely different long passage about the weather in the north " * 5)
    ).toDF("doc_id", "text")
    keepsCallersCache(docs) { cached =>
      val (out, cleanup) = Curation.curateStaged(cached, "doc_id", "text")
      assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
      cleanup()
    }
  }

  test("connectedComponents' round release keeps a caller's cache of its pairs") {
    keepsCallersCache(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")) { cached =>
      val got = DupClusters.connectedComponents(cached, "id_a", "id_b")
        .as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 1L), (2L, 1L), (3L, 1L)))
    }
  }

  test("LocalCheckpoint.release frees the staged RDD and nothing else") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val a = Stager.LocalCheckpoint.stage(spark.range(10).toDF(), "a")
    val b = Stager.LocalCheckpoint.stage(spark.range(20).toDF(), "b")
    val staged = sc.getPersistentRDDs.keySet -- before
    assert(staged.size === 2)
    Stager.LocalCheckpoint.release(a, "a")
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.size === 1 && left.subsetOf(staged))
    assert(b.count() === 20L)
    Stager.LocalCheckpoint.release(b, "b")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("a stage and its release log no RDD WARN and leave no persistent RDD") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val warns = warnings("org.apache.spark.rdd") {
      val staged = Stager.stage(spark.range(10).toDF(), "quiet")
      assert((sc.getPersistentRDDs.keySet -- before).size === 1)
      Stager.release(staged, "quiet")
    }
    assert(warns.isEmpty, warns.mkString("\n"))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("a recording frees assignBins' stages and keeps a caller's cache") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    keepsCallersCache(Seq((1L, 5L), (2L, 7L), (3L, 3L)).toDF("id", "n")) { cached =>
      val (binned, release) = Stager.recording(Packing.assignBins(cached, "id", "n", budget = 8))
      assert(binned.select("id", "bin").as[(Long, Long)].collect().toSet ===
        Set((1L, 0L), (2L, 0L), (3L, 1L)))
      val cache = cacheBuffersId(cached)
      assert((sc.getPersistentRDDs.keySet -- before - cache).nonEmpty, "nothing was staged")
      release()
      assert(sc.getPersistentRDDs.keySet -- before === Set(cache),
        "the release must free every stage of the call and nothing else")
    }
  }

  test("no public operator method takes a Stager parameter") {
    val loader = getClass.getClassLoader
    val dir = new java.io.File(loader.getResource("graft/operators").toURI)
    // top-level objects only (Dedup$, not Curation$Config$); Stager's own
    // scoped functions take one by design
    val objects = dir.listFiles.map(_.getName.stripSuffix(".class"))
      .filter(n => n.endsWith("$") && !n.init.contains("$") && !n.startsWith("Stager"))
      .map(n => Class.forName(s"graft.operators.$n", false, loader))
    assert(objects.length >= 19, objects.map(_.getName).mkString(", "))
    val withStager = for {
      c <- objects.toSeq
      m <- c.getMethods if m.getParameterTypes.contains(classOf[Stager])
    } yield s"${c.getSimpleName.stripSuffix("$")}.${m.getName}"
    assert(withStager.isEmpty, withStager.distinct.sorted.mkString(", "))
  }

  test("Recording releases each stage once, including one released singly") {
    val log = new Logged(Stager.LocalCheckpoint)
    val (_, release) = Stager.using(log) {
      Stager.recording {
        val a = Stager.stage(spark.range(3).toDF(), "a")
        Stager.stage(spark.range(4).toDF(), "b")
        Stager.release(a, "a")
      }
    }
    release()
    release()
    assert(log.calls === Seq("stage a", "stage b", "release a", "release b"))
  }

  test("iterative loops release round k-1 right after staging round k") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("u", "v")
    val log = new Logged(Stager.LocalCheckpoint)
    val core = Stager.using(log)(Graphs.kCore(edges, "u", "v", k = 2, rounds = 2))
    assert(core.select("id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    // the last round is the result's input, so it stays staged
    assert(log.calls.map(_.replaceAll("_[0-9a-f]{8}_", "_")) === Seq(
      "stage kcore_0", "stage kcore_1", "release kcore_0",
      "stage kcore_2", "release kcore_1"))
  }

  private def checkpointed(partitions: Int): DataFrame =
    Stager.LocalCheckpoint.stage(spark.range(0, 100, 1, partitions).toDF("id"), "spread")

  test("spreadStaged widens a stage below defaultParallelism, at the boundary and above") {
    val par = spark.sparkContext.defaultParallelism
    for (n <- Seq(par - 1, par, par + 1)) {
      val staged = checkpointed(n)
      assert(staged.rdd.getNumPartitions === n)
      val spread = Dedup.spreadStaged(staged)
      assert(spread.rdd.getNumPartitions === math.max(n, par), s"$n input partitions")
      assert(spread.as[Long].collect().sorted.toSeq === (0L until 100L), s"$n input partitions")
      Stager.LocalCheckpoint.release(staged, "spread")
    }
  }

  test("spreadStaged starts no job on a LocalCheckpoint or a Parquet stage") {
    val graph = new graft.core.TableGraph(
      java.nio.file.Files.createTempDirectory("stager_spread").toString)
    val staged = Seq(
      checkpointed(1),
      Stager.Parquet(graph).stage(spark.range(0, 100, 1, 1).toDF("id"), "spread"))
    for (s <- staged) {
      val (spread, cost) = withJobs(Dedup.spreadStaged(s))
      assert(cost.jobs === 0, s.queryExecution.logical.nodeName)
      assert(spread.as[Long].collect().sorted.toSeq === (0L until 100L))
    }
    Stager.LocalCheckpoint.release(staged.head, "spread")
    graph.dropStage("spread")
  }
}
