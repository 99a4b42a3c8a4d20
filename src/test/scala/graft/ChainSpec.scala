package graft

import graft.operators.{Chain, KeyResolver, Stager}
import graft.core.Jsons
import graft.sources.{Fetcher, MapFetcher}
import org.apache.spark.sql.functions._
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Chain decomposition (reference C1, magictable.py:202-315): URL build as
  * an expression, distinct-URL fetch, lateral re-join, api_* prefixing,
  * empty-response all-null rows, per-URL fetch dedup. */
object ChainSpec {
  val fetchCount = new AtomicInteger(0)
  class CountingFetcher(entries: Map[String, String]) extends MapFetcher(entries) {
    override def fetchRaw(url: String): Either[Int, String] = {
      fetchCount.incrementAndGet()
      super.fetchRaw(url)
    }
  }

  val inFlight, peakInFlight = new AtomicInteger(0)
  @volatile var pair = new CountDownLatch(2)
  /** Holds each fetch until a second one has started (or 5 s pass) and
    * records the most fetches in flight at once. */
  class LatchingFetcher extends Fetcher {
    override def fetchRaw(url: String): Either[Int, String] = {
      peakInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max(_, _))
      try {
        pair.countDown()
        pair.await(5, TimeUnit.SECONDS)
        Thread.sleep(1)
        Right(s"""{"u":"$url"}""")
      } finally inFlight.decrementAndGet()
    }
  }

  /** Answers after 0-3 ms, so concurrent fetches finish out of URL order. */
  class JitterFetcher(entries: Map[String, String], failing: Set[String])
      extends MapFetcher(entries, failing) {
    override def fetchRaw(url: String): Either[Int, String] = {
      Thread.sleep(math.abs(url.hashCode % 4).toLong)
      super.fetchRaw(url)
    }
  }

  class ThrowingFetcher(bad: String) extends MapFetcher(Map.empty) {
    override def fetchRaw(url: String): Either[Int, String] =
      if (url == bad) throw new IllegalStateException(s"boom $url") else Right("{}")
  }
}

class ChainSpec extends SparkSpecBase {
  import spark.implicits._

  private def base = Seq((1, "us"), (2, "fr"), (3, "us")).toDF("id", "cc")

  test("urlExpression substitutes mapped placeholders, keeps unmapped literal") {
    val df = base.withColumn("u",
      Chain.urlExpression("http://api/{id}/x?k={missing}", Map("id" -> "id")))
    assert(df.orderBy("id").select("u").as[String].collect().head ===
      "http://api/1/x?k={missing}")
  }

  test("KeyResolver: exact, case/snake-insensitive, suffix; explicit override; error") {
    assert(KeyResolver.resolve("http://a/{id}", Seq("id", "name")) === Map("id" -> "id"))
    assert(KeyResolver.resolve("http://a/{movieId}", Seq("movie_id")) ===
      Map("movieId" -> "movie_id"))
    assert(KeyResolver.resolve("http://a/{key}", Seq("o_orderkey", "name")) ===
      Map("key" -> "o_orderkey"))
    assert(KeyResolver.resolve("http://a/{x}", Seq("id", "cc"),
      sourceKey = Some("cc"), targetKey = Some("x")) === Map("x" -> "cc"))
    intercept[IllegalArgumentException] {
      KeyResolver.resolve("http://a/{nope}", Seq("id", "cc"))
    }
  }

  test("fan-out multiplicities: list responses explode, objects stay 1:1") {
    val fetcher = new MapFetcher(Map(
      "http://api/1" -> """[{"name":"a","v":1},{"name":"b","v":2}]""",
      "http://api/2" -> """{"name":"c","v":3}""",
      "http://api/3" -> """[]"""))
    val (out, keys) = Chain(base, "http://api/{id}", fetcher, maxSleepMs = 0)
    assert(keys === Seq("id"))
    val byId = out.groupBy("id").count().as[(Int, Long)].collect().toMap
    assert(byId === Map(1 -> 2, 2 -> 1, 3 -> 1))
    assert(out.columns.toSet === Set("id", "cc", "api_name", "api_v"))
    // empty response row keeps all-null api_* (magictable.py:389)
    val r3 = out.filter($"id" === 3).head()
    assert(r3.isNullAt(r3.fieldIndex("api_name")) && r3.isNullAt(r3.fieldIndex("api_v")))
  }

  test("heterogeneous response schemas union their keys (magictable.py:284-289)") {
    val fetcher = new MapFetcher(Map(
      "http://api/1" -> """{"name":"a"}""",
      "http://api/2" -> """{"other":9}""",
      "http://api/3" -> """{"name":"c"}"""))
    val (out, _) = Chain(base, "http://api/{id}", fetcher, maxSleepMs = 0)
    assert(out.columns.toSet === Set("id", "cc", "api_name", "api_other"))
  }

  test("duplicate URLs are fetched once (per-URL dedup, magictable.py:355-366)") {
    ChainSpec.fetchCount.set(0)
    val fetcher = new ChainSpec.CountingFetcher(Map(
      "http://api/us" -> """{"region":"amer"}""",
      "http://api/fr" -> """{"region":"emea"}"""))
    val (out, _) = Chain(base, "http://api/{cc}", fetcher, maxSleepMs = 0)
    assert(out.count() === 3) // 3 input rows survive
    assert(ChainSpec.fetchCount.get() === 2) // but only 2 distinct fetches
  }

  test("a partition's URLs are fetched concurrently, at most Fetcher.MaxInFlight at once") {
    ChainSpec.inFlight.set(0)
    ChainSpec.peakInFlight.set(0)
    ChainSpec.pair = new CountDownLatch(2)
    val urls = (1 to 64).map(i => s"http://api/$i").toDS().coalesce(1)
    val lines = Chain.fetchResponses(urls, new ChainSpec.LatchingFetcher, None, maxSleepMs = 0)
      .collect()
    assert(lines.length === 64)
    val peak = ChainSpec.peakInFlight.get
    assert(peak > 1 && peak <= Fetcher.MaxInFlight, s"peak in flight $peak")
  }

  test("concurrent fetches give a serial loop's lines: URL order, then response order") {
    val urls = (0 until 200).map(i => s"http://api/$i")
    val bodies = urls.zipWithIndex.collect {
      case (u, i) if i % 3 == 0 => u -> s"""[{"i":$i,"j":0},{"i":$i,"j":1}]"""
      case (u, i) if i % 3 == 1 => u -> s"""{"i":$i}"""
    }.toMap
    val failing = urls.zipWithIndex.collect { case (u, i) if i % 3 == 2 => u }.toSet
    val fetcher = new ChainSpec.JitterFetcher(bodies, failing)
    val serial = urls.zipWithIndex.flatMap { case (u, i) =>
      if (i % 3 == 0) Seq(0L, 1L).map(j => Map("__url" -> u, "resp" -> Map("i" -> i.toLong, "j" -> j)))
      else if (i % 3 == 1) Seq(Map("__url" -> u, "resp" -> Map("i" -> i.toLong)))
      else Seq(Map("__url" -> u))
    }
    val got = Chain.fetchResponses(urls.toDS().coalesce(1), fetcher, None, maxSleepMs = 0)
      .collect().toSeq.map(Jsons.parse)
    assert(got === serial)
    // the same order straight from the helper, outside a task
    assert(Fetcher.concurrently(urls.iterator)(fetcher.fetchWithRetry(_, maxSleepMs = 0)).toSeq ===
      urls.map(u => bodies.get(u)))
  }

  test("a fetcher that throws still fails the job") {
    val urls = (1 to 40).map(i => s"http://api/$i").toDS().coalesce(1)
    val e = intercept[Exception](Chain.fetchResponses(urls,
      new ChainSpec.ThrowingFetcher("http://api/17"), None, maxSleepMs = 0).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("boom http://api/17")),
      chain.mkString("\n"))
  }

  test("null key values keep their row all-null instead of NPEing (review regression)") {
    val df = Seq((Some(1), "us"), (None, "fr")).toDF("id", "cc")
    val fetcher = new MapFetcher(Map("http://api/1" -> """{"v":10}"""))
    val (out, _) = Chain(df, "http://api/{id}", fetcher, maxSleepMs = 0)
    assert(out.count() === 2)
    assert(out.filter($"id".isNull && $"api_v".isNull).count() === 1)
    assert(out.filter($"id" === 1 && $"api_v" === 10).count() === 1)
  }

  test("all fetches failing keeps every row with no api_* columns") {
    val (out, _) = Chain(base, "http://api/{id}", new MapFetcher(Map.empty), maxSleepMs = 0)
    assert(out.count() === 3)
    assert(out.columns.toSet === Set("id", "cc"))
  }

  test("chain(other: MagicTable) derives the template from other's last source " +
      "and merges lineage (magictable.py:210-219)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_chain_other").toString
    val graph = new graft.core.TableGraph(tmp)
    val fetcher = new MapFetcher(Map(
      "http://api/detail/1" -> """{"v":10}""",
      "http://api/detail/2" -> """{"v":20}""",
      "http://api/detail/3" -> """{"v":30}"""))
    val mt = graft.core.MagicTable.fromDataFrame(base, "base", graph)
    // `other` is a table whose last source is an API template — chaining off
    // it must reuse that template (NOT require the caller to restate it)
    val other = new graft.core.MagicTable(base, "details",
      Seq(graft.sources.ApiSource("http://api/detail/{id}")), graph)
    val out = mt.chain(other, fetcher, None, None)
    assert(out.df.orderBy("id").select("api_v").as[Long].collect().toSeq ===
      Seq(10L, 20L, 30L))
    // result lineage = self.sources ++ other.sources (reference new_sources)
    assert(out.sources.map(_.getIdentifier).contains("http://api/detail/{id}"))
    // a source-less other is the reference's ValueError
    intercept[IllegalArgumentException] {
      mt.chain(graft.core.MagicTable.fromDataFrame(base, "nosrc", graph), fetcher, None, None)
    }
  }

  test("MagicTable.chain caches the whole-chain result with a TTL (C14)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_chain_wh").toString
    var now = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val graph = new graft.core.TableGraph(tmp, clock = () => now)
    val fetcher = new MapFetcher(Map("http://api/1" -> """{"v":1}""",
      "http://api/2" -> """{"v":2}""", "http://api/3" -> """{"v":3}"""))
    val mt = graft.core.MagicTable.fromDataFrame(base, "base", graph)
    val c1 = mt.chain("http://api/{id}", fetcher)
    assert(c1.count() === 3)
    assert(graph.isFresh(c1.name))
    now = now.plusSeconds(3601) // past the 1 h TTL (tablegraph.py:17)
    assert(!graph.isFresh(c1.name))
  }

  test("Chain.apply labels its jobs with the chain's template") {
    val fetcher = new MapFetcher(Map("http://api/1" -> """{"v":1}""",
      "http://api/2" -> """{"v":2}""", "http://api/3" -> """{"v":3}"""))
    val (((out, _), cleanup), cost) = withJobs(Stager.recording(
      Chain(base, "http://api/{id}", fetcher, maxSleepMs = 0)))
    try {
      assert(cost.jobs > 0)
      assert(cost.stages.forall(_.name.endsWith("[graft chain http://api/{id}]")),
        cost.stages.map(_.name).mkString("; "))
      assert(spark.sparkContext.getLocalProperty("spark.job.description") === null)
      assert(out.count() === 3)
    } finally cleanup()
  }
}
