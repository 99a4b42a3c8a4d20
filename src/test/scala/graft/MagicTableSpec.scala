package graft

import graft.core.{MagicTable, TableGraph}
import org.apache.spark.sql.functions._

/** The wrapper surface (C22): every forwarder re-wraps so lineage (name +
  * sources) survives — the Scala equivalent of the reference's blanket
  * Polars-method wrapper (magictable.py:28-36,451-459). */
class MagicTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def graph = new TableGraph(
    java.nio.file.Files.createTempDirectory("graft_mt").toString)

  private def mt = MagicTable.fromDataFrame(
    Seq((1L, "a", Some(10.0)), (2L, "b", None), (3L, "a", Some(30.0)))
      .toDF("id", "grp", "v"), "t", graph)

  test("forwarders re-wrap and preserve name/sources") {
    val out = mt.filter(col("grp") === "a").select(col("id"), col("v"))
      .orderBy(col("id").desc).limit(1)
    assert(out.name === "t" && out.isInstanceOf[MagicTable])
    assert(out.df.select("id").as[Long].head() === 3L)
  }

  test("pipeline-operator forwarders: dedup/profile/fluency/scrub on the wrapper") {
    val docs = MagicTable.fromDataFrame(
      Seq((1L, "s1", "the quick brown fox jumps"),
          (2L, "s1", "the  QUICK brown fox jumps"), // exact dup after norm
          (3L, "s2", "email me at a@b.com today please"))
        .toDF("doc_id", "src", "text"), "docs", graph)
    val deduped = docs.dedupExact("doc_id", "text")
    assert(deduped.count() === 2 && deduped.name === "docs")
    val prof = docs.profileBy("src", "doc_id", "text")
    assert(prof.columns.contains("dup_frac") && prof.count() === 2)
    val flu = docs.scoreFluency("doc_id", "text", vocabSize = 50)
    assert(flu.columns.toSet === Set("doc_id", "n_bigrams", "avg_logp"))
    val clean = docs.scrubPii("text")
    assert(!clean.df.filter(col("text").contains("a@b.com")).head(1).nonEmpty)
    val near = docs.dedupNear("doc_id", "text")
    assert(near.count() <= 3 && near.name === "docs")
  }

  test("na handling: fillNa and dropNa") {
    assert(mt.fillNa(0.0).df.filter(col("v").isNull).count() === 0)
    assert(mt.dropNa(Seq("v")).count() === 2)
  }

  test("withColumns / renameAll apply in bulk") {
    val out = mt.withColumns(Map("double_v" -> col("v") * 2, "tag" -> lit("x")))
      .renameAll(Map("grp" -> "category"))
    assert(out.columns.toSet === Set("id", "category", "v", "double_v", "tag"))
  }

  test("pivotAgg produces one column per pivot value") {
    val out = mt.pivotAgg("grp", "grp", count(lit(1)))
    assert(out.columns.toSet === Set("grp", "a", "b"))
  }

  test("explodeCol fans out array columns") {
    val arr = MagicTable.fromDataFrame(
      Seq((1L, Seq("x", "y"))).toDF("id", "xs"), "arr", graph)
    assert(arr.explodeCol("xs", "x").count() === 2)
  }

  test("union aligns by name and allows missing columns (diagonal concat)") {
    val a = MagicTable.fromDataFrame(Seq((1L, "x")).toDF("id", "s"), "a", graph)
    val b = MagicTable.fromDataFrame(Seq((2L, 5.0)).toDF("id", "d"), "b", graph)
    val u = a.union(b)
    assert(u.columns.toSet === Set("id", "s", "d"))
    assert(u.count() === 2)
  }

  test("write escape hatch + approx_count_distinct (HLL) within 5% of exact") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"
    mt.write.mode("overwrite").parquet(out)
    assert(spark.read.parquet(out).count() === 3)
    // HLL sketch: free via Catalyst, sanity-checked against exact distinct
    val o = testdata("sf0.001", "orders")
    val exact = o.select(countDistinct(col("o_custkey"))).as[Long].head()
    val approx = o.select(approx_count_distinct(col("o_custkey"), 0.01)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }

  test("mapDf escape hatch keeps results inside the MagicTable world") {
    val out = mt.mapDf(_.groupBy("grp").agg(count(lit(1)).as("n")))
    assert(out.isInstanceOf[MagicTable] && out.count() === 2)
  }

  test("joinAsof forwarder: blanket-surface join_asof with strategy + merged lineage") {
    val g = graph
    val quotes = MagicTable.fromDataFrame(
      Seq((1L, 10L), (1L, 20L)).toDF("k", "t"), "quotes", g)
    val trades = new MagicTable(
      Seq((1L, 12L, 5.0)).toDF("k", "rt", "px"), "trades",
      Seq(graft.sources.ApiSource("http://api/trades")), g)
    val back = quotes.joinAsof(trades, Seq("k"), "t", "rt", Seq("px"))
    assert(back.df.orderBy("t").select("asof_px").as[Option[Double]].collect().toSeq ===
      Seq(None, Some(5.0)))
    val fwd = quotes.joinAsof(trades, Seq("k"), "t", "rt", Seq("px"), strategy = "forward")
    assert(fwd.df.orderBy("t").select("asof_px").as[Option[Double]].collect().toSeq ===
      Seq(Some(5.0), None))
    assert(fwd.sources.exists(_.getIdentifier === "http://api/trades"))
  }

  test("NotSoMagicTable enrichment: plain DataFrames gain the MagicTable verbs (C21)") {
    import graft.core.NotSoMagicTable._
    val orders = Seq((100, 1, 10.0), (101, 2, 30.0)).toDF("order_id", "cust_id", "total")
    val custs = Seq((1, "ann"), (2, "bob")).toDF("cust_id", "cname")
    // transformNl: NL pipeline on a bare frame, result is a bare frame
    val top = orders.transformNl("top 1 by total desc showing order_id")
    assert(top.as[Int].collect().toSeq === Seq(101))
    // joinWithQuery: the method the reference declares but never implemented
    val j = orders.joinWithQuery(custs, "join on cust_id showing order_id and cname")
    assert(j.orderBy("order_id").as[(Int, String)].collect().toSeq ===
      Seq((100, "ann"), (101, "bob")))
  }

  test("NotSoMagicTable labels are stable across rebuilt-but-equivalent frames " +
    "(transformation cache hits instead of growing per call)") {
    import graft.core.NotSoMagicTable._
    val g = graph
    val prevDefault = graft.core.TableGraph.defaultGraph
    graft.core.TableGraph.setDefault(g)
    try {
      def orders = Seq((100, 1, 10.0), (101, 2, 30.0)).toDF("order_id", "cust_id", "total")
      def custs = Seq((1, "ann"), (2, "bob")).toDF("cust_id", "cname")
      orders.joinWithQuery(custs, "join on cust_id showing order_id and cname")
      val afterFirst = g.transformations.size
      // REBUILT frames (fresh expression IDs) with identical plans+data must
      // reuse the same cache key — a plan-toString hash minted a new label per
      // construction, growing the checkpointed catalog on every call
      orders.joinWithQuery(custs, "join on cust_id showing order_id and cname")
      assert(g.transformations.size === afterFirst)
    } finally graft.core.TableGraph.setDefault(prevDefault)
  }

  test("NotSoMagicTable.clearAllData wipes the target graph") {
    val g = graph
    MagicTable.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "t", g).register()
    assert(g.getNode("t").isDefined)
    graft.core.NotSoMagicTable.clearAllData(g)
    assert(g.getNode("t").isEmpty && g.allChains.isEmpty)
  }

  /** The native flow's fixtures: two API sources and a per-row chain. */
  private val flowFetcher = new graft.sources.MapFetcher(Map(
    "http://api/items" -> """[{"id":1,"grp":"g1","score":5},{"id":2,"grp":"g2","score":7}]""",
    "http://api/regions" -> """[{"grp":"g1","region":"emea"},{"grp":"g2","region":"amer"}]""",
    "http://api/groups/g1" -> """{"owner":"ann"}""",
    "http://api/groups/g2" -> """{"owner":"bob"}"""))

  test("warm fromSource and chain hits schedule no Spark job before an action") {
    val g = graph
    val src = graft.sources.ApiSource("http://api/items")
    val cold = MagicTable.fromSource(spark, src, flowFetcher, g)
    val chained = cold.chain("http://api/groups/{grp}", flowFetcher)
    val (warm, sourceJobs) = withJobs(MagicTable.fromSource(spark, src, flowFetcher, g))
    assert(sourceJobs.jobs === 0)
    val (hit, chainJobs) = withJobs(warm.chain("http://api/groups/{grp}", flowFetcher))
    assert(chainJobs.jobs === 0)
    assert(hit.name === chained.name)
    assert(hit.df.schema === chained.df.schema)
    assert(hit.df.collect().toSet === chained.df.collect().toSet)
    assert(hit.df.select("api_owner").as[String].collect().toSet === Set("ann", "bob"))
  }

  test("each public call writes the catalog checkpoint at most once, keeping its contents") {
    val g = graph
    // a reload sees exactly the live graph: no mutation waits on a later write
    def sameOnDisk(): Unit = {
      val r = new TableGraph(g.warehouseDir)
      assert(r.allNodes.map(n => (n.name, n.path, n.rowCount, n.schema)) ===
        g.allNodes.map(n => (n.name, n.path, n.rowCount, n.schema)))
      assert(r.allChains === g.allChains)
      assert(r.transformations === g.transformations)
    }
    def writes[T](call: => T): (T, Long) = {
      val before = g.checkpointWrites
      val out = call
      sameOnDisk()
      (out, g.checkpointWrites - before)
    }
    def flow(): Seq[Long] = {
      val (items, w1) = writes(MagicTable.fromSource(spark,
        graft.sources.ApiSource("http://api/items"), flowFetcher, g))
      val (regions, w2) = writes(MagicTable.fromSource(spark,
        graft.sources.ApiSource("http://api/regions"), flowFetcher, g))
      val (picked, w3) = writes(items.transform("where score >= 5 showing id, grp and score"))
      val (chained, w4) = writes(picked.chain("http://api/groups/{grp}", flowFetcher))
      val (joined, w5) = writes(chained.joinWithQuery(regions, "left join on grp"))
      val (_, w6) = writes(joined.register())
      Seq(w1, w2, w3, w4, w5, w6)
    }
    // cold: two source misses, a transform, a chain miss, a join, a register
    assert(flow() === Seq(1L, 1L, 1L, 1L, 1L, 1L))
    assert(g.allChains.size === 3)
    // warm: source and chain hits write nothing; transform and join find
    // their lineage edge already recorded; register rewrites its table
    assert(flow() === Seq(0L, 0L, 0L, 0L, 0L, 1L))
    assert(g.allChains.size === 3)
  }
}
