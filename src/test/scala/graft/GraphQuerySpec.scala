package graft

import graft.core.TableGraph
import graft.functions.GraphQuery

/** NL querying over the whole graph (reference README.md:250-277, the
  * WIP feature whose embedding half was dead code there). */
class GraphQuerySpec extends SparkSpecBase {
  import spark.implicits._

  private def freshGraph = new TableGraph(
    java.nio.file.Files.createTempDirectory("graft_gq").toString)

  private def seeded: TableGraph = {
    val g = freshGraph
    g.addTable("orders", Seq((100, 1, 10.0), (101, 1, 30.0), (102, 2, 20.0))
      .toDF("order_id", "cust_id", "total_price"))
    g.addTable("customers", Seq((1, "ann", "emea"), (2, "bob", "amer"))
      .toDF("cust_id", "cust_name", "segment"))
    g.addTable("events", Seq((1L, "click"), (2L, "view"))
      .toDF("event_id", "event_type"))
    g
  }

  test("rankTables routes a query to the table it talks about") {
    val g = seeded
    def top(q: String) = GraphQuery.rankTables(spark, g, q).head._1.name
    assert(top("top 2 orders by total price") === "orders")
    assert(top("customers in segment emea") === "customers")
    assert(top("count events per event type") === "events")
  }

  test("rankTables never routes to a staging table") {
    val g = seeded
    graft.operators.Stager.Parquet(g).stage(
      Seq((100, 10.0)).toDF("order_id", "total_price"), "orders_total_price")
    val ranked = GraphQuery.rankTables(spark, g, "top 2 orders by total price").map(_._1.name)
    assert(ranked.toSet === Set("orders", "customers", "events"))
  }

  test("queryNl routes + compiles + executes in one call") {
    val out = GraphQuery.queryNl(spark, seeded,
      "top 2 by total_price desc showing order_id and total_price")
    assert(out.as[(Int, Double)].collect().toSeq === Seq((101, 30.0), (102, 20.0)))
  }

  test("queryNl handles natural phrasing that mentions the routed table") {
    // "orders" is prose (the routing hint), "total price" is a phrase form
    // of total_price — strict mode must compile this, not hard-error
    val out = GraphQuery.queryNl(spark, seeded, "top 2 orders by total price")
    assert(out.select("order_id").as[Int].collect().toSeq === Seq(101, 102))
  }

  test("queryNl strips the routed table's name tokens when they block a clause") {
    // "customers" is the routing hint but lands inside the show-clause
    // capture, resolves to no column, and would hard-error strict mode —
    // the retry with table-name tokens stripped must recover it
    val out = GraphQuery.queryNl(spark, seeded, "show customers names and segment")
    assert(out.columns.toSeq === Seq("cust_name", "segment"))
    assert(out.as[(String, String)].collect().toSet === Set(("ann", "emea"), ("bob", "amer")))
  }

  test("queryNl stripped-retry must not silently drop a clause whose tokens " +
    "coincide with the table name") {
    val g = freshGraph
    g.addTable("total_sales", Seq((1, "emea", 10.0), (2, "amer", 30.0))
      .toDF("sale_id", "region", "amount"))
    // "by total sales" is a sort clause on unresolvable columns; stripping
    // the table-name tokens leaves "top 3 by" — accepting that compile
    // would return 3 arbitrary UNSORTED rows with no error
    intercept[IllegalArgumentException] {
      GraphQuery.queryNl(spark, g, "top 3 total_sales by total sales")
    }
  }

  test("queryNl routes past a higher-ranked table its clauses do not resolve on") {
    val g = freshGraph
    for (dim <- Seq("region", "nation")) g.addTable(dim, testdata("sf0.001", dim))
    // a registered (not staged) table with the gate warehouse's
    // shingle_sets columns: feature hashing ranks it above nation for
    // c20's phrase, but none of the phrase's columns is one of its own
    g.addTable("shingle_sets", Seq((1L, Seq("a b c"), 1)).toDF("doc_id", "__shingles", "__sz"))
    val q = "where n_regionkey = 0 by n_name asc showing n_name"
    val out = GraphQuery.queryNl(spark, g, q)
    val want = testdata("sf0.001", "nation").filter("n_regionkey = 0")
      .select("n_name").as[String].collect().sorted.toSeq
    assert(want.nonEmpty)
    assert(out.as[String].collect().toSeq === want)
  }

  test("queryNl refuses an empty graph") {
    intercept[IllegalArgumentException] {
      GraphQuery.queryNl(spark, freshGraph, "top 5 anything")
    }
  }

  test("queryNl refuses when no clause resolves on the routed table (review regression)") {
    // hash collisions make SOME table score > 0 for almost any text; if the
    // query's clauses then resolve nowhere, running it would return the
    // routed table unfiltered — must error instead
    intercept[IllegalArgumentException] {
      GraphQuery.queryNl(spark, seeded, "where n_regionkey = 0 showing n_name")
    }
  }

  test("profile carries name, columns, underscore fragments and source lineage") {
    val g = freshGraph
    val mt = new graft.core.MagicTable(
      Seq((1, 2.0)).toDF("o_orderkey", "o_totalprice"), "orders_t",
      Seq(graft.sources.ApiSource("http://api/orders")), g)
    mt.register()
    val p = GraphQuery.profile(spark, g.getNode("orders_t").get)
    for (tok <- Seq("orders_t", "o_orderkey", "orderkey", "totalprice", "http://api/orders"))
      assert(p.contains(tok), s"missing $tok in: $p")
  }

  test("cosine normalizes (non-unit embedders rank by relevance, not magnitude)") {
    assert(GraphQuery.cosine(Array(2f, 0f), Array(4f, 0f)) === 1.0)
    assert(GraphQuery.cosine(Array(1f, 0f), Array(0f, 3f)) === 0.0)
    intercept[IllegalArgumentException] {
      GraphQuery.cosine(Array(1f), Array(1f, 2f))
    }
  }

  test("rankTables routes on the recorded schemas without a Spark job") {
    val g = seeded
    val (ranked, cost) = withJobs(GraphQuery.rankTables(spark, g, "top 2 orders by total price"))
    assert(cost.jobs === 0)
    assert(ranked.map(_._1.name).toSet === Set("orders", "customers", "events"))
    assert(ranked.head._1.name === "orders")
  }
}
