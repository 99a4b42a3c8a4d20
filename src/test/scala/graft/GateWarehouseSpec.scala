package graft

/** The gate warehouse: inputs several gates share (the minhash pair list,
  * the shingle sets, c20's registered dims) are written once per (JVM,
  * sfDir) and read back in the caller's session. */
class GateWarehouseSpec extends SparkSpecBase {

  // the sf0.001 fixture directory the shared `testdata` helper reads
  private lazy val dir = java.nio.file.Paths.get(
    new java.net.URI(testdata("sf0.001", "documents").inputFiles.head)).getParent.toString

  test("p20 then p61: the second pair-graph gate writes no table, and the pairs are the minhash pairs") {
    SparkEntry.queries("p20_dup_clusters")(spark, dir).collect()
    val (p61, cost) = withJobs(SparkEntry.queries("p61_pagerank")(spark, dir).collect())
    assert(p61.nonEmpty)
    val writes = cost.stages.filter(_.name.contains("graft register minhash_pairs"))
    assert(writes.isEmpty, writes)
    val fresh = graft.operators.Dedup.nearDupPairsMinhash(
      testdata("sf0.001", "documents"), "doc_id", "text",
      shingleN = 3, numHashes = 8, rowsPerBand = 1, threshold = 0.8)
    assert(SparkEntry.minhashPairs(spark, dir).collect().toSet === fresh.collect().toSet)
  }

  // NL routing over the shared catalog must pick the nation dim, never
  // the pair list or the shingle sets staged beside it
  test("c20 routes to the nation table of a shared gate warehouse") {
    SparkEntry.minhashPairs(spark, dir)
    SparkEntry.queries("p69_jaccard_prefix")(spark, dir)
    val rows = SparkEntry.queries("c20_graph_query")(spark, dir).collect().map(_.getString(0))
    val nation = testdata("sf0.001", "nation")
    val expected = nation.filter("n_regionkey = 0").select("n_name").collect().map(_.getString(0))
    assert(rows.sorted.toSeq === expected.sorted.toSeq)
  }
}
