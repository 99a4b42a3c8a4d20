package graft

import graft.operators.{Dedup, DupClusters, Scale}
import org.apache.spark.sql.functions._

class DupClustersSpec extends SparkSpecBase {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]) =
    DupClusters.connectedComponents(pairs.toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toSet

  test("components of a chain, a triangle, and a singleton pair") {
    // chain 1-2-3-4 (pairwise-similar but NOT transitive — the case that
    // makes components the right semantics), triangle 10-11-12, pair 20-21
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)))
    assert(got === Set(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L)))
  }

  test("long path converges to one min-rooted component (log-round contraction)") {
    // path 0-1-2-...-63: worst case for naive propagation; large/small-star
    // must still contract it within the default round budget
    val path = (0L until 63L).map(i => (i, i + 1))
    val got = cc(path)
    assert(got === (0L to 63L).map(i => (i, 0L)).toSet)
  }

  test("driver-local union-find is identical to the forced-distributed star rounds") {
    // chain + triangle + stars + singletons, shuffled edge orientations
    val pairs = Seq((5L, 1L), (1L, 9L), (9L, 13L), (2L, 40L), (40L, 2L),
      (100L, 3L), (3L, 7L), (7L, 100L), (50L, 60L), (61L, 60L), (62L, 60L))
    val local = cc(pairs) // 11 edges <= default cutoff -> driver union-find
    def distributed(ps: Seq[(Long, Long)]) = withConf(Scale.DriverLocalMaxRows, "0")(cc(ps))
    assert(local === distributed(pairs),
      "local and distributed connected components must assign identically")
    // at a lowered cutoff N: N-1 and N distinct edges run union-find on the
    // driver, N+1 the star rounds; each must match the forced-distributed run
    val distinctEdges = pairs.filterNot(_ == ((40L, 2L)))
    val n = 6
    for (edges <- Seq(n - 1, n, n + 1)) {
      val ps = distinctEdges.take(edges)
      assert(withConf(Scale.DriverLocalMaxRows, n.toString)(cc(ps)) === distributed(ps),
        s"$edges edges at cutoff $n")
    }
  }

  test("self-pairs, nulls and duplicate/reversed edges are tolerated") {
    val pairs = Seq(
      (Some(1L), Some(1L)),   // self-loop: dropped (1 has no real edge)
      (Some(2L), Some(3L)), (Some(3L), Some(2L)), (Some(2L), Some(3L)),
      (None, Some(4L)), (Some(5L), None) // nulls: dropped
    ).toDF("id_a", "id_b")
    val got = DupClusters.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 2L), (3L, 2L)))
  }

  test("empty pair list yields an empty assignment") {
    assert(cc(Seq.empty) === Set.empty)
  }

  test("maxIters guard rails") {
    intercept[IllegalArgumentException] {
      DupClusters.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b"),
        "id_a", "id_b", maxIters = 0)
    }
  }

  test("dedupByPairs keeps the min id per cluster and every unpaired row") {
    val corpus = (1L to 10L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val kept = DupClusters.dedupByPairs(corpus, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(1L, 4L, 5L, 6L, 7L, 8L, 10L))
  }

  test("end-to-end: minhash pairs -> clusters on real documents") {
    val docs = testdata("sf0.001", "documents")
    val pairs = Dedup.nearDupPairsMinhash(docs, "doc_id", "text",
      shingleN = 3, numHashes = 8, rowsPerBand = 1, threshold = 0.8)
    val assign = DupClusters.connectedComponents(pairs, "id_a", "id_b")
    val nodes = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct().count()
    assert(assign.count() === nodes, "one assignment row per paired doc")
    // every cluster root is a member of its own cluster
    val roots = assign.select("cluster_id").distinct().as[Long].collect().toSet
    val ids = assign.select("id").as[Long].collect().toSet
    assert(roots.subsetOf(ids))
    // cluster_id is the min member
    val badRoot = assign.groupBy("cluster_id").agg(min("id").as("mn"))
      .filter(col("mn") =!= col("cluster_id")).count()
    assert(badRoot === 0L)
  }

  test("dedupByPairsKeepBest: highest score survives, ties to min id, null scores lose") {
    val docs = Seq(
      (1L, Some(5.0)), (2L, Some(9.0)), (3L, Some(9.0)), // cluster {1,2,3}
      (4L, Option.empty[Double]), (5L, Some(1.0)),       // cluster {4,5}
      (7L, Some(0.0)))                                   // isolated, kept untouched
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = DupClusters.dedupByPairsKeepBest(docs, "doc_id", "q", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // {1,2,3}: max score 9 tied between 2 and 3 -> keep 2;
    // {4,5}: null loses to 1.0 -> keep 5; 7 has no pair -> kept
    assert(kept === Seq(2L, 5L, 7L))
    // against the min-id rule: dedupByPairs would keep 1 and 4 instead
    val minId = DupClusters.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(minId === Seq(1L, 4L, 7L))
  }
}
