package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution (beyond-reference, SURVEY.md §2.4): turn
  * the PAIR output of the near-dup detectors ([[Dedup.nearDupPairsMinhash]]
  * / Simhash / embedding-LSH) into per-document cluster assignments and a
  * canonical-kept corpus. Near-duplicate similarity is not transitive, so
  * the standard corpus-dedup semantics — used by every public pipeline
  * that chains MinHash into dedup — is: build the similarity graph, take
  * CONNECTED COMPONENTS as duplicate clusters, keep one canonical doc
  * (min id) per cluster.
  *
  * Components come from the alternating large-star/small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC 2014): each round is two groupBy-shuffles over the edge list and
  * the edge count never grows past the input size; convergence is
  * O(log² n) rounds — in practice 2–4 for dedup graphs, whose components
  * are near-cliques of bounded size. That is the 100 TB shape: no driver
  * iteration over vertices, no transitive-closure blow-up, shuffle volume
  * O(|pairs|) per round keyed by node id. Each round is staged
  * ([[Stager.Rounds]]) so the iterative loop's lineage cannot stack
  * (localCheckpoint default; clusters needing fault tolerance run it
  * inside `Stager.using(Stager.Parquet(graph))` — trade-offs in
  * [[Stager]]'s scaladoc).
  */
object DupClusters {

  /** Connected-component assignment from an undirected pair list.
    *
    * Returns one row per distinct node id in `pairs`: (id, cluster_id)
    * with cluster_id = the MINIMUM id in the node's component (roots map
    * to themselves). Self-pairs and null ids drop out. Ids must be of an
    * orderable type; `min` over the id type defines the canonical root.
    *
    * Fails with IllegalStateException if the graph has not converged
    * after `maxIters` rounds (each round is 2 shuffles; 20 covers any
    * graph up to ~2^20 diameter — a mis-wired pair generator, not data,
    * is the realistic cause).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int = 20): DataFrame = {
    require(maxIters > 0, s"maxIters must be positive, got $maxIters")
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val a = col(s"`$aCol`")
    val b = col(s"`$bCol`")

    // convergence signature: order-insensitive content hash + count.
    // xxhash64 over both columns, summed — collision odds over 64 bits are
    // negligible against maxIters more rounds of the exact fixed point.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(
        count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // Stage a round's edges AND collect the signature from the SAME pass:
    // an Observation rides the staging action (CollectMetrics), so the
    // stage pays no second scan of the edge set — at cluster scale that
    // second scan is a full distributed pass per round. Each round goes
    // through `rounds`, which releases round k-1 once round k is staged,
    // so at most TWO round snapshots are ever live (at 100 TB an
    // unreleased loop keeps O(rounds) copies of the edge frontier).
    val rounds = new Stager.Rounds
    def stageWithSig(e: DataFrame, name: String): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation(name + "_sig")
      val staged = rounds.next(
        e.observe(obs,
          count(lit(1)).as("n"),
          coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)).as("h")),
        name)
      // the stage already ran the action, so the metrics are usually
      // delivered within 1-8 ms. The wait must stay SHORT: delivery rides
      // the listener bus, and when that bus is saturated (measured in
      // round 9: a full bench pass queues enough events that delivery
      // lags multiple seconds — a 5 s await here tripled p20_dup_clusters,
      // 4.1s -> 14.0s, while the same loop in isolation delivered every
      // round in ms) the fallback aggregate is the cheaper path by far: it
      // re-reads the already-materialized STAGE (checkpoint blocks, not
      // the upstream plan), so it costs one scan of the edge set, not
      // seconds of driver stall per round. Fallback is logged — a
      // degradation the operator can see, never silent.
      try {
        val row = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(300, "ms"))
        (staged, (row.getAs[Long]("n"), row.getAs[Long]("h")))
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          org.slf4j.LoggerFactory.getLogger(DupClusters.getClass).warn(
            s"observation '$name' not delivered within 300ms; recomputing " +
              "the convergence signature with one aggregate over the " +
              "materialized stage (listener bus likely saturated)")
          (staged, signature(staged))
      }
    }

    // canonical directed edge u -> v with u > v (v is the smaller
    // neighbor); drop nulls and self-loops
    var (edges, sig) = stageWithSig(
      pairs
        .filter(a.isNotNull && b.isNotNull && a =!= b)
        .select(greatest(a, b).as("u"), least(a, b).as("v"))
        .distinct(),
      s"cc_edges_${runId}_0")
    // Edge sets at or below this count run union-find on the driver (the
    // bounded-driver-data rule of Vocab.bpeMergeLoop /
    // Classifier.trainLogistic): a near-dup pair graph is the SMALL
    // by-product of dedup — each distributed star round costs
    // 5+ stages (sym union, two grouped joins, stage, signature), and at
    // sample scale the whole loop is scheduling around microseconds of
    // work. Union-find with min-root unions computes the identical fixed
    // point (components labeled by their minimum member — order-free), so
    // the output frame is bit-identical; restricted to integral id types,
    // where driver ordering provably equals Spark's (strings would need
    // UTF8-binary care, and every gate graph is integer-keyed). The edge
    // count is the convergence signature already in hand — the gate is
    // free. Above the cutoff (or for non-integral ids) the star rounds
    // run unchanged (cutoff: Scale.DriverLocalMaxRows).
    val idType = edges.schema("u").dataType
    val integralId = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (integralId && sig._1 <= Scale.driverLocalMaxRows(pairs.sparkSession)) {
      val es = edges.select(col("u").cast("long"), col("v").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      rounds.release()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (u, v) =>
        parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
      }
      import scala.jdk.CollectionConverters._
      val out = parent.keys.toSeq.sorted
        .map(n => org.apache.spark.sql.Row(n, find(n)))
      val spark = pairs.sparkSession
      return spark.createDataFrame(out.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("cluster_id",
              org.apache.spark.sql.types.LongType, nullable = false))))
        .select(col("id").cast(idType).as("id"),
          col("cluster_id").cast(idType).as("cluster_id"))
    }
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // LARGE-STAR: for every node n, connect its strictly-LARGER
      // neighbors to m = min(N(n) ∪ {n}). On the symmetrized adjacency,
      // group by node, m = least(node, min(neighbor)); emit (bigger
      // neighbor, m).
      val sym = edges.select(col("u").as("n"), col("v").as("nb"))
        .unionAll(edges.select(col("v").as("n"), col("u").as("nb")))
      val largeMin = sym.groupBy(col("n"))
        .agg(least(col("n"), min(col("nb"))).as("m"))
      val large = sym.join(largeMin, "n")
        .filter(col("nb") > col("n"))
        .select(col("nb").as("u"), col("m").as("v"))
        .distinct()

      // SMALL-STAR: on the canonical (u > v) edges, for every node u
      // connect its smaller neighbors AND u itself to m = min(N(u) ∪ {u})
      // = min(neighbors) here, since all neighbors are < u.
      val smallMin = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(smallMin, "u")
        .select(col("v").as("n"), col("m"))
        .unionAll(smallMin.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()

      val (staged, next) = stageWithSig(small, s"cc_edges_${runId}_${it + 1}")
      edges = staged
      converged = next == sig
      sig = next
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIters rounds " +
          s"(${sig._1} edges) — raise maxIters or check the pair generator")

    // fixed point is a forest of stars u -> root; nodes: leaves + roots
    edges.select(col("u").as("id"), col("v").as("cluster_id"))
      .unionAll(edges.select(col("v").as("id"), col("v").as("cluster_id")))
      .distinct()
  }

  /** Keep one canonical row per duplicate cluster: drop every row whose id
    * appears in `pairs`' similarity graph with a smaller id in the same
    * component; rows never paired pass through untouched. A left-anti
    * join on the (id != cluster_id) assignment — one broadcast-sized (the
    * duplicate set is small by construction) or shuffle anti-join over the
    * corpus, chosen by AQE. */
  def dedupByPairs(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    val dupes = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(dupes, Seq(idCol), "left_anti")
  }

  /** [[dedupByPairs]] with a QUALITY keep rule: from each duplicate
    * cluster keep the member with the highest `scoreCol` (ties to the
    * smallest id), not the smallest id — the curation-correct variant:
    * min-id keeps whichever copy happened to be crawled first, keep-best
    * keeps the cleanest one. Docs in no pair keep their row untouched.
    *
    * 100 TB shape: on top of the [[connectedComponents]] rounds, ONE
    * score join (ids in clusters only — the duplicate subset, not the
    * corpus) and ONE per-cluster argmax window over that subset; the
    * final keep is a left-anti join on dropped ids. NULL scores rank
    * below every non-null score (a scoreless copy never beats a scored
    * one). */
  def dedupByPairsKeepBest(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = connectedComponents(pairs, aCol, bCol)
    val scored = members.join(
      df.select(col(s"`$idCol`").as("id"), col(s"`$scoreCol`").as("__score")),
      Seq("id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__score").desc_nulls_last, col("id"))
    val dropped = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }
}
