package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics over edge lists (beyond-reference,
  * SURVEY.md §2.4). [[DupClusters]] owns connected components; this file
  * holds PageRank (Page et al. 1999) — the standard authority score for
  * curation weighting (rank domains by link authority, rank documents by
  * centrality in the near-dup neighborhood graph).
  *
  * 100 TB shape: the textbook MapReduce formulation — per iteration one
  * join of edges×ranks on the source key, one map-side-combinable inflow
  * aggregation on the destination key, one bounded (1-row) dangling-mass
  * aggregate, all staged per round ([[Stager.Rounds]]) so
  * lineage cannot stack across iterations (the [[DupClusters]] rule).
  * Driver sees only two scalars per call (node count, per-round stage
  * actions) — never vertex data.
  *
  * Determinism (the p26/p61 oracle contract): per-(src,dst) contribution
  * pr/outdeg is one IEEE division; inflow sums contributions through
  * DECIMAL(38,18) (order-independent); each iteration's rank is rounded
  * through DECIMAL(25,12), which absorbs the ≤2 ulp noise from literal
  * arithmetic differing across engines (e.g. DuckDB computes 1.0-0.85 in
  * exact decimal, the JVM in binary64 — 2e-17 apart, 5 orders below the
  * rounding grain).
  */
object Graphs {

  /** Link-prediction scores over an undirected edge list (Liben-Nowell &
    * Kleinberg 2003): for every NON-adjacent node pair with at least one
    * common neighbor — the 2-hop candidates — the three classic scores:
    * common-neighbor count, neighborhood Jaccard, and Adamic–Adar
    * Σ 1/ln(deg(n)) over shared neighbors (rare shared neighbors count
    * more). The entity-resolution companion to the near-dup pair graph:
    * a high-scoring non-edge is a pair the pairwise threshold missed but
    * the neighborhood structure vouches for. Output: (id_a, id_b — the
    * canonical a<b orientation, common_neighbors long, jaccard,
    * adamic_adar doubles — adamic_adar REPORTED at 9 dp). Self-loops,
    * duplicate edges and NULL endpoints drop.
    *
    * Exactness: counts and degrees are exact; each AA term is
    * 1/ln9(deg) (the shared 9-dp ln contract) quantized to 9 dp and
    * summed in exact decimal; jaccard is ONE division of exact integers
    * (|Γa ∩ Γb| / (deg a + deg b − |Γa ∩ Γb|)).
    *
    * 100 TB shape: wedge enumeration — one self-join of the symmetric
    * edge list on the CENTER node, Σ_n deg(n)² pairs (the
    * [[triangleCount]] wedge bound). Hubs explode that square: pass
    * `maxCenterDegree` to cut wedge centers above a degree cap (the
    * containment maxDf posture — a node with 10⁶ neighbors certifies
    * nothing about any single pair). Everything else is degree joins
    * and one anti-join against the edge list — map-side-combinable
    * aggregations on (pair) keys, no window.
    *
    * Capped-mode semantics: with `maxCenterDegree` set,
    * common_neighbors and adamic_adar count only wedges through
    * UNCAPPED centers, but the jaccard denominator keeps each
    * endpoint's FULL degree — so capped jaccard is a conservative
    * LOWER BOUND (truncated intersection / untruncated union), not
    * the jaccard of any consistent subgraph. This is deliberate: the
    * full degrees are free (one aggregation, no wedge blow-up) and a
    * lower bound never promotes a pair the exact score wouldn't. */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
      maxCenterDegree: Option[Long] = None): DataFrame = {
    maxCenterDegree.foreach(m => require(m >= 2L,
      s"maxCenterDegree must be >= 2, got $m"))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val canon = Stager.stage(
      edges.select(
          least(col(s"`$aCol`"), col(s"`$bCol`")).as("__a"),
          greatest(col(s"`$aCol`"), col(s"`$bCol`")).as("__b"))
        .filter(col("__a").isNotNull && col("__b").isNotNull &&
          col("__a") =!= col("__b"))
        .distinct(),
      s"linkpred_edges_$runId")
    val sym = canon.select(col("__a").as("__u"), col("__b").as("__v"))
      .unionAll(canon.select(col("__b").as("__u"), col("__a").as("__v")))
    val deg = sym.groupBy(col("__u")).agg(count(lit(1)).as("__d"))
    val centers = maxCenterDegree.fold(deg)(m => deg.filter(col("__d") <= m))
    // wedges: both endpoints hang off the shared center __u
    val wa = sym.join(centers, Seq("__u"))
      .select(col("__u").as("__n"), col("__v").as("__x"), col("__d").as("__dn"))
    val wb = sym.select(col("__u").as("__n"), col("__v").as("__y"))
    val aaTerm = round((lit(1.0) /
        round(log(col("__dn").cast("double")).cast(DecimalType(25, 12)), 9)
          .cast("double"))
      .cast(DecimalType(25, 12)), 9).cast(DecimalType(25, 9))
    val cand = wa.join(wb, Seq("__n"))
      .filter(col("__x") < col("__y"))
      .groupBy(col("__x"), col("__y"))
      .agg(count(lit(1)).as("common_neighbors"), sum(aaTerm).as("__aa"))
      .join(canon, col("__x") === col("__a") && col("__y") === col("__b"),
        "left_anti")
    cand
      .join(deg.select(col("__u").as("__x"), col("__d").as("__da")), Seq("__x"))
      .join(deg.select(col("__u").as("__y"), col("__d").as("__db")), Seq("__y"))
      .select(col("__x").as("id_a"), col("__y").as("id_b"),
        col("common_neighbors"),
        (col("common_neighbors").cast("double") /
          (col("__da") + col("__db") - col("common_neighbors")).cast("double"))
          .as("jaccard"),
        round(col("__aa").cast("double").cast(DecimalType(25, 12)), 9)
          .cast("double").as("adamic_adar"))
  }

  /** PageRank over directed edges. Dangling mass (nodes with no
    * out-edges) is redistributed uniformly, per the original paper.
    * Returns (id, pr). Self-loops and duplicate edges are dropped
    * (`distinct` on the canonical edge list); null endpoints dropped. */
  def pagerank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val e = Stager.stage(
      edges.select(col(s"`$srcCol`").as("u"), col(s"`$dstCol`").as("v"))
        .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
        .distinct(),
      s"pagerank_edges_$runId")
    val nodes = Stager.stage(
      e.select(col("u").as("id")).unionAll(e.select(col("v").as("id"))).distinct(),
      s"pagerank_nodes_$runId")
    // one driver scalar — the graph's node count; bounded at any scale
    val n = nodes.count().toDouble
    val outdeg = Stager.stage(
      e.groupBy(col("u")).agg(count(lit(1)).as("__outdeg")),
      s"pagerank_outdeg_$runId")
    val jump = 1.0 - damping

    var pr = nodes.withColumn("pr", lit(1.0 / n))
    // at most two live rank stages instead of O(iters) copies of the
    // vertex frame (Stager.Rounds)
    val rounds = new Stager.Rounds
    for (i <- 1 to iters) {
      val inflow = e
        .join(pr.select(col("id").as("u"), col("pr")), "u")
        .join(outdeg, "u")
        .select(col("v").as("id"),
          (col("pr") / col("__outdeg").cast("double")).as("__c"))
        .groupBy(col("id"))
        .agg(sum(col("__c").cast(DecimalType(38, 18))).cast("double").as("__in"))
      val dangling = pr.join(outdeg.select(col("u").as("id")), Seq("id"), "left_anti")
        .agg(coalesce(sum(col("pr").cast(DecimalType(38, 18))),
          lit(0).cast(DecimalType(38, 18))).cast("double").as("__dang"))
      pr = rounds.next(
        nodes.join(inflow, Seq("id"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("id"),
            (lit(jump) / lit(n) + lit(damping) *
              (coalesce(col("__in"), lit(0.0)) + col("__dang") / lit(n)))
              .cast(DecimalType(25, 12)).cast("double").as("pr")),
        s"pagerank_iter_${runId}_$i")
    }
    pr
  }

  /** Exact triangle count over an undirected edge list, via the
    * degree-ordered node-iterator (Suri & Vassilvitskii, WWW 2011,
    * "Counting triangles and the curse of the last reducer").
    *
    * Edges are canonicalized (unordered pair, self-loops/nulls/dups
    * dropped), then DIRECTED from the lower-ranked endpoint to the
    * higher, where rank = (degree, id). Under that orientation every
    * vertex's out-degree is O(sqrt(m)), so the wedge self-join fans out
    * to at most O(m^1.5) rows TOTAL no matter how skewed the degree
    * distribution — a 10^8-follower hub generates zero wedges at the hub
    * (the "last reducer" fix). Wedges (ordered out-neighbor pairs of one
    * vertex) joined against the directed edge set close each triangle
    * exactly once.
    *
    * Cost: three shuffles (degree agg, wedge self-join, closing join) +
    * one count. No driver-side data at any scale. The canonical and the
    * oriented edge lists are staged ([[Stager]]) because each feeds 3+
    * plan subtrees (deg twice + withDeg; x/y/closing) — unstaged,
    * Catalyst's per-consumer pruning re-expands every copy and the base
    * edge table lands in the final plan ~15 times; staged, it is read
    * exactly once.
    *
    * Returns one row `(n_triangles: long)` — 0 via an empty-safe agg.
    */
  def triangleCount(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val raw = edges.select(col(s"`$srcCol`").as("a"), col(s"`$dstCol`").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    val canon = Stager.stage(
      raw
        .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
        .distinct(),
      s"triangles_canon_$runId")
    val deg = canon.select(col("u").as("id")).unionAll(canon.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    // orient low-rank -> high-rank; carry the DESTINATION's degree so the
    // wedge join can order neighbor pairs by rank without re-joining deg
    val lt = (col("du") < col("dv")) || (col("du") === col("dv") && col("u") < col("v"))
    val dir = Stager.stage(
      withDeg.select(
        when(lt, col("u")).otherwise(col("v")).as("s"),
        when(lt, col("v")).otherwise(col("u")).as("d"),
        when(lt, col("dv")).otherwise(col("du")).as("dd")),
      s"triangles_dir_$runId")
    val x = dir.select(col("s"), col("d").as("w1"), col("dd").as("dd1"))
    val y = dir.select(col("s"), col("d").as("w2"), col("dd").as("dd2"))
    val wedges = x.join(y, "s")
      .filter((col("dd1") < col("dd2")) ||
        (col("dd1") === col("dd2") && col("w1") < col("w2")))
      .select(col("w1"), col("w2"))
    // the closing edge w1-w2 is directed w1 -> w2 (w1 outranked by w2)
    wedges
      .join(dir.select(col("s").as("w1"), col("d").as("w2")), Seq("w1", "w2"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** SYNCHRONOUS label propagation (Raghavan, Albert & Kumara 2007):
    * community detection over an undirected edge list — the cheap
    * community pass for duplicate-family / domain-cluster analysis
    * where connected components are too coarse (one bridge edge merges
    * everything) and modularity methods too heavy. Init: every node
    * labels itself; each round, EVERY node simultaneously adopts the
    * most frequent label among its neighbors, ties to the SMALLEST
    * label — fully deterministic, unlike the paper's async random
    * sweep (the price: possible 2-cycles on bipartite-ish structure,
    * which fixed `iters` bounds anyway; integer counts, no FP).
    * Returns (id, label) after `iters` rounds.
    *
    * 100 TB shape: per round ONE edges×labels equi-join on the
    * neighbor key, one map-side-combinable (node, label) count, one
    * per-node argmax window over that count frame — the PageRank
    * MapReduce shape with labels for ranks; rounds stage through
    * [[Stager.Rounds]] with the two-live-snapshots release rule.
    * The symmetrized edge list means every node has >= 1 neighbor, so
    * no dangling branch exists. */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val raw = edges.select(col(s"`$srcCol`").as("u"), col(s"`$dstCol`").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val sym = Stager.stage(
      raw.unionAll(raw.select(col("v").as("u"), col("u").as("v"))).distinct(),
      s"lpa_edges_$runId")
    val nodes = Stager.stage(
      sym.select(col("u").as("id")).distinct(), s"lpa_nodes_$runId")
    var lab = nodes.withColumn("label", col("id"))
    val rounds = new Stager.Rounds
    for (i <- 1 to iters) {
      val counts = sym
        .join(lab.select(col("id").as("v"), col("label")), "v")
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("__c"))
      val w = Window.partitionBy(col("u"))
        .orderBy(col("__c").desc, col("label"))
      lab = rounds.next(
        counts.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("u").as("id"), col("label")),
        s"lpa_iter_${runId}_$i")
    }
    lab
  }

  /** k-core peel (Seidman 1983) of an UNDIRECTED edge list: `rounds`
    * synchronous rounds of "drop every node with degree < k, then drop
    * edges touching dropped nodes" — at convergence the survivors are
    * exactly the k-core, the standard "dense duplicate community"
    * extractor over [[DupClusters]]' near-dup pair graph (a 2-core
    * strips the dangling chains that inflate component sizes; a 3-core
    * keeps only genuinely clustered boilerplate families). Runs EXACTLY
    * `rounds` peels — peeling a converged graph is a no-op, so extra
    * rounds are idempotent and the round count is part of the
    * deterministic contract (the p61 PageRank rule); size `rounds` ≥
    * the expected peel depth (ln of the max chain length; 8 covers any
    * realistic dup graph). Self-loops, NULL endpoints, and duplicate
    * edges drop. Output: (id, degree long — the node's degree INSIDE
    * the surviving subgraph), survivors only.
    *
    * 100 TB shape: per round, one degree aggregation (map-side
    * combinable) and two semi-joins keyed on the endpoints; round k−1's
    * staged edge set is released when round k materializes (the
    * labelPropagation two-snapshot rule). */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 64,
      s"kCore: rounds must be in [1, 64], got $rounds")
    val e0 = edges
      .filter(col(s"`$aCol`").isNotNull && col(s"`$bCol`").isNotNull &&
        col(s"`$aCol`") =!= col(s"`$bCol`"))
      .select(col(s"`$aCol`").as("u"), col(s"`$bCol`").as("v"))
    val sym = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v"))).distinct()
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val peels = new Stager.Rounds
    var e = peels.next(sym, s"kcore_${runId}_0")
    for (i <- 1 to rounds) {
      val keep = e.groupBy(col("u")).agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k.toLong).select(col("u"))
      e = peels.next(
        e.join(keep, Seq("u"), "left_semi")
          .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v")),
        s"kcore_${runId}_$i")
    }
    e.groupBy(col("u").as("id")).agg(count(lit(1)).as("degree"))
  }

  /** Degree assortativity coefficient (Newman 2002) of an UNDIRECTED
    * edge list — the Pearson correlation of the degrees at the two ends
    * of every edge: positive = hubs link to hubs (a social-network
    * shape), negative = hubs link to leaves (the web/near-dup-star
    * shape — exactly what a boilerplate hub in the similarity graph
    * produces, making this the one-number audit of [[DupClusters]]'s
    * pair graph before trusting its components). Input rows are one
    * edge each (deduped, either orientation); self-loops and NULL
    * endpoints drop. One row: (n_nodes, n_edges longs, assortativity
    * double — NULL when degenerate: no edges or zero variance, e.g. a
    * pure k-regular graph).
    *
    * Exactness: degrees are exact integers; over the symmetrized edge
    * list Σx = Σy and Σx² = Σy², so r = (2M·Σxy − (Σx)²) / (2M·Σx² −
    * (Σx)²) needs only DECIMAL(38,0) integer sums, one subtraction
    * pair, and ONE division — no FP accumulation, no sqrt (the
    * symmetric-Pearson identity makes the two variance factors equal).
    *
    * 100 TB shape: one degree aggregation (map-side combinable), two
    * hash joins of the edge list against the degree table (both keyed —
    * broadcast when the node set is small, shuffle-hash otherwise), one
    * scalar aggregate. No window, no cross join. */
  def degreeAssortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val e0 = edges
      .filter(col(s"`$aCol`").isNotNull && col(s"`$bCol`").isNotNull &&
        col(s"`$aCol`") =!= col(s"`$bCol`"))
      .select(col(s"`$aCol`").as("__u"), col(s"`$bCol`").as("__v"))
    val sym = e0.unionAll(e0.select(col("__v").as("__u"), col("__u").as("__v")))
    val deg = sym.groupBy(col("__u")).agg(count(lit(1)).as("__d"))
    val joined = sym
      .join(deg, Seq("__u"))
      .join(deg.select(col("__u").as("__v"), col("__d").as("__dv")), Seq("__v"))
    val a = joined.agg(
      count(lit(1)).as("__m2"),
      sum(col("__d").cast(dec38)).as("__sx"),
      sum(col("__d").cast(dec38) * col("__d")).as("__sxx"),
      sum(col("__d").cast(dec38) * col("__dv")).as("__sxy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val num = (col("__m2").cast(dec38) * col("__sxy") - col("__sx") * col("__sx"))
      .cast("double")
    val den = (col("__m2").cast(dec38) * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double")
    nodes.crossJoin(broadcast(a)).select(
      col("n_nodes"), expr("__m2 div 2").as("n_edges"),
      when(col("__m2") > 0L && den =!= 0.0, num / den).as("assortativity"))
  }
}
