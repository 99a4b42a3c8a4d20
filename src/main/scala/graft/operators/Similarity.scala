package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]) — beyond-reference per SURVEY.md §2.4; the reference's
  * only embedding artifact is the dead generate_embeddings helper at
  * /root/reference/magictables/utils.py:179-242.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine over (queries x corpus). The query
  *    side is broadcast, so the corpus is scanned once with NO shuffle of
  *    the corpus vectors; per-row work is a codegen'd array aggregate.
  *    Correct at any corpus size as long as the QUERY set is small.
  *  - [[lshTopK]] — sign-random-projection LSH: corpus bucketed by an
  *    n-bit hyperplane-sign signature (deterministic planes derived from
  *    md5), multi-probe on the corpus side (each corpus row indexed under
  *    its bucket plus all hamming-1 buckets), exact re-rank inside the
  *    probed buckets. Shuffle volume is O(corpus x (nBits+1)) bucket keys,
  *    and the quadratic pair space is cut to same-bucket pairs — this is
  *    the 100 TB path.
  *
  * Dot products quantize per-element double products to DECIMAL(38,18) and
  * sum exactly, so results are order-independent and bit-identical in the
  * DuckDB oracle.
  */
object Similarity {

  private val Dec = DecimalType(38, 18)

  /** Degenerate vectors corrupt the score column two ways: a zero NORM
    * makes the cosine NULL (Spark's non-ANSI Divide returns null on a
    * zero divisor, even for doubles — and isnan(NULL) is false, so a bare
    * !isnan passes it into the rankings with a NULL cosine), while a NaN
    * COMPONENT makes it NaN, which Spark orders ABOVE every double and
    * would out-rank every real neighbor under `cosine DESC`. Every search
    * path filters both at the SCORE column, where one predicate
    * referencing one existing column suffices; filtering the norm columns
    * instead would re-reference the norm expression trees, and when the
    * vector column is itself an unmaterialized HOF tree (e.g.
    * hashEmbedding output) Catalyst's alias substitution multiplies those
    * copies into a plan-size blowup. */
  private def notNaN(score: Column): Column = score.isNotNull && !isnan(score)
  /** Descending order with degenerate scores LAST: NaN maps to -Inf
    * (nanvl) and NULL sorts last — so degenerate rows can never crowd a
    * margin or displace a real neighbor; the post-window rank filter then
    * drops them entirely (rank numbers stay contiguous because they rank
    * behind every kept row). */
  private def scoreDesc(score: Column): Column =
    nanvl(score, lit(Double.NegativeInfinity)).desc_nulls_last

  /** Exact, order-independent dot product of two float-array columns.
    * Scale-18 per-term quantization with an UNBOUNDED BigDecimal
    * accumulator ([[org.apache.spark.sql.graft.DecimalVecFold]]) — the
    * former expression-tree fold re-rounded the running sum to scale 17
    * each step (Spark decimal + overflows precision 38 and
    * allowPrecisionLoss trims), leaving the final double ~1 ulp from
    * DuckDB's exact int128 decimal sum; the native fold is exact like
    * DuckDB's, so only the documented double→decimal cast-boundary
    * family remains (ADVICE.md). Codegen'd loop, no per-element Decimal
    * boxing through interpreted lambdas. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DecimalVecDot.dot(a, b)

  /** Exact squared L2 norm (same exact-fold contract as [[dot]]). */
  def normSq(a: Column): Column =
    graft.functions.DecimalVecDot.normSq(a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Exact top-k cosine neighbors for each query vector. Norms are
    * precomputed per side (never recomputed per pair), queries broadcast.
    *
    * Two-phase: ALL pairs are ranked with the native codegen'd double dot
    * (FloatArrayDot, ~ns per pair), then only a 3k-per-query margin is
    * re-scored with the order-independent decimal dot that the DuckDB
    * oracle reproduces bit-for-bit. The margin is orders of magnitude
    * wider than the double-vs-decimal discrepancy (<1e-12 vs typical
    * cosine gaps), so the final top-k is the exact decimal ranking — the
    * oracle gate verifies this on every run. */
  /** Shared two-phase ranking core of [[bruteForceTopK]] and
    * [[hardNegatives]]: `c` carries (neighbor_id, __cv, __cn) and `q`
    * (query_id, __qv, __qn) plus any label columns; `pairFilter` is ANDed
    * into the pair predicate BEFORE any scoring.
    *
    * The degenerate-score guard lives in the POST-window filters: a
    * filter between the score projection and the window triggers an
    * optimizer substitution blowup on expression-valued vector columns
    * (hashEmbedding-shaped inputs) — measured as an OOM at 10g heap.
    * The math.max(3*k, k+10) margin is orders of magnitude wider than
    * the float-vs-decimal rank discrepancy; the final ranking is the
    * exact decimal one. One implementation so these invariants cannot
    * drift between the plain and the label-filtered search. */
  private def rankedTopK(c: DataFrame, q: DataFrame, k: Int,
      pairFilter: Column): DataFrame = {
    import graft.functions.FloatArrayDot
    val w = Window.partitionBy(col("query_id"))
      .orderBy(scoreDesc(col("cosine")), col("neighbor_id"))
    val wFast = Window.partitionBy(col("query_id"))
      .orderBy(scoreDesc(col("__fast")), col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id") && pairFilter)
      .withColumn("__fast",
        FloatArrayDot.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("__frank", row_number().over(wFast))
      .filter(col("__frank") <= math.max(3 * k, k + 10) && notNaN(col("__fast")))
      .withColumn("cosine", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", sqrt(normSq(col("__qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", sqrt(normSq(col("__cv"))))
    rankedTopK(c, q, k, lit(true))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus vectors with a DIFFERENT label — the classic
    * in-batch-negatives upgrade (dense retrieval / SimCSE-style training
    * needs negatives that are near misses, not random).
    *
    * Same two-phase shape as [[bruteForceTopK]] (codegen'd float-dot
    * prefilter over all pairs, decimal re-rank inside the 3k margin,
    * queries broadcast), with the label-mismatch predicate applied at the
    * pair level BEFORE any scoring so excluded pairs never enter a
    * window. Rows with a NULL label on either side are dropped — an
    * unknown label must not be presumed negative. Scale route: compose
    * with the LSH/IVF candidate generators exactly like bruteForceTopK.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        col(labelCol).as("query_label"))
      .withColumn("__qn", sqrt(normSq(col("__qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        col(labelCol).as("neighbor_label"))
      .withColumn("__cn", sqrt(normSq(col("__cv"))))
    rankedTopK(c, q, k,
        col("neighbor_label").isNotNull && col("query_label").isNotNull &&
          col("neighbor_label") =!= col("query_label"))
      .select("query_id", "query_label", "neighbor_id", "neighbor_label",
        "rank", "cosine")
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): from each query's `poolSize` nearest candidates, greedily
    * select k, each step maximizing
    *
    *   mmr(d) = lambda * cos(q, d) - (1 - lambda) * max over s in S of cos(d, s)
    *
    * (S = already-selected set; the first pick has no diversity term and
    * is the top-cosine candidate). lambda = 1 reduces to plain top-k;
    * lower lambda trades relevance for diversity — the standard retrieval
    * pass for redundancy-free RAG contexts and diverse few-shot pools.
    * Ties keep the relevance-ranked-first candidate, so the output is
    * deterministic. Output (query_id, neighbor_id, mmr_rank, mmr_score).
    *
    * This is the brute-wired convenience over [[mmrRerank]]: candidate
    * generation is [[bruteForceTopK]] — an exact |queries|×|corpus|
    * pass, the AUDIT baseline. At scale, generate the shortlist with a
    * bucketed index ([[lshTopK]]/[[ivfTopK]]/[[pqTopK]]) and feed it to
    * [[mmrRerank]] directly; the greedy and its contracts live there. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double = 0.7,
      poolSize: Int = 50): DataFrame = {
    require(poolSize >= k, s"poolSize ($poolSize) must be >= k ($k)")
    mmrRerank(bruteForceTopK(corpus, queries, idCol, vecCol, poolSize),
      corpus, idCol, vecCol, k, lambda)
  }

  /** MMR greedy re-rank over an EXTERNAL candidate shortlist — the
    * candidate-injectable core of [[mmrTopK]]. `candidates` is any
    * (query_id, neighbor_id, cosine) frame — the [[bruteForceTopK]] /
    * [[lshTopK]] / [[ivfTopK]] / [[pqTopK]] output shape (extra columns
    * ignored; any generator rank is recomputed internally as
    * row_number over (cosine DESC, neighbor_id), so rank conventions
    * never have to agree). Rows with NULL/NaN relevance drop — an
    * unscoreable candidate must not poison the greedy's argmax.
    *
    * 100 TB shape: the production retrieval pass. Candidates come from
    * a bucketed generator, so this re-rank touches |candidates| corpus
    * vectors (ONE equi-join on neighbor_id — never |queries|×|corpus|)
    * plus the per-query pool² pair cosines (inherent to MMR's diversity
    * term), computed as a CATALYST self-join of the pool — codegen'd
    * decimal-exact [[dot]]s, identical to the DuckDB oracle — and the
    * greedy, which is inherently sequential PER QUERY, runs as a
    * per-partition JVM loop over (query, pool-bounded score-array)
    * groups — the [[graft.operators.Vocab.bpeEncode]] precedent: state
    * is O(pool²) doubles per group (no vectors ever enter the loop),
    * groups stream one at a time through a secondary sort (repartition
    * by query, sort by rank), and as nested Catalyst HOFs the k
    * dependent argmax rounds would nest the plan k levels deep. The
    * internal rank window partitions by query over pool-bounded
    * candidate sets — never corpus-sized groups. */
  def mmrRerank(candidates: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    import org.apache.spark.sql.Row
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val cands = candidates
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))
      .withColumn("rank", row_number().over(wr))
    val nv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__nv"))
      .withColumn("__nn", sqrt(normSq(col("__nv"))))
    val cv = cands.join(nv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cosine"), col("__nv"), col("__nn"))
    // pool self-join: every candidate pair's cosine (self included, so
    // array position j-1 <-> pool rank j densely) with the same
    // decimal-exact dot as the relevance scores — the DuckDB oracle
    // reproduces both bit-for-bit
    val a = cv.select(col("query_id"), col("rank").as("__ra"),
      col("__nv").as("__va"), col("__nn").as("__na"))
    val b = cv.select(col("query_id"), col("rank").as("__rb"),
      col("__nv").as("__vb"), col("__nn").as("__nb"))
    // degenerate-pair guard (the old per-row cosD returned 0.0 on zero
    // norms): rankedTopK's pool excludes such vectors TODAY, but that is
    // a non-local invariant and the scaladoc invites swapping in other
    // candidate generators — a NULL (zero-norm divide) or NaN sim would
    // otherwise leave the greedy's argmax at -1 and crash the loop
    val sims = a.join(b, Seq("query_id"))
      .select(col("query_id"), col("__ra"),
        struct(col("__rb"),
          coalesce(nanvl(
            dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")),
            lit(0.0)), lit(0.0)).as("sim")).as("__s"))
      .groupBy(col("query_id").as("__qs"), col("__ra"))
      .agg(transform(array_sort(collect_list(col("__s"))),
        x => x.getField("sim")).as("__sims"))
    val joined = cv.join(sims,
        col("query_id") === col("__qs") && col("rank") === col("__ra"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cosine"), col("__sims"))
    val part = joined.repartition(col("query_id"))
      .sortWithinPartitions(col("query_id"), col("rank"))
    val qT = joined.schema("query_id")
    val nT = joined.schema("neighbor_id")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", qT.dataType, qT.nullable),
      org.apache.spark.sql.types.StructField("neighbor_id", nT.dataType, nT.nullable),
      org.apache.spark.sql.types.StructField("mmr_rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("mmr_score",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val (lam, kk) = (lambda, k)
    part.mapPartitions { it =>
      val base = it.buffered
      new Iterator[Row] {
        private val pending = scala.collection.mutable.Queue.empty[Row]
        private def loadGroup(): Unit = {
          if (!base.hasNext) return
          val key = base.head.get(0)
          // (neighbor_id, relevance, sims-to-pool dense by pool rank)
          val group = scala.collection.mutable.ArrayBuffer.empty[(Any, Double, Array[Double])]
          while (base.hasNext && base.head.get(0) == key) {
            val r = base.next()
            group += ((r.get(1), r.getDouble(3), r.getSeq[Double](4).toArray))
          }
          val taken = Array.fill(group.size)(false)
          val selIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
          var rank = 1
          while (rank <= kk && rank <= group.size) {
            var (bestI, bestScore) = (-1, Double.NegativeInfinity)
            var i = 0
            while (i < group.size) {
              if (!taken(i)) {
                val div = if (selIdx.isEmpty) 0.0
                  else selIdx.iterator.map(s => group(i)._3(s)).max
                val mmr = lam * group(i)._2 - (1.0 - lam) * div
                // strict >: ties keep the earlier (relevance-ranked) candidate
                if (mmr > bestScore) { bestI = i; bestScore = mmr }
              }
              i += 1
            }
            taken(bestI) = true
            selIdx += bestI
            pending.enqueue(Row(key, group(bestI)._1, rank, bestScore))
            rank += 1
          }
        }
        def hasNext: Boolean = {
          while (pending.isEmpty && base.hasNext) loadGroup()
          pending.nonEmpty
        }
        def next(): Row = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          pending.dequeue()
        }
      }
    }(enc)
  }

  // ------------------------------------------------------------ LSH (SRP)

  /** Deterministic ±1 hyperplanes: component (p, d) is +1 iff the low bit
    * of the first md5 byte of "p:d" is 0. Reproducible on any node with no
    * RNG state to ship. */
  def planes(nPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until nPlanes).map { p =>
      Array.tabulate(dim) { d =>
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p:$d".getBytes("UTF-8"))
        if ((digest(0) & 1) == 0) 1.0 else -1.0
      }
    }

  /** n-bit sign signature of a vector under the given planes, as a '0'/'1'
    * string. Projections use the native codegen'd FloatArrayDot (±1 plane
    * components are exact floats) — the LSH bucketing tolerates ulp noise
    * (only exact re-rank results are surfaced). */
  def signSignature(vec: Column, planes: Seq[Array[Double]]): Column =
    concat(planes.map { pl =>
      val w = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(pl.map(v => lit(v.toFloat))): _*)
      val proj = graft.functions.FloatArrayDot.dot(vec, w)
      when(proj >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** The signature bucket plus every hamming-1 neighbor bucket. */
  def probeBuckets(sig: Column, nBits: Int): Column = {
    val flips = (1 to nBits).map { i =>
      val flipped = when(substring(sig, i, 1) === "1", lit("0")).otherwise(lit("1"))
      concat(substring(sig, 1, i - 1), flipped, substring(sig, i + 1, nBits - i))
    }
    array(sig +: flips: _*)
  }

  /** ANN top-k via sign-random-projection LSH with multi-probe on BOTH
    * sides: corpus rows are indexed under their bucket + all 1-bit flips,
    * and each query also probes its bucket + 1-bit flips — together a pair
    * meets whenever the signatures are within hamming distance 2, without
    * paying the quadratic radius-2 probe fan-out on either side alone.
    * Candidates are exactly re-ranked by cosine. Recall is tested against
    * [[bruteForceTopK]] in SimilaritySpec; raise nBits as the corpus grows
    * (bucket occupancy ~ corpus / 2^nBits). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nBits: Int = 6): DataFrame = {
    val dim = dimOpt(corpus, vecCol)
    if (dim.isEmpty) return emptyTopK(corpus, idCol)
    val planeSeq = planes(nBits, dim.get)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", sqrt(graft.functions.FloatArrayDot.normSq(col("__cv"))))
      .withColumn("__sig", signSignature(col("__cv"), planeSeq))
      .withColumn("__bucket", explode(probeBuckets(col("__sig"), nBits)))
      .drop("__sig")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", sqrt(graft.functions.FloatArrayDot.normSq(col("__qv"))))
      .withColumn("__sig", signSignature(col("__qv"), planeSeq))
      .withColumn("__bucket", explode(probeBuckets(col("__sig"), nBits)))
      .drop("__sig")
    val cand = c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // compute cosine BEFORE deduping pair hits from multiple probe
      // buckets: the dedup shuffle then carries (ids, cosine), never the
      // vectors themselves.
      .withColumn("cosine", graft.functions.FloatArrayDot.dot(col("__qv"), col("__cv"))
        / (col("__qn") * col("__cn")))
      .select("query_id", "neighbor_id", "cosine")
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(scoreDesc(col("cosine")), col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k && notNaN(col("cosine")))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  // ------------------------------------------------------------ IVF

  /** Deterministic coarse centroids: the nCells corpus vectors whose ids
    * hash lowest (md5 of the id) — no RNG, no training loop to ship, and
    * at 100 TB the "training" is a tiny broadcastable sample anyway. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int): Seq[(Int, Array[Float])] =
    corpus.select(col(idCol).cast("string").as("__id"), col(vecCol).as("__v"))
      // a null/empty vector can't be a centroid — dirty rows are data, and
      // a sampled one would NPE the driver-side collect below
      .filter(col("__v").isNotNull && size(col("__v")) > 0)
      .withColumn("__h", md5(col("__id")))
      .orderBy(col("__h"))
      .limit(nCells)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).toArray) }
      .toSeq

  /** [[ivfCentroids]] followed by `iters` rounds of spherical-k-means
    * refinement: assign every corpus vector to its nearest cell (max dot
    * against unit-normalized centroids — the same rule [[ivfTopK]] probes
    * with), recompute each cell's mean with the distributed
    * [[Centroids.groupCentroids]] aggregation (shuffle carries only
    * per-task partial sums, never vectors), normalize, repeat. Only the
    * nCells centroid rows ever reach the driver per round. Cells that end
    * a round empty keep their previous centroid. Adapted cells tighten
    * recall-per-probe when the corpus is clustered — the hash-seeded cells
    * of [[ivfCentroids]] are only as good as nCells random corpus rows. */
  def ivfCentroidsRefined(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int): Seq[(Int, Array[Float])] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x)).toFloat
      if (n == 0f) v else v.map(_ / n)
    }
    var cents = ivfCentroids(corpus, idCol, vecCol, nCells).map { case (c, v) => (c, unit(v)) }
    val vecs = corpus.select(col(vecCol).as("__v"))
      .filter(col("__v").isNotNull && size(col("__v")) > 0)
    for (_ <- 0 until iters) {
      val assigned = vecs.withColumn("__cell", nearestCells(col("__v"), cents, 1).getItem(0))
      val updated = Centroids.groupCentroids(assigned, "__cell", "__v")
        .collect() // bounded: at most nCells rows (one per non-empty cell)
        .map(r => r.getInt(0) ->
          unit(r.getSeq[Double](r.fieldIndex("centroid")).map(_.toFloat).toArray))
        .toMap
      cents = cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    cents
  }

  private def nearestCells(vec: Column, centroids: Seq[(Int, Array[Float])],
      nProbe: Int): Column = {
    // zero centroids (empty corpus): a bare array() literal is
    // array<null> and fails analysis downstream — return a typed empty
    // so the (necessarily row-less) plan still resolves
    if (centroids.isEmpty) return array().cast("array<int>")
    // rank cells by codegen'd dot distance proxy (cosine numerator over
    // unit-ish data); take the nProbe best as an array of cell ids
    val scored = centroids.map { case (cid, c) =>
      val w = array(scala.collection.immutable.ArraySeq.unsafeWrapArray(c.map(lit(_))): _*)
      struct(graft.functions.FloatArrayDot.dot(vec, w).as("s"), lit(cid).as("cell"))
    }
    slice(reverse(array_sort(array(scored: _*))), 1, nProbe)
      .getField("cell")
  }

  /** ANN top-k via IVF (inverted-file) cells: corpus vectors live in their
    * single nearest cell; each query probes its nProbe nearest cells; exact
    * cosine re-rank inside the probed cells. The alternative scale path to
    * [[lshTopK]] — better when the data is clustered, since cells adapt to
    * the corpus (centroids are corpus vectors) while hyperplanes do not.
    * `refineIters > 0` runs that many spherical-k-means rounds
    * ([[ivfCentroidsRefined]]) before indexing. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, refineIters: Int = 0): DataFrame = {
    val centroids =
      if (refineIters > 0) ivfCentroidsRefined(corpus, idCol, vecCol, nCells, refineIters)
      else ivfCentroids(corpus, idCol, vecCol, nCells)
    // no centroids <=> empty corpus (limit(nCells) of a non-empty frame is
    // never empty): a pruned-to-nothing corpus returns a typed empty
    // result instead of an unresolvable zero-entry cell literal
    if (centroids.isEmpty) return emptyTopK(corpus, idCol)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", sqrt(graft.functions.FloatArrayDot.normSq(col("__cv"))))
      .withColumn("__cell", nearestCells(col("__cv"), centroids, 1).getItem(0))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", sqrt(graft.functions.FloatArrayDot.normSq(col("__qv"))))
      .withColumn("__cell", explode(nearestCells(col("__qv"), centroids, nProbe)))
    val cand = c.join(broadcast(q), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", graft.functions.FloatArrayDot.dot(col("__qv"), col("__cv"))
        / (col("__qn") * col("__cn")))
      .select("query_id", "neighbor_id", "cosine")
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(scoreDesc(col("cosine")), col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k && notNaN(col("cosine")))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  // ------------------------------------------------------------ PQ

  /** Product-quantization codebooks: the vector space splits into `m`
    * contiguous subspaces of dim/m components; each subspace's `nCodes`
    * centroids are the corresponding subvectors of the corpus vectors
    * whose ids md5-hash lowest — the [[ivfCentroids]] sampling rule, so
    * there is no RNG state and no training loop to ship. Returns
    * books(s)(j) = centroid j of subspace s (fewer than nCodes if the
    * corpus is smaller). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, nCodes: Int): Seq[Seq[Array[Float]]] = {
    val dim = dimOf(corpus, vecCol)
    require(m >= 1 && dim % m == 0,
      s"m must divide the vector dimension: dim=$dim, m=$m")
    require(nCodes >= 1, s"nCodes must be >= 1, got $nCodes")
    val dsub = dim / m
    val sampled = ivfCentroids(corpus, idCol, vecCol, nCodes)
    (0 until m).map(s => sampled.map { case (_, v) => v.slice(s * dsub, (s + 1) * dsub) })
  }

  private def litVec(c: Array[Float]): Column =
    array(scala.collection.immutable.ArraySeq.unsafeWrapArray(c.map(lit(_))): _*)
  /** Left-to-right double fold of |c|² — the order [[graft.functions.FloatArrayDot]]
    * and DuckDB's list_sum both use, so the literal is bit-identical to a
    * runtime recomputation on either engine. */
  private def nsqOf(c: Array[Float]): Double =
    c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)

  /** [[pqCodebooks]] followed by `iters` rounds of per-subspace L2
    * k-means (Lloyd) refinement: every corpus subvector is assigned to
    * its nearest code (the same 2·x·c − |c|² argmax rule [[pqEncode]]
    * uses), each (subspace, code) cell's mean is recomputed with the
    * distributed [[Centroids.groupCentroids]] aggregation over ONE frame
    * holding all m subspaces (tagged by a composite s·nCodes+code key —
    * one pass per round, not m), and empty cells keep their previous
    * centroid. Only m×nCodes centroid rows reach the driver per round.
    * Trained codebooks cut quantization error substantially vs sampled
    * ones when the corpus has structure — the classic PQ training step,
    * kept deterministic (no RNG seeds; the init is the md5 sample). */
  def pqCodebooksRefined(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, nCodes: Int, iters: Int): Seq[Seq[Array[Float]]] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var books = pqCodebooks(corpus, idCol, vecCol, m, nCodes)
    val dsub = books.head.head.length
    val subRows = corpus.select(col(vecCol).as("__v"))
      // dirty rows (null/short vectors) are data, not training input —
      // a short vector's out-of-range slice would otherwise feed
      // truncated subvectors into the codebook means
      .filter(col("__v").isNotNull && size(col("__v")) >= m * dsub)
      .select(explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), slice(col("__v"), s * dsub + 1, dsub).as("sv"))): _*)).as("x"))
      .select(col("x.s").as("__s"), col("x.sv").as("__sv"))
    for (_ <- 0 until iters) {
      val bs = books
      // per-subspace argmax, dispatched by a when-chain on __s
      val codeExpr = (0 until m).foldLeft(lit(-1)) { (acc, s) =>
        val scored = bs(s).zipWithIndex.map { case (c, j) =>
          struct((lit(2.0) * graft.functions.FloatArrayDot.dot(col("__sv"), litVec(c))
            - lit(nsqOf(c))).as("s"), lit(j).as("code"))
        }
        when(col("__s") === s,
          element_at(reverse(array_sort(array(scored: _*))), 1).getField("code"))
          .otherwise(acc)
      }
      val assigned = subRows.withColumn("__key", col("__s") * nCodes + codeExpr)
      val updated = Centroids.groupCentroids(assigned, "__key", "__sv")
        .collect() // bounded: at most m*nCodes rows
        .map(r => r.getInt(0) ->
          r.getSeq[Double](r.fieldIndex("centroid")).map(_.toFloat).toArray)
        .toMap
      books = books.zipWithIndex.map { case (bs2, s) =>
        bs2.zipWithIndex.map { case (old, j) => updated.getOrElse(s * nCodes + j, old) }
      }
    }
    books
  }

  /** PQ INDEX BUILD: compress each corpus vector into m small code ids
    * (the L2-nearest codebook entry per subspace — argmax of
    * 2·x_s·c − |c|², ties to the HIGHER code id) plus the reconstruction's
    * squared norm Σ_s |c_{s,code_s}|². Output: (idCol, pq_codes
    * array<int>, pq_normsq double).
    *
    * This is where PQ pays at 100 TB: the index frame is m ints + one
    * double per vector instead of 4·dim bytes (16–32× smaller scan for
    * typical m), it's a single narrow projection with NO shuffle, and
    * every later query batch scans the codes, never the vectors. Every
    * input column except the vector itself passes through, so the index
    * frame can carry payload (ids, coarse cells, metadata). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Array[Float]]]): DataFrame = {
    val m = books.size
    val dsub = books.head.head.length
    val v = col("__pq_v")
    val codeCols = (0 until m).map { s =>
      val sub = slice(v, s * dsub + 1, dsub)
      val scored = books(s).zipWithIndex.map { case (c, j) =>
        struct((lit(2.0) * graft.functions.FloatArrayDot.dot(sub, litVec(c))
          - lit(nsqOf(c))).as("s"), lit(j).as("code"))
      }
      element_at(reverse(array_sort(array(scored: _*))), 1).getField("code")
    }
    val nsqTables = books.map(bs =>
      array(scala.collection.immutable.ArraySeq.unsafeWrapArray(
        bs.map(c => lit(nsqOf(c))).toArray[Column]): _*))
    corpus.withColumn("__pq_v", col(s"`$vecCol`"))
      .withColumn("pq_codes", array(codeCols: _*))
      // Σ_s in fixed left-assoc order so the oracle can reproduce it term
      // by term (a 4-way SUM() aggregate would sum in arbitrary order)
      .withColumn("pq_normsq", (0 until m).map(s =>
        element_at(nsqTables(s), element_at(col("pq_codes"), s + 1) + 1))
        .reduce(_ + _))
      .drop("__pq_v", vecCol)
  }

  /** ANN top-k via product quantization with asymmetric-distance (ADC)
    * scoring: each query precomputes ONE m×nCodes table of subspace dot
    * products against the codebooks (on the tiny query frame), then every
    * (query, corpus) pair costs m table lookups instead of a dim-wide dot
    * — and the corpus side scans the [[pqEncode]] code frame, not the
    * vectors. The ADC approximate cosine shortlists refineFactor·k
    * candidates per query; only those ids join back to the real vectors
    * for an exact re-rank (same shape as [[lshTopK]]'s verify step).
    * With `coarseCells = 0` candidate generation is a linear scan of the
    * (m-byte-wide) index — the win is scan width and per-pair cost, which
    * is what dominates a flat 100 TB sweep. `coarseCells > 0` composes
    * with IVF (the classic IVF-PQ index): corpus codes live in their
    * nearest coarse cell, each query ADC-scans only its `nProbe` nearest
    * cells — sublinear candidate generation ON TOP of the compressed
    * scan. Recall vs [[bruteForceTopK]] is asserted in SimilaritySpec. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 4, nCodes: Int = 16, refineFactor: Int = 4,
      trainIters: Int = 0, coarseCells: Int = 0, nProbe: Int = 4): DataFrame = {
    require(k >= 1 && refineFactor >= 1, s"k and refineFactor must be >= 1")
    require(coarseCells >= 0 && nProbe >= 1, s"coarseCells >= 0 and nProbe >= 1 required")
    if (dimOpt(corpus, vecCol).isEmpty) return emptyTopK(corpus, idCol)
    val books =
      if (trainIters > 0) pqCodebooksRefined(corpus, idCol, vecCol, m, nCodes, trainIters)
      else pqCodebooks(corpus, idCol, vecCol, m, nCodes)
    val dsub = books.head.head.length
    val cents =
      if (coarseCells > 0) ivfCentroids(corpus, idCol, vecCol, coarseCells) else Nil
    val corpusBase = corpus.select(col(idCol).as("neighbor_id"), col(vecCol))
    val encInput =
      if (coarseCells > 0)
        corpusBase.withColumn("__cell", nearestCells(col(s"`$vecCol`"), cents, 1).getItem(0))
      else corpusBase
    val enc = pqEncode(encInput, "neighbor_id", vecCol, books)
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", sqrt(graft.functions.FloatArrayDot.normSq(col("__qv"))))
      .withColumn("__tab", array((0 until m).map { s =>
        val sub = slice(col("__qv"), s * dsub + 1, dsub)
        array(books(s).map(c => graft.functions.FloatArrayDot.dot(sub, litVec(c))): _*)
      }: _*))
    val q = if (coarseCells > 0)
      q0.withColumn("__cell", explode(nearestCells(col("__qv"), cents, nProbe)))
    else q0
    val adc = (0 until m).map(s =>
      element_at(element_at(col("__tab"), s + 1),
        element_at(col("pq_codes"), s + 1) + 1)).reduce(_ + _)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(scoreDesc(col("__ascore")), col("neighbor_id"))
    // a corpus row lives in exactly ONE cell, so a (query, neighbor) pair
    // meets at most once even under multi-probe — no dedup needed
    val candidates =
      if (coarseCells > 0)
        enc.join(broadcast(q.select(col("query_id"), col("__qn"), col("__tab"),
          col("__cell"))), Seq("__cell"))
      else enc.crossJoin(broadcast(q.select(col("query_id"), col("__qn"), col("__tab"))))
    val shortlist = candidates
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__ascore", adc / (col("__qn") * sqrt(col("pq_normsq"))))
      .withColumn("__arank", row_number().over(wA))
      .filter(col("__arank") <= refineFactor * k && notNaN(col("__ascore")))
      .select("query_id", "neighbor_id")
    val cvec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", sqrt(graft.functions.FloatArrayDot.normSq(col("__cv"))))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(scoreDesc(col("cosine")), col("neighbor_id"))
    shortlist.join(cvec, "neighbor_id")
      .join(broadcast(q0.select(col("query_id"), col("__qv"), col("__qn"))), "query_id")
      .withColumn("cosine", graft.functions.FloatArrayDot.dot(col("__qv"), col("__cv"))
        / (col("__qn") * col("__cn")))
      .withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k && notNaN(col("cosine")))
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  private[operators] def dimOf(df: DataFrame, vecCol: String): Int = {
    val d = dimOpt(df, vecCol)
    require(d.nonEmpty,
      s"cannot infer $vecCol dimension: no row with a non-empty vector")
    d.get
  }

  /** Vector dimension from the first row with a non-empty vector (a null
    * or empty LEADING vector must not poison inference — dirty rows are
    * data, not schema), or None when no such row exists. The SEARCH entry
    * points map None to a typed empty result (a corpus pruned to nothing
    * is a normal event in a big pipeline, not an error); the BUILD
    * functions (codebooks, centroids) keep the hard require — training on
    * nothing IS an error. */
  private[operators] def dimOpt(df: DataFrame, vecCol: String): Option[Int] = {
    val first = df.select(size(col(vecCol)).as("__d"))
      .filter(col("__d") > 0).head(1)
    first.headOption.map(_.getInt(0))
  }

  /** Typed empty (query_id, neighbor_id, rank, cosine) frame — the shape
    * every topK path returns — for empty-corpus short-circuits. */
  private def emptyTopK(corpus: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val idT = corpus.schema(idCol)
    corpus.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("query_id", idT.dataType, idT.nullable),
        StructField("neighbor_id", idT.dataType, idT.nullable),
        StructField("rank", IntegerType, nullable = false),
        StructField("cosine", DoubleType, nullable = true))))
  }

  /** ANN index quality audit: per-query recall of an approximate top-k
    * ranking against the exact one — the metric every ANN deployment
    * must monitor (recall silently degrades as the corpus drifts away
    * from the index's training/bucketing distribution). Output
    * (queryCol, n_exact, n_hit, recall); queries the approximate side
    * missed entirely count as zero hits, not absent rows. Works over any
    * two (query, neighbor) frames — LSH/IVF/PQ vs brute force, or one
    * index generation vs the next.
    *
    * 100 TB shape: two tiny top-k frames (queries x k rows), one
    * semi-join-shaped left join keyed on (query, neighbor), one groupBy
    * — cost scales with the query set, never the corpus. */
  def recallAtK(approx: DataFrame, exact: DataFrame,
      queryCol: String = "query_id", neighborCol: String = "neighbor_id"): DataFrame = {
    val q = col(s"`$queryCol`")
    val nb = col(s"`$neighborCol`")
    val a = approx.select(q, nb).distinct()
    val x = exact.select(q, nb).distinct()
    val hits = x.join(a, Seq(queryCol, neighborCol), "left_semi")
      .groupBy(q).agg(count(lit(1)).as("n_hit"))
    x.groupBy(q).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq(queryCol), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
  }

  /** Embedding-column health report per group — the "did the embedding
    * job actually work" audit run before any similarity/dedup consumer:
    * NULL vectors, NaN/null components, zero vectors (cosine-undefined),
    * ragged dimensions, and the norm distribution. One row per group:
    * (groupCol, n_vecs, n_bad — NULL vector or any NaN/null component,
    * n_zero — healthy but zero-norm, min_dim, max_dim longs — over
    * non-null vectors, ragged if they differ; min_norm, max_norm,
    * mean_norm doubles over healthy vectors, NULL when none). Norms ride
    * the decimal [[normSq]] recipe and the mean accumulates through
    * DECIMAL(25,9).
    *
    * 100 TB shape: one map-side-combinable aggregation; vectors never
    * shuffle (only per-group counters and norms do). */
  def embeddingAudit(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val v = col(s"`$vecCol`")
    df.select(col(s"`$groupCol`").as("__g"), v.as("__v"))
      .withColumn("__bad",
        col("__v").isNull || exists(col("__v"), x => x.isNull || isnan(x)))
      .withColumn("__dim",
        when(col("__v").isNotNull, size(col("__v")).cast("long")))
      .withColumn("__norm", when(!col("__bad"), sqrt(normSq(col("__v")))))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("__bad"), 1L).otherwise(0L)).as("n_bad"),
        sum(when(!col("__bad") && col("__norm") === 0.0, 1L).otherwise(0L))
          .as("n_zero"),
        min(col("__dim")).as("min_dim"), max(col("__dim")).as("max_dim"),
        min(col("__norm")).as("min_norm"), max(col("__norm")).as("max_norm"),
        (sum(col("__norm").cast(dec)).cast("double") /
          sum(when(!col("__bad"), 1L).otherwise(0L)).cast("double"))
          .as("mean_norm"))
      .withColumnRenamed("__g", groupCol)
  }

  /** Exact, order-independent squared L2 distance (the [[dot]]
    * exact-fold contract over per-element differences). */
  def distSq(a: Column, b: Column): Column =
    graft.functions.DecimalVecDot.distSq(a, b)

  /** Greedy k-center coreset selection (Gonzalez 1985's 2-approximation
    * to the k-center objective — the max-min "farthest point first"
    * traversal): seed with the minimum id, then k−1 times select the
    * point FARTHEST (squared L2) from everything selected so far. The
    * data-pruning / diversity-sampling primitive (Sener & Savarese 2018
    * use exactly this traversal for coreset selection): k documents
    * that COVER the embedding space, where top-k-by-score would cluster.
    * The complement of [[mmrTopK]] (which diversifies a relevance
    * ranking; this diversifies the corpus itself).
    *
    * Output: (idCol, step int 1..k in selection order, dist_sq double —
    * the selected point's max-min distance at selection time; NULL for
    * the seed). Rows with NULL id/vector are excluded; NaN components
    * rank last (nanvl guard) so degenerate vectors can never be
    * "farthest". Fewer than k survivors → fewer rows.
    *
    * Determinism: every distance is the order-independent decimal sum,
    * argmax ties break to the smaller id. Cross-engine caveat: the
    * fold's intermediate decimal re-rounding can sit ~1 ulp from an
    * exact-sum engine (DuckDB list_sum), so the p109 gate rounds the
    * REPORTED distance to 9 dp — selection gaps dwarf the ulp, and the
    * picked sequence matches the oracle's unrolled rounds exactly.
    *
    * 100 TB shape: the greedy is INHERENTLY k sequential rounds; each
    * round is one narrow map over the survivor frame (update the
    * running min-distance against ONE broadcast-literal center — never
    * a k-way cross join) + one distributed TakeOrdered argmax. The
    * survivor frame stages ([[Stager.stage]]) each round so
    * the plan stays O(1) deep. Driver state is k vectors. */
  def kCenterSelect(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val base = df.select(col(s"`$idCol`").as("__id"), col(s"`$vecCol`").as("__v"))
      .filter(col("__id").isNotNull && col("__v").isNotNull)
    val idType = base.schema("__id").dataType
    val outSchema = StructType(Seq(
      StructField(idCol, idType, nullable = true),
      StructField("step", IntegerType, nullable = false),
      StructField("dist_sq", DoubleType, nullable = true)))
    def result(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), outSchema)

    val seed = base.orderBy(col("__id")).limit(1).collect()
    if (seed.isEmpty) return result(Nil)
    val seedId = seed(0).get(0)
    val seedVec = seed(0).getSeq[Float](1)
    val picked = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row(seedId, 1, null))
    def litVec(v: Seq[Float]) = typedlit(v.toIndexedSeq)
    var rem = base.filter(col("__id") =!= lit(seedId))
      .withColumn("__dmin", distSq(col("__v"), litVec(seedVec)))
    var step = 2
    var exhausted = false
    while (step <= k && !exhausted) {
      val staged = Stager.stage(rem, s"kcenter_round_$step")
      val far = staged
        .orderBy(nanvl(col("__dmin"), lit(Double.NegativeInfinity)).desc_nulls_last,
          col("__id"))
        .limit(1).collect()
      if (far.isEmpty) exhausted = true
      else {
        val fid = far(0).get(0)
        val fvec = far(0).getSeq[Float](1)
        picked += org.apache.spark.sql.Row(fid, step, far(0).getDouble(2))
        rem = staged.filter(col("__id") =!= lit(fid))
          .withColumn("__dmin",
            least(col("__dmin"), distSq(col("__v"), litVec(fvec))))
        step += 1
      }
    }
    result(picked.toSeq)
  }

  /** Mutual nearest-neighbor pairs (reciprocal 1-NN by cosine): i and j
    * pair iff each is the other's single nearest neighbor — the
    * highest-precision near-duplicate signal in embedding space
    * (de Souza et al.'s reciprocal-rank heuristic; MNN is also the
    * anchor-pair rule in bitext mining). A doc can appear in at most one
    * MNN pair, so the output is a matching, not a neighborhood graph —
    * exactly what dedup canonical-selection wants as seeds. Output:
    * (id_a, id_b — id_a < id_b, cosine double rounded to 9 dp, the p07
    * reporting rule), ordered consumers' choice. NaN/zero-norm vectors
    * can never pair ([[bruteForceTopK]]'s nanvl rank rule sinks them).
    *
    * 100 TB shape: this EXACT path inherits [[bruteForceTopK]]'s
    * broadcast-queries contract — run it on a bounded block (the p12
    * exact-path rule) or feed the candidate pairs from
    * [[lshTopK]]/[[ivfTopK]] at corpus scale; the MNN join itself is an
    * equi-join on (query, neighbor) key pairs. */
  def mutualNearestNeighbors(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    // staged: the 1-NN frame feeds BOTH sides of the reciprocity join —
    // unstaged, the O(n²) brute-force pass would run twice
    val nn = Stager.stage(
      bruteForceTopK(corpus, corpus, idCol, vecCol, k = 1)
        .select(col("query_id").as("__q"), col("neighbor_id").as("__n"),
          col("cosine").as("__c")),
      s"mnn_${java.util.UUID.randomUUID().toString.take(8)}")
    nn.filter(col("__q") < col("__n"))
      .join(nn.select(col("__n").as("__q"), col("__q").as("__n")),
        Seq("__q", "__n"), "left_semi")
      .select(col("__q").as("id_a"), col("__n").as("id_b"),
        round(col("__c"), 9).as("cosine"))
  }

  /** Per-dimension symmetric int8 quantization audit of an embedding
    * column — the "can we ship these vectors at 4× less storage/bandwidth
    *?" report every large-scale ANN deployment runs before switching the
    * index to int8. Per dimension: scale = max|x|/127, code =
    * clamp(⌊x/scale + 0.5⌋, ±127), and the reconstruction error x −
    * code·scale. Output per dimension: (dim long, n long, scale double —
    * NULL for an all-zero dimension (codes are all 0, error 0), mse
    * double, max_abs_err double). Feed `mse` into the recall gates (p80)
    * to decide if int8 is safe.
    *
    * Exactness: float→double casts are exact; scale is ONE division;
    * ⌊x/scale + 0.5⌋ is floor over a fixed IEEE tree (floor, not
    * round() — engines disagree on decimal-string .5 rounding, never on
    * floor); squared errors accumulate in DECIMAL(25,15); mse is one
    * final division through the 9-dp contract; max_abs_err is a raw max
    * of identical doubles.
    *
    * 100 TB shape: one posexplode + two map-side-combinable
    * aggregations to (dim) — the per-dim max joins back by dim (a
    * broadcast-sized frame: dims ≪ rows); no window, no row-sized
    * shuffle beyond the explode's dim-keyed combine. */
  def int8QuantizationError(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(s"`$vecCol`")
    val vals = df.filter(v.isNotNull)
      .select(posexplode(v).as(Seq("__dim", "__f")))
      .select(col("__dim").cast("long").as("__dim"),
        col("__f").cast("double").as("__v"))
    val scales = vals.groupBy(col("__dim"))
      .agg(max(abs(col("__v"))).as("__mx"), count(lit(1)).as("n"))
      .withColumn("scale", when(col("__mx") > 0.0, col("__mx") / lit(127.0)))
    val err = vals.join(broadcast(scales), Seq("__dim"))
      .withColumn("__err", when(col("scale").isNull, lit(0.0)).otherwise(
        col("__v") - greatest(least(floor(col("__v") / col("scale") + lit(0.5)),
          lit(127.0)), lit(-127.0)) * col("scale")))
    err.groupBy(col("__dim").as("dim"))
      .agg(max(col("n")).as("n"), max(col("scale")).as("scale"),
        sum((col("__err") * col("__err")).cast(DecimalType(25, 15))).as("__se"),
        max(abs(col("__err"))).as("max_abs_err"))
      .select(col("dim"), col("n"), col("scale"),
        round((col("__se").cast("double") / col("n").cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double").as("mse"),
        col("max_abs_err"))
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022, MRL): for each
    * candidate prefix width d, how much of each vector survives
    * truncation — cos(v, v[:d] zero-padded) = ‖v[:d]‖/‖v‖, the exact
    * retained-similarity of serving a d-dim prefix of a
    * matryoshka-trained embedding. The report that picks the serving
    * dimension: mean retained cosine near 1 at d says the index can
    * shrink dim/d-fold. Output per d: (dim int, n_vecs long,
    * mean_retained, min_retained doubles — REPORTED at 9 dp). Vectors
    * with zero full norm or fewer than max(dims) elements drop (ragged
    * vectors have no well-defined prefix contract — run
    * [[embeddingAudit]] first).
    *
    * Exactness: both norms ride the decimal-exact [[normSq]] recipe
    * (the p07 norm contract); each ratio is sqrt∘sqrt-free — ONE
    * division of two IEEE sqrts of exact decimals; the mean quantizes
    * ratios to 9 dp and sums in exact decimal.
    *
    * 100 TB shape: a pure projection per d (slice + two norm folds —
    * all codegen) and ONE |dims|-cell aggregation; no join, no window,
    * no shuffle beyond the final |dims|-row combine. */
  def matryoshkaAudit(df: DataFrame, idCol: String, vecCol: String,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "matryoshkaAudit: dims must be non-empty")
    require(dims.forall(_ >= 1), s"dims must be >= 1, got $dims")
    require(dims.distinct.size == dims.size, s"duplicate dims in $dims")
    val dmax = dims.max
    val base = df
      .filter(col(s"`$idCol`").isNotNull && col(s"`$vecCol`").isNotNull &&
        size(col(s"`$vecCol`")) >= dmax)
      .select(col(s"`$vecCol`").as("__v"))
      .withColumn("__fn", sqrt(normSq(col("__v"))))
      .filter(col("__fn") > 0.0)
    val perD = dims.map { d =>
      base.select(lit(d).as("dim"),
        round((sqrt(normSq(slice(col("__v"), 1, d))) / col("__fn"))
          .cast(DecimalType(25, 12)), 9).cast(DecimalType(25, 9)).as("__r"))
    }.reduce(_ unionByName _)
    perD.groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        round((sum(col("__r")).cast("double") / count(lit(1)).cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double").as("mean_retained"),
        min(col("__r")).cast("double").as("min_retained"))
  }

  /** Pairwise embedding-dimension covariance + correlation — the
    * anisotropy report behind whitening/PCA decisions ("all our vectors
    * point the same way" is the classic contrastive-collapse failure,
    * and a dominant off-diagonal block says the effective dimension is
    * far below d): population covariance and Pearson correlation for
    * every dimension pair i ≤ j. Output: (i, j int, n_vecs long, cov,
    * corr double — both REPORTED at 9 dp; corr is computed FROM the
    * 9-dp-rounded covariances so both engines divide identical inputs,
    * and is NULL when either variance rounds to ≤ 0). NULL id/vector
    * rows drop; ragged vectors contribute to the cells they have (n_vecs
    * is per cell — feed [[embeddingAudit]]-healthy vectors for a
    * constant-n report).
    *
    * Exactness: element products are exact in double (float mantissas),
    * QUANTIZED to 1e-10 fixed-point LONGS (round-half-away on both
    * engines) and summed as exact integers — order-independent, and ~8×
    * faster than a decimal-typed aggregation (measured: three
    * DECIMAL(38,18) sums cost 15 s at sf0.1; the long path ran the
    * whole operator in ~7.5 s). The quantization bias on each cov cell
    * is ≤ 5e-11 — two decades under the 9-dp report grain. Overflow
    * bound: a cell sums n products ≤ max|x·y|·1e10 each, so n·max|x·y|
    * must stay under 9.2e8 (e.g. 9e8 unit-normalized vectors per cell);
    * past that, salt the sum into buckets and combine bucket totals in
    * decimal (the Σc²-rides-BigInteger posture).
    *
    * 100 TB shape: ONE aggregation pass — each vector folds its
    * d(d+1)/2 cells into the packed-triangle long-array accumulator
    * ([[org.apache.spark.sql.graft.CovTriangleAgg]]); partials combine
    * element-wise, so only |partitions| buffers (not n·d² tuples)
    * shuffle, and the d²-row cell frame explodes from the single final
    * buffer. d is the bounded embedding width (the IVF-PQ m·nCodes
    * bound). Measured lineage of this shape at sf0.1 (2000 × d=64 =
    * 4.16M cells): exploded-tuple self-join on vec_id 14.2 s →
    * decimal-sum explode 15 s → long-sum explode + hash-agg 7.5 s
    * (per-cell struct alloc + hash probe dominate) → this packed
    * aggregate 0.63 s min-of-3. The diag join is |d| rows, broadcast. The d²-row
    * cov frame is STAGED before the diagonal joins — unstaged, the
    * corpus pipeline would execute three times (main + both diag
    * broadcast sides). */
  def embeddingCovariance(df: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val q = 1e10
    val sums = df
      .filter(col(s"`$idCol`").isNotNull && col(s"`$vecCol`").isNotNull)
      .select(col(s"`$vecCol`").as("__v"))
      .agg(org.apache.spark.sql.graft.CovTriangleAgg.cells(col("__v")).as("__cells"))
      .select(explode(col("__cells")).as("__c"))
      .select(col("__c.i").as("i"), col("__c.j").as("j"),
        col("__c.n_vecs").as("n_vecs"),
        col("__c.sxy").as("__sxy"), col("__c.sx").as("__sx"),
        col("__c.sy").as("__sy"))
    val cov = Stager.stage(
      sums.select(col("i"), col("j"), col("n_vecs"),
        round(((col("__sxy").cast("double") / q -
          (col("__sx").cast("double") / q) * (col("__sy").cast("double") / q) /
            col("n_vecs").cast("double")) / col("n_vecs").cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double").as("cov")),
      s"embcov_${java.util.UUID.randomUUID().toString.take(8)}")
    val diagI = cov.filter(col("i") === col("j"))
      .select(col("i"), col("cov").as("__vi"))
    val diagJ = diagI.select(col("i").as("j"), col("__vi").as("__vj"))
    cov.join(broadcast(diagI), Seq("i"))
      .join(broadcast(diagJ), Seq("j"))
      .select(col("i"), col("j"), col("n_vecs"), col("cov"),
        when(col("__vi") > 0.0 && col("__vj") > 0.0,
          round((col("cov") / sqrt(col("__vi") * col("__vj")))
            .cast(DecimalType(25, 12)), 9).cast("double")).as("corr"))
  }

  /** L2-normalized float vectors as a STAGED (id, __nv) frame: v / ‖v‖
    * with the exact-decimal norm ([[normSq]]) and a round-to-nearest-
    * float cast per element — every step correctly rounded and identical
    * across engines (DuckDB: `(x::DOUBLE / nrm)::REAL`). Shared by the
    * alignment/uniformity pair so both metrics live on the unit sphere
    * (the Wang & Isola formulation).
    *
    * Why a STAGE sits between the norm and the transform: inlining
    * `sqrt(normSq(v))` into the transform lambda re-runs the decimal
    * fold PER ELEMENT (d× per row — CollapseProject folds the alias
    * into the lambda body), and the self-join consumers would re-run
    * the whole normalization per branch. Measured: the p238 gate read
    * 14.3 s inlined, ~1 s staged. */
  private def unitVectors(df: DataFrame, idCol: String, vecCol: String,
      tag: String): DataFrame = {
    val withNrm = Stager.stage(
      df.filter(col(s"`$idCol`").isNotNull && col(s"`$vecCol`").isNotNull)
        .select(col(s"`$idCol`").as("__id"), col(s"`$vecCol`").as("__v"))
        .withColumn("__nrm", sqrt(normSq(col("__v"))))
        .filter(col("__nrm") > 0.0),
      s"unit_${tag}_${java.util.UUID.randomUUID().toString.take(8)}")
    withNrm.select(col("__id"),
      transform(col("__v"),
        x => (x.cast("double") / col("__nrm")).cast("float")).as("__nv"))
  }

  /** Margin-based mining score (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining"): for each candidate pair (x, y),
    * cos(x, y) / (Σ_{z∈NN(x)} cos(x, z)/(2·|NN(x)|) +
    * Σ_{z∈NN(y)} cos(y, z)/(2·|NN(y)|)) — the RATIO margin that divides
    * a pair's raw cosine by how crowded each side's neighborhood is,
    * the fix for hubness (a vector that is close to EVERYTHING should
    * not mine pairs on raw cosine). The neighborhood frames are
    * CALLER-INJECTED (query_id, neighbor_id, cosine — the
    * [[bruteForceTopK]] shape), the p67b candidate-injection rule: feed
    * the brute frames for the audit path, [[lshTopK]]/IVF shortlists at
    * scale. Output: (idACol, idBCol, cosine double — the pair cosine at
    * 9 dp, margin double 9 dp — NULL when either side has no
    * neighbors). Pairs with a missing/zero-norm embedding drop.
    *
    * Exactness: the pair cosine rides the exact-decimal [[dot]]/
    * [[normSq]] recipe reported at 9 dp; each neighborhood cosine
    * quantizes to 9 dp before an exact-decimal sum; the denominator and
    * margin are a fixed IEEE tree of those 9-dp quantities.
    *
    * 100 TB shape: two |pairs|-cardinality equi-joins for the pair
    * cosine, two map-side-combinable per-query aggregations over the
    * (already bounded) neighbor frames, two broadcast-or-hash joins
    * back. The expensive part — neighborhood construction — is the
    * caller's index choice, not this operator. */
  def marginScore(pairs: DataFrame, idACol: String, idBCol: String,
      emb: DataFrame, idCol: String, vecCol: String,
      nbrA: DataFrame, nbrB: DataFrame): DataFrame = {
    def q9(c: Column): Column =
      round(c.cast(DecimalType(25, 12)), 9).cast(DecimalType(25, 9))
    def nbrAvg(nbr: DataFrame, out: String): DataFrame = nbr
      .filter(col("query_id").isNotNull && col("cosine").isNotNull)
      .groupBy(col("query_id"))
      .agg((sum(q9(col("cosine"))).cast("double") /
        (lit(2.0) * count(lit(1)).cast("double"))).as(out))
    val e = emb
      .filter(col(s"`$idCol`").isNotNull && col(s"`$vecCol`").isNotNull)
      .select(col(s"`$idCol`").as("__id"), col(s"`$vecCol`").as("__v"))
      .withColumn("__n", sqrt(normSq(col("__v"))))
      .filter(col("__n") > 0.0)
    val joined = pairs
      .select(col(s"`$idACol`").as("__a"), col(s"`$idBCol`").as("__b"))
      .join(e.select(col("__id").as("__a"), col("__v").as("__va"),
        col("__n").as("__na")), Seq("__a"))
      .join(e.select(col("__id").as("__b"), col("__v").as("__vb"),
        col("__n").as("__nb")), Seq("__b"))
      .withColumn("__cos",
        round((dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .cast(DecimalType(25, 12)), 9).cast("double"))
    joined
      .join(nbrAvg(nbrA, "__avga").withColumnRenamed("query_id", "__a"),
        Seq("__a"), "left")
      .join(nbrAvg(nbrB, "__avgb").withColumnRenamed("query_id", "__b"),
        Seq("__b"), "left")
      .select(col("__a").as(idACol), col("__b").as(idBCol),
        col("__cos").as("cosine"),
        when(col("__avga").isNotNull && col("__avgb").isNotNull &&
            col("__avga") + col("__avgb") =!= 0.0,
          round((col("__cos") / (col("__avga") + col("__avgb")))
            .cast(DecimalType(25, 12)), 9).cast("double")).as("margin"))
  }

  /** Embedding ALIGNMENT (Wang & Isola 2020, "Understanding Contrastive
    * Representation Learning"): E ‖x − y‖² over POSITIVE pairs of
    * unit-normalized embeddings — low alignment says semantically-linked
    * items embed close; rising alignment across checkpoints is the
    * first sign of a drifting encoder. The pair frame is CALLER-supplied
    * (near-dup pairs, label pairs, click pairs — whatever "positive"
    * means in the pipeline), so the operator composes with every pair
    * generator in [[Dedup]]. Output ONE row: (n_pairs long, alignment
    * double — NULL when no pair survives). Pairs whose side is missing,
    * NULL, or zero-norm drop.
    *
    * Exactness: each d² is the exact-decimal fold over normalized
    * FLOATS ([[org.apache.spark.sql.graft.DecimalVecFold]]), quantized
    * to 9 dp and summed in exact decimal; ONE final division.
    *
    * 100 TB shape: two equi-joins of the pair list against the
    * embedding table (pair-cardinality, hash-partitioned), one
    * map-side-combinable global aggregation. No pair enumeration here —
    * the caller's pair generator owns that cost. */
  def embeddingAlignment(pairs: DataFrame, idACol: String, idBCol: String,
      emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = unitVectors(emb, idCol, vecCol, "align")
    val joined = pairs
      .select(col(s"`$idACol`").as("__a"), col(s"`$idBCol`").as("__b"))
      .join(e.select(col("__id").as("__a"), col("__nv").as("__va")), Seq("__a"))
      .join(e.select(col("__id").as("__b"), col("__nv").as("__vb")), Seq("__b"))
    val d2 = org.apache.spark.sql.graft.DecimalVecFold
      .distSq(col("__va"), col("__vb"))
    joined
      .select(round(d2.cast(DecimalType(25, 12)), 9)
        .cast(DecimalType(25, 9)).as("__d2"))
      .filter(col("__d2").isNotNull)
      .agg(count(lit(1)).as("n_pairs"),
        round((sum(col("__d2")).cast("double") / count(lit(1)).cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double").as("alignment"))
  }

  /** Embedding UNIFORMITY (Wang & Isola 2020):
    * ln E exp(−t·‖x − y‖²) over pairs of unit-normalized embeddings —
    * the "are we using the whole sphere" metric (contrastive collapse
    * drives it toward 0; a well-spread encoder sits strongly negative).
    * The iid pair expectation is estimated over DETERMINISTIC
    * md5-bucket pairs: ids hash into `nBuckets` buckets, all a < b
    * pairs WITHIN a bucket enter the estimate — the hash is
    * content-blind, so bucket-mates are an unbiased iid sample, and
    * re-runs/engines see the identical pair set. Output ONE row:
    * (n_pairs long, uniformity double — NULL when no bucket holds two
    * vectors). NULL/zero-norm vectors drop.
    *
    * Exactness: d² as in [[embeddingAlignment]]; each exp(−t·d²) rides
    * the 9-dp decimal exp contract, sums in exact decimal, ONE division
    * and one 9-dp ln.
    *
    * 100 TB shape: the pair space is the bucketed self-equi-join —
    * Σ_b size(b)² pairs, bounded by choosing nBuckets ∝ n so bucket
    * occupancy stays constant (pairs then grow LINEARLY in n); never
    * the all-pairs square. One shuffle on the bucket key, one global
    * aggregation. */
  def embeddingUniformity(df: DataFrame, idCol: String, vecCol: String,
      nBuckets: Int, t: Double = 2.0, salt: String = "unif"): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(t > 0 && !t.isNaN && !t.isInfinity, s"t must be finite and > 0, got $t")
    val e = unitVectors(df, idCol, vecCol, "unif")
      .withColumn("__bk",
        Splits.hashBucket(col("__id").cast("string"), salt, nBuckets))
    val a = e.select(col("__bk"), col("__id").as("__a"), col("__nv").as("__va"))
    val b = e.select(col("__bk"), col("__id").as("__b"), col("__nv").as("__vb"))
    val d2 = org.apache.spark.sql.graft.DecimalVecFold
      .distSq(col("__va"), col("__vb"))
    a.join(b, Seq("__bk")).filter(col("__a") < col("__b"))
      .select(round(exp(lit(-t) * d2).cast(DecimalType(25, 12)), 9)
        .cast(DecimalType(25, 9)).as("__e"))
      .filter(col("__e").isNotNull)
      .agg(count(lit(1)).as("n_pairs"),
        round(log(sum(col("__e")).cast("double") / count(lit(1)).cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double").as("uniformity"))
  }
}
