package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Keyword search over a document corpus: BM25 (Robertson/Sparck Jones,
  * the +1 idf variant Lucene uses, so idf is always positive) as one
  * declarative plan — beyond-reference, SURVEY.md §2.4; the reference has
  * no text-retrieval surface at all.
  *
  * 100 TB shape — the key move is that the corpus token stream is
  * restricted to QUERY terms (a broadcast join against the distinct term
  * set of the query batch) BEFORE anything aggregates, so every shuffle
  * downstream of the scan is proportional to the number of matching
  * postings, not to the corpus:
  *
  *   - doc lengths: one map-side-combinable count per doc over the token
  *     stream (narrow row per doc — the only corpus-sized aggregate);
  *   - tf: groupBy (doc, term) over the RESTRICTED stream;
  *   - df/idf: counted from the tf frame (tiny — one row per matched
  *     (doc, term)), then broadcast back;
  *   - scoring: broadcast joins for query terms and idf, one hash join
  *     with the doc-length frame, one (query, doc) aggregation, one
  *     per-query top-k window.
  *
  * Stage lifecycle: both operators stage per-call intermediates through
  * [[Stager.stage]] (the current stager, LocalCheckpoint by default). As
  * with [[Dedup.nearDupPairsMinhash]], a long-lived session issuing many
  * calls should make them inside [[Stager.recording]] and release after
  * materializing — the [[Curation.curateStaged]] pattern — or the staged
  * storage outlives the call.
  *
  * Determinism for the oracle gate: per-term contributions are doubles
  * built only from IEEE correctly-rounded ops (+ - * /), EXCEPT the idf's
  * natural log, which is not bit-portable across engines (libm vs JVM
  * differ in ~0.2% of values at 1 ulp). `idfRoundDp = Some(dp)` rounds
  * idf through DECIMAL(25,12) to dp places — 1-ulp noise at 1e-16 cannot
  * move a 1e-dp boundary — and per-(query,doc) scores then sum the
  * contributions through an exact DECIMAL(25,9) accumulator so addition
  * order stops mattering. Default (None) keeps full double precision.
  */
object Search {

  /** The shared tokenization contract — delegates to
    * [[graft.functions.TextFunctions.termStream]], the single definition
    * Search, Vocab and the DuckDB oracles all agree on. */
  private def termStream(df: DataFrame, keep: Column, text: String): DataFrame =
    graft.functions.TextFunctions.termStream(df, Seq(keep), text)

  /** BM25 top-k: for each query row, the k best documents.
    * Output: (queryIdCol, idCol, score, rank), rank 1..k per query by
    * (score desc, idCol asc); queries matching nothing yield no rows.
    * Query terms are deduplicated per query (standard for short queries —
    * repeating a term in the query string does not double its weight). */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idfRoundDp: Option[Int] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"k1 >= 0 and 0 <= b <= 1 required, got k1=$k1 b=$b")
    val id = col(s"`$idCol`")
    val qid = col(s"`$queryIdCol`")
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val qTerms = termStream(queries, qid, queryTextCol).distinct()
    val tokStream = termStream(docs, id, textCol)

    // narrow corpus-sized frames: one row per doc / one row of globals.
    // dl feeds BOTH stats and the scoring join, tf feeds the df count and
    // the scoring join — staged, or each consumer re-tokenizes the whole
    // corpus (column pruning specializes the copies past ReuseExchange).
    // The token STREAM itself stays unstaged on purpose: materializing it
    // would write ~10x the corpus; two scans beat that.
    val dl = Stager.stage(
      tokStream.groupBy(id).agg(count(lit(1)).as("__dl")), s"bm25_dl_$runId")
    val stats = docs.agg(count(lit(1)).cast("double").as("__n"))
      .crossJoin(dl.agg(sum(col("__dl")).cast("double").as("__sumdl")))
      .withColumn("__avgdl", col("__sumdl") / col("__n"))

    // everything below is proportional to MATCHING postings only
    val tf = Stager.stage(
      tokStream
        .join(broadcast(qTerms.select(col("__term")).distinct()), "__term")
        .groupBy(id, col("__term"))
        .agg(count(lit(1)).as("__tf")),
      s"bm25_tf_$runId")
    val idfRaw = log((col("__n") - col("__df") + lit(0.5)) /
      (col("__df") + lit(0.5)) + lit(1.0))
    val idf = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
      .crossJoin(stats.select(col("__n")))
      .withColumn("__idf", idfRoundDp match {
        case Some(dp) => round(idfRaw.cast(DecimalType(25, 12)), dp).cast("double")
        case None => idfRaw
      })
      .select(col("__term"), col("__idf"))

    val contrib = col("__idf") * (col("__tf") * lit(k1 + 1)) /
      (col("__tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("__dl") / col("__avgdl")))
    val scored = tf
      .join(broadcast(qTerms), "__term")
      .join(broadcast(idf), "__term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats.select(col("__avgdl"))))
      .groupBy(qid, id)
      .agg(sum(contrib.cast(DecimalType(25, 9))).cast("double").as("score"))

    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(qid).orderBy(col("score").desc, id.asc)))
      .filter(col("rank") <= k)
  }

  /** "More like this": for each target document (a SMALL id set), the k
    * most similar other documents by TF-IDF cosine over shared terms —
    * doc→doc similarity without embeddings, the classic related-items /
    * near-cluster exploration op.
    *
    * tfidf weight = tf · idf with idf = ln(N / df) (rounded through
    * decimal like [[bm25TopK]] when `idfRoundDp` is set); cosine =
    * Σ_shared(w_t·w_d) / (‖w_t‖·‖w_d‖). Norms need every doc's full
    * weight vector, so postings ARE corpus-sized here — but they shuffle
    * as (term, doc, weight) triples for one self-join keyed by term,
    * restricted to the broadcast target docs' terms first, so the join
    * output is proportional to postings CONTAINING a target term, not
    * |corpus|². Output: (targetIdCol=idCol of the target, neighbor_id,
    * cosine, rank), targets absent when nothing shares a term.
    *
    * The target-postings broadcast assumes a small target set; a caller
    * passing (say) the whole corpus would silently OOM the driver at
    * scale. The operator stages the distinct target ids and counts them
    * up front (one action, paid once — the staged frame also feeds the
    * join) and past `maxBroadcastTargets` switches BOTH target joins to
    * ordinary shuffle joins — same rows, no driver materialization. */
  def moreLikeThis(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetIds: DataFrame,
      k: Int,
      idfRoundDp: Option[Int] = None,
      maxBroadcastTargets: Long = 100000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxBroadcastTargets >= 0, s"maxBroadcastTargets must be >= 0, got $maxBroadcastTargets")
    val id = col(s"`$idCol`")
    // staged: idf derives from postings AND joins back onto them — without
    // the stage the corpus-sized tokenize/count pipeline runs twice
    val postings = Stager.stage(
      termStream(docs, id, textCol)
        .groupBy(id, col("__term"))
        .agg(count(lit(1)).as("__tf")),
      s"mlt_postings_${java.util.UUID.randomUUID().toString.take(8)}")
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    val idfRaw = log(col("__n") / col("__df"))
    val idf = postings.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
      .crossJoin(n)
      .withColumn("__idf", idfRoundDp match {
        case Some(dp) => round(idfRaw.cast(DecimalType(25, 12)), dp).cast("double")
        case None => idfRaw
      })
      .select(col("__term"), col("__idf"))
    // weighted postings feed THREE consumers (norms, target extraction,
    // the term self-join) — stage once instead of recomputing the whole
    // tokenize/count/idf pipeline per consumer (the Dedup convention)
    val weighted = Stager.stage(
      postings.join(idf, "__term").withColumn("__w", col("__tf") * col("__idf")),
      s"mlt_weighted_${java.util.UUID.randomUUID().toString.take(8)}")
    // norms: exact decimal sum of squares per doc (order-free, like dsum).
    // A doc whose every term is ubiquitous (idf 0) has norm 0 — drop it
    // from both roles rather than let 0/0 = NaN out-rank everything
    // (Spark orders NaN above every double).
    val norms = weighted.groupBy(id)
      .agg(sqrt(sum((col("__w") * col("__w")).cast(DecimalType(25, 9))).cast("double"))
        .as("__norm"))
      .filter(col("__norm") > 0)
    // staged BEFORE the count: the guard's action and the join below both
    // consume the distinct target ids — without the stage, a targetIds
    // built from an expensive pipeline would execute that pipeline twice
    val tids = Stager.stage(targetIds.select(id).distinct(),
      s"mlt_tids_${java.util.UUID.randomUUID().toString.take(8)}")
    val smallTargetSet = tids.count() <= maxBroadcastTargets
    def hinted(df: DataFrame): DataFrame = if (smallTargetSet) broadcast(df) else df
    val t = weighted.join(hinted(tids), idCol)
      .select(id.as("__tid"), col("__term"), col("__w").as("__tw"))
    weighted.join(hinted(t), "__term")
      .filter(col("__tid") =!= id)
      .groupBy(col("__tid"), id.as("neighbor_id"))
      .agg(sum((col("__tw") * col("__w")).cast(DecimalType(25, 9))).cast("double").as("__dot"))
      .join(norms.select(id.as("__tid"), col("__norm").as("__tn")), "__tid")
      .join(norms.select(id.as("neighbor_id"), col("__norm").as("__nn")), "neighbor_id")
      .withColumn("cosine", col("__dot") / (col("__tn") * col("__nn")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("__tid")).orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(col("__tid").as(idCol), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Per-document keyword extraction: top-k terms by tf·idf with the
    * smoothed idf = ln((N+1)/(df+1)). The standard "what is this doc
    * about" signal for corpus exploration, routing and weak labeling.
    *
    * 100 TB shape: one token-stream aggregation for tf (map-side
    * combinable), df derived FROM tf (one more hash agg — never a second
    * corpus scan), idf joined back on the term key; the per-doc top-k
    * window partitions by doc so no group exceeds its own vocabulary.
    * `minDf` prunes hapax noise before the join, shrinking the idf side.
    * Determinism: tf/df/N are exact int64; idf rides the p26
    * DECIMAL(25,12)-round contract; score = one IEEE multiply; the
    * (score desc, term asc) order is total. */
  def topTermsPerDoc(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minDf: Long = 1,
      idfRoundDp: Int = 9): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val id = col(s"`$idCol`")
    // tf feeds BOTH the df count and the scoring join — staged, or each
    // consumer re-tokenizes the whole corpus (the bm25TopK rule; the
    // PlanAuditSpec p59 entry pins corpus scans at one)
    val tf = Stager.stage(
      termStream(docs, id, textCol)
        .groupBy(id, col("__term")).agg(count(lit(1)).as("__tf")),
      s"tfidf_tf_${java.util.UUID.randomUUID().toString.take(8)}")
    val dfCounts = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    val idf = dfCounts.crossJoin(broadcast(n))
      .withColumn("__idf",
        round(log((col("__n") + lit(1.0)) / (col("__df").cast("double") + lit(1.0)))
          .cast(DecimalType(25, 12)), idfRoundDp).cast("double"))
      .select(col("__term"), col("__idf"))
    tf.join(idf, "__term")
      .withColumn("score", col("__tf").cast("double") * col("__idf"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(id).orderBy(col("score").desc, col("__term"))))
      .filter(col("rank") <= k)
      .select(id, col("__term").as("term"), col("rank"), col("score"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): merge any
    * number of per-query rankings — lexical BM25/tf-idf, embedding ANN,
    * recency, whatever — into one hybrid ranking by
    *
    *   rrf(q, d) = sum over rankings r that returned d for q of 1 / (k0 + rank_r(d))
    *
    * the standard score-free hybrid-search combinator (rank positions
    * only, so wildly different score scales fuse without calibration).
    * Every input must carry (query_id, item_id, rank); k0 = 60 is the
    * paper's constant. Output: (query_id, item_id, n_rankings,
    * rrf_score, fused_rank), fused_rank 1..k per query, ties on the
    * score broken by item_id.
    *
    * 100 TB shape: a union + one map-side-combinable groupBy on
    * (query, item) + one per-query window — no joins at all, and each
    * reciprocal is ONE IEEE division of exact small ints summed through
    * DECIMAL(25,18), so the fused scores are order-independent and
    * bit-identical in the DuckDB oracle. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1, s"k must be >= 1, got $k")
    require(k0 >= 0, s"k0 must be >= 0, got $k0")
    val needed = Seq("query_id", "item_id", "rank")
    rankings.foreach { r =>
      require(needed.forall(r.columns.contains),
        s"each ranking needs columns $needed, got ${r.columns.toSeq}") }
    val all = rankings
      .map(_.select(col("query_id"), col("item_id"), col("rank")))
      .reduce(_ unionByName _)
    val scored = all.groupBy(col("query_id"), col("item_id"))
      .agg(count(lit(1)).as("n_rankings"),
        sum((lit(1.0) / (col("rank").cast("double") + lit(k0.toDouble)))
          .cast(DecimalType(25, 18)))
          .cast("double").as("rrf_score"))
    scored.withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_score").desc, col("item_id"))))
      .filter(col("fused_rank") <= k)
  }
}
