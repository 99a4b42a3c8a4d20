package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan assertions for the 100 TB rules: filters and projections
  * must reach the parquet scan, small dims must broadcast, top-k must be
  * TakeOrderedAndProject — the properties that keep these plans viable at
  * 1000x the test data. The queries audited are the live gate queries, so
  * a regression in plan shape fails CI, not just a bench eyeball. */
class PlanAuditSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def scans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
    def strip(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
    def all(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: strip(p).flatMap(all)
    all(plan).collect { case s: FileSourceScanExec => s }
  }

  /** Stages nothing, so an audit sees an operator's full lineage in one
    * plan (a test-only stager: it breaks the materialize-on-stage rule). */
  private object Inline extends graft.operators.Stager {
    override def stage(df: org.apache.spark.sql.DataFrame, name: String) = df
    override def release(staged: org.apache.spark.sql.DataFrame, name: String): Unit = ()
  }

  test("q02: filter is pushed to the scan and the schema is pruned") {
    val df = SparkEntry.queries("q02_filter_project")(spark, dir)
    val scan = scans(df.queryExecution.executedPlan)
      .find(_.tableIdentifier.isEmpty).getOrElse(scans(df.queryExecution.executedPlan).head)
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("l_quantity") && pushed.contains("l_returnflag"), pushed)
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols === Set("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_returnflag"))
  }

  test("q03: the dimension side of the join broadcasts") {
    val df = SparkEntry.queries("q03_join_broadcast")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("no gate query ends in a global sort: both checkers compare sorted rows") {
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (_, fn) =>
      fn(spark, dir).queryExecution.analyzed match {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.global
        case _ => false
      }
    }.map(_._1)
    assert(sorted.isEmpty, sorted.mkString(", "))
  }

  test("q10: top-k compiles to TakeOrderedAndProject, not global sort") {
    val df = SparkEntry.queries("q10_topk")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("p01: text stats stay in one scan with no shuffle beyond the agg") {
    val df = SparkEntry.queries("p01_text_stats")(spark, dir)
    val plan = df.queryExecution.executedPlan
    assert(scans(plan).size === 1, plan.toString)
  }

  test("q22: fixed dims broadcast; no unconditional broadcast of a row-count-scaling table") {
    val df = SparkEntry.queries("q22_multi_join")(spark, dir)
    val optimized = df.queryExecution.optimizedPlan.toString
    // the ONLY broadcast HINTS are nation/region (fixed 25/5 rows at any
    // SF); customer/orders/lineitem scale with the data and must be left
    // to AQE's measured size checks
    val hintCount = "strategy=broadcast".r.findAllIn(optimized).size
    assert(hintCount === 2, s"expected exactly 2 broadcast hints (nation, region):\n$optimized")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("p26: BM25 restricts the corpus token stream via broadcast, never a corpus shuffle on terms") {
    val df = SparkEntry.queries("p26_bm25_topk")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // query-term restriction + qid/idf re-attachment are all broadcast
    // hash joins; a SortMergeJoin would mean corpus-sized term shuffling
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("p29: the vocab top-N cut is TakeOrderedAndProject, not a global sort") {
    val df = graft.operators.Vocab.buildVocab(
      spark.read.parquet(s"$dir/documents.parquet"), "text", maxSize = 50)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("p30: sliding-window chunking plans with zero exchanges") {
    val df = graft.operators.Packing.slidingWindows(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 64, 48)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("p41: the LM scoring plan reads the corpus ONCE; model tables come from stages") {
    val df = SparkEntry.queries("p41_lm_score")(spark, dir)
    val plan = df.queryExecution.executedPlan
    // vocab + bigram + context + type-count frames are staged RDDs — only
    // the scoring stream touches parquet
    assert(scans(plan).size === 1, plan.toString)
    assert(plan.toString.contains("BroadcastHashJoin"), "ctx/vocab should broadcast")
  }

  test("p42: the corpus profile is a single-scan aggregation chain") {
    val df = SparkEntry.queries("p42_corpus_profile")(spark, dir)
    assert(scans(df.queryExecution.executedPlan).size === 1,
      df.queryExecution.executedPlan.toString)
  }

  test("p43: both self-join sides read the staged gram table, not the corpus") {
    val df = SparkEntry.queries("p43_source_overlap")(spark, dir)
    val plan = df.queryExecution.executedPlan
    // zero parquet scans: the distinct (group, hash) stage feeds the cap
    // count and both join sides
    assert(scans(plan).isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
  }

  test("p44: span dedup re-reads the corpus twice (stream unstaged by design) and covers via a RANGE frame") {
    val df = SparkEntry.queries("p44_span_dedup")(spark, dir)
    val plan = df.queryExecution.executedPlan
    // one scan for the coverage token stream + one for the final
    // column-preserving join back; the gram pipeline reads its stage
    assert(scans(plan).size === 2, plan.toString)
    assert(plan.toString.contains("RangeFrame"),
      "coverage window must use a RANGE frame (value-based span distance)")
  }

  test("p45: char entropy is a single-scan double aggregation") {
    val df = SparkEntry.queries("p45_char_entropy")(spark, dir)
    assert(scans(df.queryExecution.executedPlan).size === 1,
      df.queryExecution.executedPlan.toString)
  }

  test("p46: boilerplate top-k cut is TakeOrderedAndProject; text recovery broadcasts") {
    val df = SparkEntry.queries("p46_boilerplate_ngrams")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the k winners come off a top-k operator, not a global sort...
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // ...and rejoin the shingle stream by broadcast — gram text must never
    // ride a corpus-wide shuffle (SortMergeJoin would mean exactly that)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("asof nearest: both window scans share ONE key exchange") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SparkPlan
    val left = (1 to 100).map(i => (i % 5L, i.toLong)).toDF("k", "t")
    val right = (1 to 50).map(i => (i % 5L, i * 2L, i * 1.0)).toDF("k", "rt", "v")
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case o => o.children
    }).flatMap(all)
    for (s <- Seq("backward", "forward", "nearest")) {
      val out = graft.operators.AsofJoin(left, right, Seq("k"), "t", "rt", Seq("v"), s)
      // inspect the EnsureRequirements output directly (no execution): an
      // executed adaptive plan hides exchanges inside query-stage leaves,
      // which this traversal would undercount
      val shuffles = all(out.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeExec])
      // nearest evaluates TWO windows (asc + desc scans) but they share the
      // same hash partitioning on the key — a second exchange would double
      // the operator's network cost at scale for no reason
      assert(shuffles === 1,
        s"strategy=$s: $shuffles shuffles\n${out.queryExecution.executedPlan}")
    }
  }

  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case o => o.children
    }).flatMap(planNodes)

  test("p51: the PMI vocab cut is TakeOrderedAndProject and broadcasts into the pair join") {
    val df = SparkEntry.queries("p51_pmi_pairs")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // vocab cut: top-V by df never global-sorts the term table
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // vocab (and the 1-row N) reach the joins as broadcasts
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("p50: the diff's full-outer join shuffles signatures, never document text") {
    val df = SparkEntry.queries("p50_corpus_diff")(spark, dir)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exchanges = planNodes(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty)
    // KEY-partitioned exchanges are the operator's own shuffles and must
    // carry signatures, never text. The loader's single-task-scan fan-out
    // (SparkEntry.t, guide §2.5) is RoundRobinPartitioning and is exempt:
    // it is a local-data-parallelism fixup below the operator, not a join/
    // agg repartition, and at production scale it does not exist at all.
    exchanges.filterNot(
        _.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
      .foreach { e =>
        assert(!e.child.output.map(_.name).contains("text"),
          e.child.output.map(_.name).mkString(","))
      }
  }

  test("p59: tf-idf keywords scan parquet only for N; df and scoring read the tf stage") {
    val df = SparkEntry.queries("p59_tfidf_keywords")(spark, dir)
    val plan = df.queryExecution.executedPlan
    // the tf aggregate is staged (corpus tokenized exactly once, at stage
    // build); the final plan's only parquet scan is the zero-column
    // COUNT(*) for N
    val s = scans(plan)
    assert(s.size === 1 && s.head.requiredSchema.isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
  }

  test("p61: pagerank's final plan reads staged RDDs only, with a " +
    "lineage footprint independent of the iteration count") {
    // parquet-backed edge list (nation: 25 rows, nationkey -> regionkey)
    val edges = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").as("u"), col("n_regionkey").as("v"))
    def rddScans(df: org.apache.spark.sql.DataFrame): Int =
      planNodes(df.queryExecution.executedPlan)
        .count(_.toString.startsWith("Scan ExistingRDD"))
    val pr2 = graft.operators.Graphs.pagerank(edges, "u", "v", iters = 2)
    val pr5 = graft.operators.Graphs.pagerank(edges, "u", "v", iters = 5)
    // every base read happens inside a stage action — the returned frame
    // must never rescan parquet per consumer...
    assert(scans(pr5.queryExecution.executedPlan).isEmpty,
      pr5.queryExecution.executedPlan.toString)
    assert(rddScans(pr5) > 0)
    // ...and the per-round staging must CUT lineage: iteration 5's plan is
    // exactly as wide as iteration 2's (an unstaged loop would stack 3 more
    // join+agg rounds into the final plan and eventually blow analysis up)
    assert(rddScans(pr2) === rddScans(pr5),
      s"lineage grew with iters: ${rddScans(pr2)} vs ${rddScans(pr5)}")
  }

  test("p62: triangle count reads the staged oriented edges, not the base table, per consumer") {
    val edges = spark.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").as("u"), col("n_regionkey").as("v"))
    val df = graft.operators.Graphs.triangleCount(edges, "u", "v")
    val plan = df.queryExecution.executedPlan
    // the wedge self-join + closing join consume the oriented edge stage
    // three times; parquet is only read once, inside the stage action
    assert(scans(plan).isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
  }

  test("p64: semDedup consumers read the staged assignment, never the base table") {
    val df = spark.read.parquet(s"$dir/embeddings.parquet")
    val out = graft.operators.Dedup.semDedup(df, "vec_id", "embedding",
      eps = 0.35, nClusters = 4)
    val plan = out.queryExecution.executedPlan
    // the pair join's branches and the kept join all consume the staged
    // assignment; parquet is read once, inside the stage action
    assert(scans(plan).isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
    // the pair join is keyed on the cluster — never a cross product
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
  }

  test("p66: each corpus tokenizes exactly once, inside a stage action") {
    val df = SparkEntry.queries("p66_dsir_resample")(spark, dir)
    val plan = df.queryExecution.executedPlan
    // raw-model counts AND per-doc scoring read the staged (id, bucket)
    // counts; the llr join AND the feature-total scalar read the staged
    // target model — the final plan touches no parquet at all
    assert(scans(plan).isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
  }

  test("p69: every prefix-join consumer reads the staged shingle sets; no cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8)
    val plan = out.queryExecution.executedPlan
    // the df count, the prefix stream and both verify sides all consume
    // the staged sets — parquet is read once, inside the stage action
    assert(scans(plan).isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
    // candidates come from the equi-join on prefix shingles — the entire
    // point over jaccardPairsExact's cross join
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"), plan.toString)
  }

  test("p72: every edit-join consumer reads the staged keys; equi-joins only") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.editDistancePairs(
      docs.select(col("doc_id"), substring(col("text"), 1, 16).as("k")),
      "doc_id", "k", 2)
    val plan = out.queryExecution.executedPlan
    // the gram stream, the short block and both verify sides all consume
    // the staged keys — parquet is read once, inside the stage action
    assert(scans(plan).isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
    // candidates come from the segment / length-key equi-joins
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
    assert(!plan.toString.contains("BroadcastNestedLoopJoin"), plan.toString)
  }

  test("p73: heavy hitters reads the staged key stream; the only non-equi join is the 1-row total") {
    val sh = graft.operators.Dedup.shingleRows(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 3)
    val out = graft.operators.Sketch.heavyHitters(sh, "shingle", minFraction = 0.00005)
    val plan = out.queryExecution.executedPlan
    // candidate pass and recount both read the staged keys, not parquet
    assert(scans(plan).isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
    assert(!plan.toString.contains("CartesianProduct"), plan.toString)
    // the candidate set joins the recount as a broadcast EQUI join — the
    // long tail must not survive to the groupBy
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
  }

  test("p74: both band consumers read the STAGED scored frame — the LM never scores twice") {
    val plan = SparkEntry.queries("p74_perplexity_prune")(spark, dir)
      .queryExecution.executedPlan
    // the sketch pass and the band filter both consume the staged
    // (id, group, score) frame; unstaged, the bigram-LM pipeline ran
    // once per consumer (measured 2x the gate)
    assert(scans(plan).isEmpty, plan.toString)
    assert(plan.toString.contains("Scan ExistingRDD"), plan.toString)
  }

  test("p75: calibration never windows over the group key on data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Profile.calibrateByGroup(
      docs.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len")),
      "source", "len", "doc_id")
    val plan = out.queryExecution.executedPlan.toString
    // keyed-PrefixSum shape: data windows partition by (__psid, __g);
    // a `windowspecdefinition(__g#…, __v…)` (or a percent_rank window
    // over the raw rows) would be the pre-r13 giant-group reducer sort
    assert(!plan.matches("(?s).*windowspecdefinition\\(__g#\\d+, __v.*"), plan)
    assert(!plan.contains("percent_rank"), plan)
    assert(plan.contains("cum___c"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("p77: the zipf top-N cut pushes down as a group limit; one corpus scan") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Profile.zipfFit(docs, "source", "text", topN = 100)
    val plan = out.queryExecution.executedPlan
    assert(scans(plan).size === 1, plan.toString)
    // rank <= topN over (count desc) must plan as WindowGroupLimit —
    // per-group top-N retention, not a full per-group sort spill
    assert(plan.toString.contains("WindowGroupLimit"), plan.toString)
  }

  test("p70: the quantile sketch is a single scan; bottom-k and pack share one exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Sketch.quantileSketch(
      docs.withColumn("len", length(col("text")).cast("long")),
      "len", "lang", "doc_id", k = 64)
    val plan = out.queryExecution.executedPlan
    assert(scans(plan).size === 1, plan.toString)
    // the bottom-k window and the collect_list groupBy both key on the
    // group column — one hash exchange serves both
    val shuffles = planNodes(plan).count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles === 1, s"$shuffles shuffles:\n$plan")
  }

  test("p102: keySkew's corpus pays one count shuffle; histogram/top-k read the staged counts") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val events = graft.Tables.events(spark, dir)
    // stage inline so the audit sees the FULL lineage: the corpus-sized
    // count aggregation must appear
    val out = graft.operators.Stager.using(Inline) {
      graft.operators.Profile.keySkew(events, "user_id")
    }
    val plan = out.queryExecution.executedPlan.toString
    // one scan + one hash-count exchange for the corpus; everything else
    // (histogram, quantile scalars, top-k) operates on the staged counts
    assert(!plan.contains("CartesianProduct"), plan)
    val corpusAggs = "(?s)HashAggregate.*user_id".r.findAllIn(plan).size
    assert(corpusAggs >= 1, plan)
    // TakeOrdered (distributed top-k), never a global Sort over keys
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("p108: rollingDistinct explodes the staged distinct frame — no range join, no cartesian") {
    val events = graft.Tables.events(spark, dir)
    val out = graft.operators.Stager.using(Inline) {
      graft.operators.Sessionize.rollingDistinct(events, "ts", "user_id")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Generate explode"), plan)
    // the day-level join is an equi join
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("plan sweep: no gate query plans a CartesianProduct; nested-loop " +
    "joins only where a tiny broadcast side is the design") {
    // every BNLJ below broadcasts a bounded side: a 1-row scalar aggregate
    // (q24 global avg; N in bm25/tf-idf/PMI/lm-score), the query/label set
    // of a brute-force baseline (p07/p54), the documented small-side-only
    // all-pairs ops (p12), the ADC linear scan over broadcast queries
    // (p28/p37 with coarseCells=0), or the benchmark set (p34). Anything
    // NEW showing up here means a join lost its equi-keys — review it,
    // and either fix the join or whitelist it with a reason.
    val bnljByDesign = Set(
      "q24_global_avg_filter", "p07_embed_knn", "p12_jaccard_pairs",
      "p26_bm25_topk", "p28_embed_pq", "p34_semantic_decontam",
      "p37_embed_pq_trained", "p41_lm_score", "p51_pmi_pairs",
      "p54_hard_negatives", "p59_tfidf_keywords",
      // p66: the two 1-row feature-total scalars broadcast into the
      // bounded llr model frame; p67/p68: the brute-force candidate pool
      // is the p07 broadcast-queries cross join (swap an LSH/IVF
      // generator in at scale, per mmrTopK's scaladoc), and p68 also
      // inherits p35's 1-row corpus-size scalar
      "p66_dsir_resample", "p67_mmr_topk", "p68_rrf_fusion",
      // p73: the 1-row corpus-total scalar broadcasts into the candidate
      // counts for the integer-micros threshold — a broadcast dim, not a
      // pair blow-up; p74 inherits p41's 1-row vocab-size scalar through
      // the bigram-LM scorer; p78's kept-piece total is the same 1-row
      // scalar shape; p80's exact side IS p07's brute-force baseline
      // (broadcast query set by design)
      "p73_heavy_hitters", "p74_perplexity_prune", "p78_unigram_pieces",
      // p181: three 1-row scalar frames (distinct counts + shared count)
      // cross-joined into the single report row; p183: the pair frame is
      // a |groups|-row sketch crossed with itself — bounded by group
      // cardinality, carrying only <=k-element minima arrays
      "p181_key_overlap", "p183_overlap_matrix",
      // p173: the 1-row pooled-totals scalar broadcasts into the merged
      // distinct-value frame (the p118/p141 KS/W1 shape)
      "p173_cvm",
      // p182: the 1-row (n, P) totals scalar broadcasts into the
      // distinct-score frame before bucketing (the p141 totals shape)
      "p182_gains_table",
      // p184: the 1-row n_keys total broadcasts into the hash-CDF frame;
      // p185: the 1-row distinct-bigram-type scalar broadcasts into the
      // scoring stream (the p41/p74 vocab-size-scalar shape)
      "p184_hash_uniformity", "p185_lm_kn",
      // p186: the k-1 single-row source-count scalars join the
      // single-row conversion aggregates into the |stages|-1-row report
      "p186_funnel_window",
      // p188: the 1-row (n, P) totals scalar broadcasts into the
      // distinct-score frame (the p182 gains shape)
      "p188_roc_curve",
      // p212: the 1-row reference-group rate frame left-joins every
      // |groups| row (an empty-or-one-row baseline must NULL the gaps,
      // not drop the groups); p213/p215: the 1-row weight/count totals
      // scalar broadcasts into the vocabulary frame (the p86 divergence
      // shape); p214: the 1-row corpus token total broadcasts into the
      // token stream for the frequency-ratio division
      "p212_fairness_audit", "p213_negative_sampling",
      "p214_subsample_frequent", "p215_fightin_words",
      // p229: the exact side of the RBO comparison IS p07's brute-force
      // baseline (broadcast query set by design — the p80 recall shape)
      "p229_rank_biased_overlap",
      // p230: the 1-row corpus-token total broadcasts into the <=k+1-row
      // report grid; p231: the |R|x|R| marginal grid (category-bounded,
      // the p121 kappa shape) plus 1-row obs/den/category scalars
      // cross-joined into the single report row
      "p230_good_turing", "p231_weighted_kappa",
      "p80_ann_recall",
      // p86: the 1-row (vocab, totals) aggregate broadcasts into the
      // per-token divergence terms — a scalar dim, not a pair blow-up;
      // p96: three 1-row count aggregates cross-join into the single
      // recall/precision report row
      "p86_corpus_divergence", "p96_lsh_recall",
      // p102: the 1-row n_keys scalar broadcasts into the count-of-counts
      // histogram, and the report row is a cross-join of 1-row
      // aggregates; p105: five 1-row sketch/count frames cross-join into
      // the single estimate row — every BNLJ side is exactly one row;
      // p113: the 1-row totals and the 1-row marginal cross product
      // cross-join into the single kappa report row; p118: the 1-row
      // totals/max frames broadcast into the distinct-value scan and the
      // single KS report row
      "p102_key_skew", "p105_join_size_est", "p113_cohen_kappa",
      "p118_ks_drift",
      // p120: the 1-row (ta, tb) totals broadcast into the per-value
      // share terms; p121: the 1-row grand-total and the 1-row n_a/n_b
      // counts cross-join into the grid terms and the single report row;
      // p124: the 1-row per-group CI frames join the overall stats, and
      // the broadcast nReps range frame is the deliberate bounded
      // resample fan-out; p125: the 1-row d_o and d_e aggregates
      // cross-join into the single alpha report row; p129: three 1-row
      // entropy aggregates cross-join into the single report row;
      // p130: the 1-row totals broadcast into the distinct-value CDF
      // for the nearest-rank picks
      "p120_psi_drift", "p121_chi_square", "p124_poisson_bootstrap",
      "p125_krippendorff_alpha", "p129_theils_u", "p130_quantile_shift",
      // p137: the 1-row weight-total broadcasts into the strata frame;
      // p139: the 1-row grand total broadcasts into the 9-row digit
      // frame — scalar dims, not pair blow-ups
      "p137_neyman_alloc", "p139_benford",
      // p141: the 1-row (n_a, n_b, n_values) totals broadcast into the
      // segment terms and the single report row — scalar dims, not pair
      // blow-ups
      "p141_wasserstein",
      // p147: the 1-row (n_cal, rank) and q̂ scalars broadcast into the
      // nearest-rank pick, the test-side coverage pass, and the single
      // report row — every BNLJ side is exactly one row
      "p147_conformal",
      // p148: the 1-row item-level and category-level aggregates
      // cross-join into the single kappa report row; p150: the 1-row
      // node count and moment sums cross-join into the single
      // assortativity report row
      "p148_fleiss_kappa", "p150_assortativity",
      // p151: the 1-row per-class threshold scalars broadcast into the
      // counting pass; p154: the exact path IS p07's brute-force
      // broadcast-queries cross join on the bounded block (LSH/IVF
      // candidates at corpus scale, per mutualNearestNeighbors' scaladoc)
      "p151_confident_joint", "p154_mutual_nn",
      // p156: the 1-row corpus-total scalar broadcasts into the rank
      // stream for the integer bin split; p157: the two 1-row side
      // totals broadcast into the distinct-value target-rank frame
      "p156_dedup_yield", "p157_quantile_normalize",
      // p158: the deliberate Θ(nBins²) interval theta join runs on the
      // <= 10-row bin frame — a bounded tiny-frame join by contract
      "p158_isotonic",
      // p243: the 1-row global-prior scalar broadcasts into the encode
      // pass (the q24 global-avg shape); p244: the topN-word frame
      // (<= topN rows by construction) broadcasts into the group-totals
      // frame to build the FULL group x word grid — zero cells are the
      // point, so the cross join IS the contract; p246: the brute-force
      // neighborhood frames are p07's broadcast-queries cross join by
      // design (candidate-injectable — LSH shortlists at scale, the
      // p67b rule)
      "p243_target_encode", "p244_burrows_delta", "p246_margin_score",
      // p248: the 1-row mapped-type-count scalar broadcasts into the
      // scoring stream (the p41 add-one denominator shape)
      "p248_min_k_prob",
      // c3 share class: the grand total is a 1-row broadcast cross join
      // back onto the |groups|-sized frame — the operator's whole design
      // (one agg + one broadcast, never a second corpus scan); p258: the
      // 1-row pair-count and roll-up frames broadcast onto the survivor
      // rows the same way
      "c3_transform_share", "p258_dpo_pipeline")
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      val cart = if (p.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val bnlj = if (p.contains("BroadcastNestedLoopJoin") && !bnljByDesign.contains(name))
        Seq(s"$name: unlisted BroadcastNestedLoopJoin") else Nil
      cart ++ bnlj
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("p53/p55/p57: the cleanup battery plans with zero exchanges") {
    for (q <- Seq("p53_gopher_rules", "p55_line_collapse", "p57_link_density")) {
      val df = SparkEntry.queries(q)(spark, dir)
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      // the scan fan-out's round-robin repartition (SparkEntry.fanoutWidth)
      // is the only allowed exchange; the operators themselves are narrow
      val shuffles = planNodes(df.queryExecution.executedPlan)
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning }
      assert(shuffles.size <= 1, s"$q: ${shuffles.size} shuffles")
      assert(shuffles.forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]), s"$q: $shuffles")
    }
  }

  test("p141: wasserstein adjacency is a rank EQUI-join, never a lead window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars").isNotNull)
    val out = graft.operators.Drift.wasserstein1(
      docs.filter(col("lang") === "en").select(col("n_chars")),
      docs.filter(col("lang") =!= "en").select(col("n_chars")), "n_chars")
    val plan = out.queryExecution.executedPlan.toString
    // consecutive-value segments come from joining rank i with rank i+1 —
    // a key-partitioned shuffle, not a single-reducer lead window
    assert(plan.contains("__rk"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only windows are PrefixSum's per-__psid local scans (plus its
    // bounded offsets pass) — never a window ordered over raw values
    // without a partition on the data-sized frame
    assert(!plan.contains("lead("), plan)
  }

  test("p146: int8 audit joins the per-dim scales by BROADCAST, no value shuffle twice") {
    val out = graft.operators.Similarity.int8QuantizationError(
      spark.read.parquet(s"$dir/embeddings.parquet"), "embedding")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("p155: changepoint plans per-group windows only — no cross join, no BNLJ") {
    val hourly = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .withColumn("hour_x",
        expr("(unix_micros(cast(ts as timestamp)) - pmod(unix_micros(cast(ts as timestamp)), 3600000000)) div 3600000000"))
      .groupBy(col("event_type"), col("hour_x"))
      .agg(count(lit(1)).as("y"))
    val out = graft.operators.Drift.changepointBinary(
      hourly, "event_type", "hour_x", "y")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // every window partitions by the group column
    assert(!plan.contains("windowspecdefinition(hour_x"), plan)
  }

  test("p51: pmi top-k is TakeOrderedAndProject — no window anywhere in the plan") {
    val out = graft.operators.Profile.pmiPairs(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      vocabSize = 150, minPairCount = 5, topK = 100)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the rank column is not even in the output; an unpartitioned
    // row_number window would sort ~V^2/2 pairs through one reducer
    assert(!plan.toLowerCase.contains("window"), plan)
  }

  test("p162: funnel percentiles never window over the tiny transition key") {
    val ev = Tables.events(spark, dir).filter(col("ts").isNotNull)
      .withColumn("ts_c", expr("cast(ts as timestamp)"))
    val out = graft.operators.Sessionize.funnelLatency(
      ev, "user_id", "ts_c", "event_id", "event_type",
      Seq("view", "click", "purchase"))
    val plan = out.queryExecution.executedPlan.toString
    // keyed-PrefixSum shape: data windows partition by (__psid, transition);
    // the only transition-first window orders PARTITION IDS over the tiny
    // offsets frame — never the converted-user latencies
    assert(!plan.matches("(?s).*windowspecdefinition\\(transition#\\d+, __lat.*"),
      plan)
    assert(plan.contains("cum___one"), plan)
  }

  test("p164/p167: keyed-prefix ranks never window over the group key on data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.operators.Profile.quantilesByGroup(
      docs, "source", "n_chars", Seq(0.25, 0.5, 0.9, 0.99))
    val qp = q.queryExecution.executedPlan.toString
    // data windows partition by (__psid, __g); only the tiny offsets
    // frame windows by __g alone — and it orders PARTITION IDS
    assert(!qp.matches("(?s).*windowspecdefinition\\(__g#\\d+, __v.*"), qp)
    assert(qp.contains("cum___c"), qp)
    val c = graft.operators.Splits.curriculumOrder(
      docs, "source", "doc_id", "n_chars")
    val cp = c.queryExecution.executedPlan.toString
    assert(!cp.matches("(?s).*windowspecdefinition\\(__g#\\d+, __ns.*"), cp)
    assert(!cp.contains("CartesianProduct"), cp)
  }

  test("p98: priority sampling never windows over the group key on data") {
    val out = graft.operators.Splits.prioritySample(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("lang"), col("doc_id"), col("n_chars")),
      "lang", "doc_id", "n_chars", k = 50)
    val plan = out.queryExecution.executedPlan.toString
    // keyed-PrefixSum shape: data windows partition by (__psid, lang);
    // a `windowspecdefinition(lang#…, __nq…)` would be the old
    // every-row-of-a-group-through-one-reducer sort
    assert(!plan.matches("(?s).*windowspecdefinition\\(lang#\\d+, __nq.*"), plan)
    assert(plan.contains("cum___one"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("p133/p194: gini and weighted quantiles never window over the group key on data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val gp = graft.operators.Profile.giniByGroup(docs, "source", "n_chars")
      .queryExecution.executedPlan.toString
    assert(!gp.matches("(?s).*windowspecdefinition\\(__g#\\d+, __v.*"), gp)
    assert(gp.contains("cum___c"), gp)
    val wq = graft.operators.Profile.weightedQuantilesByGroup(
      docs.select(col("source"), col("n_chars"),
        (col("doc_id") % 7 + 1).cast("double").as("w")),
      "source", "n_chars", "w", Seq(0.5))
      .queryExecution.executedPlan.toString
    assert(!wq.matches("(?s).*windowspecdefinition\\(__g#\\d+, __v.*"), wq)
    assert(wq.contains("cum___w"), wq)
  }

  test("p93/p128: robust stats and trimmed means never window over the group key on data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // pre-r14 both computed their cut ranks through
    // Window.partitionBy(group).orderBy(value) — a corpus-sized group
    // serialized into one reducer; now both ride keyed PrefixSum
    val rs = graft.operators.Profile.robustStats(docs, "source", "n_chars")
      .queryExecution.executedPlan.toString
    assert(!rs.matches("(?s).*windowspecdefinition\\(__g#\\d+, __v.*"), rs)
    assert(!rs.matches("(?s).*windowspecdefinition\\(source#\\d+.*"), rs)
    assert(rs.contains("cum___c"), rs)
    val tm = graft.operators.Profile.trimmedMeanByGroup(
        docs, "source", "n_chars", "doc_id", 100000L)
      .queryExecution.executedPlan.toString
    assert(!tm.matches("(?s).*windowspecdefinition\\(__g#\\d+, __v.*"), tm)
    assert(!tm.matches("(?s).*windowspecdefinition\\(source#\\d+.*"), tm)
    assert(tm.contains("cum___c"), tm)
  }

  test("p25: packing's running token count never windows over the group key on data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
    val out = graft.operators.Packing.assignBins(
      docs, "doc_id", "n_tokens", 512L, groupCol = Some("lang"))
    val plan = out.queryExecution.executedPlan.toString
    // pre-r13 this was sum().over(Window.partitionBy(lang).orderBy(id))
    // — a corpus-sized language serialized into one reducer
    assert(!plan.matches("(?s).*windowspecdefinition\\(lang#\\d+, doc_id.*"), plan)
    assert(plan.contains("cum___pk_t"), plan)
  }

  test("p142/p152: AP and NDCG ranks never window over the group key on data") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("doc_id"), col("n_chars"),
        (col("lang") === "en").as("l"))
    val ap = graft.operators.Eval.avgPrecisionByGroup(
      docs, "source", "n_chars", "l", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!ap.matches("(?s).*windowspecdefinition\\(__g#\\d+, __ns.*"), ap)
    assert(ap.contains("cum___one"), ap)
    val nd = graft.operators.Eval.ndcgByGroup(
      docs, "source", "n_chars", "l", "doc_id", k = 10)
      .queryExecution.executedPlan.toString
    assert(!nd.matches("(?s).*windowspecdefinition\\(__g#\\d+, __ns.*"), nd)
    assert(nd.contains("cum___one"), nd)
  }

  test("p134: spearman midranks never window over the group key on data") {
    val out = graft.operators.Profile.spearmanByGroup(
      Tables.events(spark, dir).filter(col("ts").isNotNull)
        .withColumn("hour_x",
          expr("(unix_micros(cast(ts as timestamp)) - pmod(unix_micros(" +
            "cast(ts as timestamp)), 3600000000)) div 3600000000")),
      "event_type", "hour_x", "value")
    val plan = out.queryExecution.executedPlan.toString
    // pre-r13 this ranked each axis with rank()/count() windows over the
    // group key — every row of a group through one reducer, twice
    assert(!plan.matches("(?s).*windowspecdefinition\\(__g#\\d+, __v.*"), plan)
    assert(plan.contains("cum___c"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("p165: survival chains two keyed prefix scans, no per-cohort data window") {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("tm"), col("event_type"))
    val subjects = ev.groupBy(col("user_id"))
      .agg(min(col("tm")).as("t0"), max(col("tm")).as("t1"),
        min(when(col("event_type") === "purchase", col("tm"))).as("tp"))
      .select(expr("user_id % 3").as("cohort"),
        expr("(coalesce(tp, t1) - t0) div 1000000").as("dur_s"),
        col("tp").isNotNull.as("converted"))
    val out = graft.operators.Sessionize.kaplanMeier(
      subjects, "cohort", "dur_s", "converted")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.matches("(?s).*windowspecdefinition\\(__g#\\d+, __t#.*"), plan)
    // the first prefix scan (cum___a, at-risk counts) is upstream of the
    // stage cut, so only the second (ln-sum) is visible in the final plan
    assert(plan.contains("cum___ln"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("p166: journey cut is TakeOrderedAndProject; per-user pre-rank prunes as WindowGroupLimit") {
    val out = graft.operators.Sessionize.topPaths(
      Tables.events(spark, dir).filter(col("ts").isNotNull)
        .withColumn("ts_c", expr("cast(ts as timestamp)")),
      "user_id", "ts_c", "event_id", "event_type", pathLen = 4, topK = 20)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the rn <= pathLen cut pushes down as a per-partition group limit,
    // so a heavy actor's history is pruned map-side before the user
    // exchange — the collect_list buffer is then bounded at pathLen
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("p187: the per-column top-1 prunes as WindowGroupLimit before the exchange") {
    val out = graft.operators.Profile.schemaProfile(
      spark.read.parquet(s"$dir/documents.parquet"),
      Seq("source", "lang", "doc_id", "n_chars"))
    val plan = out.queryExecution.executedPlan.toString
    // the window partitions by the (low-cardinality) column NAME over the
    // value-count frame — safe only because rank<=1 pushes down as a
    // per-partition group limit, so the exchange carries ~|cols| rows per
    // task, never the value frame
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("chat audit battery: audit/token-split/render plan as pure projections — zero exchanges, zero windows") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val outs = Seq(
      graft.operators.Chat.chatAudit(docs, "doc_id", "text"),
      graft.operators.Chat.chatTokenStats(docs, "doc_id", "text"),
      graft.operators.Chat.renderTemplate(docs, "doc_id", "text"))
    for (out <- outs) {
      val plan = out.queryExecution.executedPlan.toString
      // one transcript = one row: the screens must stay per-row
      // projections (HOFs over the line array), never explode + window
      // + re-aggregate — the difference between zero shuffles and two
      // corpus shuffles at 100 TB (and what makes chatAudit legal on a stream)
      assert(!plan.contains("Exchange"), plan)
      assert(!plan.contains("Window"), plan)
    }
  }

  test("parseChatTurns: kept-line filter before posexplode makes the dense index shuffle-free") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val out = graft.operators.Chat.parseChatTurns(docs, "doc_id", "text")
    val plan = out.queryExecution.executedPlan.toString
    // the explode ordinal over the pre-filtered line array IS turn_idx —
    // the r16 version recovered density with row_number() over a per-doc
    // window, shuffling every line row of the corpus for a value the
    // ordinal already carried (r16 verdict #4)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate"), plan)
  }

  test("c3 window gate: the NL grouped top-k's rank cut prunes as WindowGroupLimit") {
    val df = SparkEntry.queries("c3_transform_window")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // 'top 2 per o_orderstatus' partitions on a LOW-cardinality key (3
    // statuses) — viable at 100 TB only because the rank <= k filter
    // pushes down as a per-partition group limit, pruning each map task
    // to k rows per group BEFORE the status exchange
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("p248: min-k scoring joins the bounded LM model frames by broadcast") {
    val df = SparkEntry.queries("p248_min_k_prob")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the context table and type count are <= vocab-sized: they must ride
    // broadcast joins onto the scoring stream, never a corpus-side shuffle
    // (the suite's global sweep separately rules out CartesianProduct)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
