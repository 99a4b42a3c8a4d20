package graft

import java.nio.file.Files

/** Every gate query must run (not necessarily return rows) against the two
  * degenerate input shapes every 100 TB job meets:
  *
  *  - EMPTY tables with the production schemas (partition pruning or an
  *    upstream filter left nothing). Round-9 sweep found 7/109 queries
  *    crashing here (embedding ops inferring their dimension from a row
  *    that doesn't exist; IVF building an unresolvable zero-entry cell
  *    literal).
  *  - DIRTY tables: every nullable non-key column nulled in a
  *    deterministic ~20% of rows. Round-9 sweep found 4/109 crashing
  *    (ivfCentroids NPE'd when a sampled centroid row carried a null
  *    vector).
  *
  * This spec keeps those fixes fixed.
  *
  * c1_chain is the one documented exclusion from the EMPTY sweep: its
  * api_* output columns ARE data (the union of fetched response keys), so
  * with zero rows there are zero api_* columns and the gate's projection
  * of them cannot resolve. That dynamic-schema behavior is the
  * reference's own chain contract (key-union across responses), not an
  * empty-input bug.
  */
class DegenerateInputSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val emptyDir: String = {
    val src = "/root/testdata/sf0.001"
    val dst = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-empty").toAbsolutePath.toString
    tables.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .limit(0).coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    dst
  }

  /** Join/grouping keys stay intact — nulling those changes SEMANTICS
    * (null keys legitimately drop from joins); this sweep is about dirty
    * VALUES not crashing plans. */
  private val keyish = Set("r_regionkey", "n_nationkey", "n_regionkey",
    "c_custkey", "c_nationkey", "s_suppkey", "s_nationkey", "p_partkey",
    "o_orderkey", "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "event_id", "user_id", "doc_id", "vec_id")

  private lazy val dirtyDir: String = {
    val src = "/root/testdata/sf0.001"
    val dst = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graft-dirty").toAbsolutePath.toString
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val dirty = df.columns.foldLeft(df) { (acc, c) =>
        if (keyish.contains(c)) acc
        else acc.withColumn(c,
          when(abs(xxhash64(concat_ws("|",
              lit(c), monotonically_increasing_id()))) % 5 === 0, lit(null))
            .otherwise(col(s"`$c`")))
      }
      dirty.coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    dst
  }

  private def sweep(dir: String, exclude: Set[String]): Seq[String] =
    SparkEntry.queries
      .filter { case (name, _) => !exclude.contains(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          None
        } catch {
          case e: Throwable => Some(s"$name -> ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(160).replace('\n', ' '))
        }
      }.toSeq

  test("every gate query except c1_chain runs on empty tables") {
    val failures = sweep(emptyDir, exclude = Set("c1_chain"))
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every gate query runs on null-riddled tables") {
    val failures = sweep(dirtyDir, exclude = Set.empty)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("empty-corpus ANN and embedding near-dup return typed empty frames") {
    val empty = spark.read.parquet(s"$emptyDir/embeddings.parquet")
    val topK = graft.operators.Similarity.lshTopK(empty, empty, "vec_id", "embedding", k = 3)
    assert(topK.columns.toSeq === Seq("query_id", "neighbor_id", "rank", "cosine"))
    assert(topK.count() === 0)
    val ivf = graft.operators.Similarity.ivfTopK(empty, empty, "vec_id", "embedding", k = 3)
    assert(ivf.columns.toSeq === Seq("query_id", "neighbor_id", "rank", "cosine"))
    assert(ivf.count() === 0)
    val pq = graft.operators.Similarity.pqTopK(empty, empty, "vec_id", "embedding", k = 3)
    assert(pq.count() === 0)
    val pairs = graft.operators.Dedup.nearDupPairsEmbeddingLsh(
      empty, "vec_id", "embedding", threshold = 0.9)
    assert(pairs.columns.toSeq === Seq("id_a", "id_b", "cosine"))
    assert(pairs.count() === 0)
  }

  test("round-9 continuation operators tolerate empty input (operator-level APIs)") {
    import spark.implicits._
    val emptyDocs = spark.read.parquet(s"$emptyDir/documents.parquet")
    val emptyKeys = emptyDocs.select($"doc_id", $"text".as("k"))
    assert(graft.operators.Dedup.editDistancePairs(emptyKeys, "doc_id", "k", 2)
      .count() === 0)
    assert(graft.operators.Sketch.heavyHitters(
      emptyDocs.select($"text".as("key")), "key", 0.01).count() === 0)
    assert(graft.operators.Sketch.heavyHittersByGroup(
      emptyDocs.select($"source", $"text".as("key")), "source", "key", 0.01)
      .count() === 0)
    assert(graft.operators.Curation.keepScoreBand(
      emptyDocs.select($"doc_id", $"source", lit(1.0).as("s")),
      "doc_id", "source", "s").count() === 0)
    assert(graft.operators.Profile.calibrateByGroup(
      emptyDocs.select($"doc_id", $"source", $"n_chars"),
      "source", "n_chars").count() === 0)
    assert(graft.operators.Profile.zipfFit(emptyDocs, "source", "text").count() === 0)
    assert(graft.operators.Dedup.nearDupPairsAgainstIndex(
      emptyDocs, emptyDocs, "doc_id", "text").count() === 0)
    assert(graft.operators.Similarity.recallAtK(
      spark.emptyDataset[(Long, Long)].toDF("query_id", "neighbor_id"),
      spark.emptyDataset[(Long, Long)].toDF("query_id", "neighbor_id"))
      .count() === 0)
    // z-order on empty input: the 1-row stats frame carries nulls, which
    // bucket to 0 — zero output rows, no crash
    assert(graft.operators.Sink.withZOrder(
      emptyDocs.select($"doc_id", $"n_chars"), Seq("doc_id", "n_chars"))
      .count() === 0)
    // unigram: empty corpus -> empty piece table -> encode REFUSES loudly
    // (an empty vocabulary cannot segment anything)
    val pieces = graft.operators.Vocab.unigramPieces(emptyDocs, "text")
    assert(pieces.count() === 0)
    intercept[IllegalArgumentException] {
      graft.operators.Vocab.unigramEncode(emptyDocs, "doc_id", "text", pieces)
    }
    // leak-safe split of an empty corpus: empty, not a crash
    assert(graft.operators.Splits.leakSafeSplit(
      emptyDocs.select($"doc_id", $"text"), "doc_id", "text",
      Seq("train" -> 0.9, "test" -> 0.1), "s", "test").count() === 0)
  }

  test("round-12 operators tolerate empty input (operator-level APIs)") {
    import spark.implicits._
    val eGV = Seq.empty[(String, Long)].toDF("g", "v")
    val eGVB = Seq.empty[(String, Long, Boolean)].toDF("g", "v", "l")
    assert(graft.operators.Profile.quantilesByGroup(
      eGV, "g", "v", Seq(0.5)).count() === 0L)
    assert(graft.operators.Profile.quantileBinsByGroup(
      eGV, "g", "v", nBins = 4).count() === 0L)
    assert(graft.operators.Sessionize.kaplanMeier(
      eGVB, "g", "v", "l").count() === 0L)
    assert(graft.operators.Eval.bhFdrSelect(
      Seq.empty[(String, Long, Double)].toDF("g", "id", "p"),
      "g", "id", "p", alpha = 0.1).count() === 0L)
    assert(graft.operators.Eval.mrrByGroup(
      Seq.empty[(String, Double, Boolean, Long)].toDF("g", "s", "l", "t"),
      "g", "s", "l", "t").count() === 0L)
    assert(graft.operators.Drift.ksByGroup(eGV, eGV, "g", "v").count() === 0L)
    assert(graft.operators.Drift.chiSquare(
      Seq.empty[(String, String, String)].toDF("g", "a", "b"),
      "a", "b", Some("g")).count() === 0L)
    assert(graft.operators.Splits.deterministicShuffle(
      Seq.empty[Long].toDF("id"), "id", "s").count() === 0L)
    // 1-row-contract reports stay 1-row with NULL scores on empty input
    val cvm = graft.operators.Drift.cramerVonMises(eGV.select("v"),
      eGV.select("v"), "v").head()
    assert(cvm.isNullAt(cvm.fieldIndex("cvm")))
    // confusion cells are LONGS (0 on empty), never NULL — only the
    // derived scores go NULL
    val conf = graft.operators.Eval.confusionAtThreshold(
      Seq.empty[(Double, Boolean)].toDF("p", "l"), "p", "l", 0.5).head()
    Seq("n", "tp", "fp", "tn", "fn").foreach { c =>
      assert(!conf.isNullAt(conf.fieldIndex(c)) &&
        conf.getLong(conf.fieldIndex(c)) === 0L, c)
    }
    assert(conf.isNullAt(conf.fieldIndex("accuracy")))
    assert(conf.isNullAt(conf.fieldIndex("mcc")))
  }

  test("global two-sample drift statistics on both-sides-empty input") {
    import spark.implicits._
    import graft.operators.Drift
    val eK = Seq.empty[String].toDF("k")
    val eV = Seq.empty[Long].toDF("v")
    // exactly `cols`, one row: the `zeros` columns hold that long, every
    // other column is NULL
    def oneRow(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
        zeros: Map[String, Long]): Unit = {
      assert(df.columns.toSeq === cols)
      val rows = df.collect()
      assert(rows.length === 1, cols.mkString(","))
      val r = rows.head
      cols.foreach { c =>
        zeros.get(c) match {
          case Some(z) =>
            assert(!r.isNullAt(r.fieldIndex(c)) && r.getLong(r.fieldIndex(c)) === z, c)
          case None => assert(r.isNullAt(r.fieldIndex(c)), c)
        }
      }
    }
    oneRow(Drift.psi(eK, eK, "k", None),
      Seq("n_a", "n_b", "n_values", "n_only_a", "n_only_b", "psi"),
      Map("n_a" -> 0L, "n_b" -> 0L, "n_values" -> 0L))
    // dof is (n_a − 1)(n_b − 1) = 1 over zero distinct values
    oneRow(Drift.chiSquare(Seq.empty[(String, String)].toDF("a", "b"), "a", "b", None),
      Seq("n", "n_a", "n_b", "dof", "chi2", "cramers_v"),
      Map("n" -> 0L, "n_a" -> 0L, "n_b" -> 0L, "dof" -> 1L))
    oneRow(Drift.mannWhitneyU(eV, eV, "v", None),
      Seq("n_a", "n_b", "u_a", "u_b", "z", "rank_biserial"), Map.empty)
    oneRow(Drift.wasserstein1(eV, eV, "v", None),
      Seq("n_a", "n_b", "n_values", "w1"), Map("n_values" -> 0L))
    // KS reports where the sup is attained; with no value there is no row
    val ks = graft.operators.Profile.ksStatistic(eV, eV, "v")
    assert(ks.columns.toSeq === Seq("n_a", "n_b", "ks", "ks_at"))
    assert(ks.count() === 0L)
  }

  test("round-13 operators tolerate empty input (operator-level APIs)") {
    import spark.implicits._
    val eGV = Seq.empty[(String, Long)].toDF("g", "v")
    val eGVW = Seq.empty[(String, Long, Double)].toDF("g", "v", "w")
    val eGK = Seq.empty[(String, String)].toDF("g", "k")
    assert(graft.operators.Profile.giniByGroup(eGV, "g", "v").count() === 0L)
    assert(graft.operators.Profile.weightedQuantilesByGroup(
      eGVW, "g", "v", "w", Seq(0.5)).count() === 0L)
    assert(graft.operators.Profile.weightedStatsByGroup(
      eGVW, "g", "v", "w").count() === 0L)
    assert(graft.operators.Drift.jsDivergenceByGroup(
      eGK, eGK, "g", "k").count() === 0L)
    assert(graft.operators.Profile.spearmanByGroup(
      Seq.empty[(String, Double, Double)].toDF("g", "x", "y"),
      "g", "x", "y").count() === 0L)
    assert(graft.operators.Eval.wilsonIntervalByGroup(
      Seq.empty[(String, Boolean)].toDF("g", "l"), "g", "l").count() === 0L)
    assert(graft.operators.Eval.aucCiByGroup(
      Seq.empty[(String, Double, Boolean)].toDF("g", "s", "l"),
      "g", "s", "l").count() === 0L)
    assert(graft.operators.Profile.hillTailIndex(
      Seq.empty[(String, Long)].toDF("g", "v"), "g", "v", k = 3)
      .count() === 0L)
    assert(graft.operators.Drift.welchTByGroup(
      eGV, eGV, "g", "v").count() === 0L)
    assert(graft.operators.Eval.brierDecompositionByGroup(
      Seq.empty[(String, Double, Boolean)].toDF("g", "f", "y"),
      "g", "f", "y").count() === 0L)
    assert(graft.operators.LmScore.conditionalEntropy(
      Seq.empty[(Long, String, String)].toDF("id", "src", "text"),
      "id", "text", "src").count() === 0L)
    assert(graft.operators.Vocab.lexicalProfile(
      Seq.empty[(String, String)].toDF("src", "text"),
      "src", "text").count() === 0L)
    assert(graft.operators.Dedup.duplicatedRunExtents(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", runN = 4).count() === 0L)
    val ks = graft.operators.Splits.hashUniformityKs(
      Seq.empty[Long].toDF("id"), "id", "s").head()
    assert(ks.isNullAt(ks.fieldIndex("ks_stat")))
  }

  test("round-16 operators tolerate empty/degenerate input (operator-level APIs)") {
    import spark.implicits._
    val emptyDocs = spark.read.parquet(s"$emptyDir/documents.parquet")
    // chat battery: empty corpus -> empty typed frames
    assert(graft.operators.Chat.parseChatTurns(emptyDocs, "doc_id", "text")
      .count() === 0L)
    assert(graft.operators.Chat.chatAudit(emptyDocs, "doc_id", "text")
      .count() === 0L)
    assert(graft.operators.Chat.chatTokenStats(emptyDocs, "doc_id", "text")
      .count() === 0L)
    assert(graft.operators.Chat.renderTemplate(emptyDocs, "doc_id", "text")
      .count() === 0L)
    // a whitespace-only transcript: zero kept lines, all-zero row (present)
    val ws = Seq((1L, " \n  \n")).toDF("doc_id", "text")
    val a = graft.operators.Chat.chatAudit(ws, "doc_id", "text").head()
    assert(a.getAs[Int]("n_turns") === 0 && !a.getAs[Boolean]("alternation_ok"))
    assert(graft.operators.Chat.renderTemplate(ws, "doc_id", "text")
      .head().getAs[String]("rendered") === "")
    // min-k audit: empty corpus and a no-bigram corpus both yield nothing
    assert(graft.operators.LmScore.minKProbAuditSelf(emptyDocs, "doc_id", "text")
      .count() === 0L)
    assert(graft.operators.LmScore.minKProbAuditSelf(
      Seq((1L, "solo")).toDF("doc_id", "text"), "doc_id", "text").count() === 0L)
    // luhn: empty corpus, null text, digit-free text
    assert(graft.operators.Scrub.luhnCardCandidates(emptyDocs, "doc_id", "text")
      .count() === 0L)
    assert(graft.operators.Scrub.luhnCardCandidates(
      Seq((1L, Option.empty[String]), (2L, Option("no digits")))
        .toDF("doc_id", "text"), "doc_id", "text").count() === 0L)
    // image/audio decode: empty corpus and junk bytes
    val junk = Seq((1L, "junk".getBytes("UTF-8"))).toDF("doc_id", "media")
    assert(graft.operators.Multimodal.imagePixelStats(junk, "media")
      .head().isNullAt(2))
    assert(graft.operators.Multimodal.wavSampleStats(junk, "media")
      .head().isNullAt(2))
    assert(graft.operators.Multimodal.imageDecodeAudit(junk, "media")
      .head().getStruct(2).getString(0) === "undecodable")
  }

  test("ByGroup family drops NULL-group rows (the r14 robustStats migration contract)") {
    import spark.implicits._
    // Before r14, Profile.robustStats passed NULL-group rows through; the
    // keyed-PrefixSum migration silently changed that to the ByGroup
    // family contract (NULL groups drop). This case makes the behavior a
    // TESTED contract rather than an accident: the NULL-group rows must
    // vanish, and the non-NULL group's stats must be computed as if the
    // NULL rows never existed.
    val df = Seq(
      (Option("g"), 1L, 1L), (Option("g"), 2L, 2L), (Option("g"), 3L, 3L),
      (Option.empty[String], 100L, 4L), (Option.empty[String], 200L, 5L))
      .toDF("g", "v", "id")
    val rs = graft.operators.Profile.robustStats(df, "g", "v").collect()
    assert(rs.length === 1, "NULL-group rows emit no output row")
    assert(rs.head.getString(0) === "g")
    assert(rs.head.getAs[Long]("n") === 3L, "NULL rows don't pollute the kept group")
    assert(graft.operators.Profile.robustStats(
      df.filter($"g".isNull), "g", "v").count() === 0L,
      "an all-NULL-group frame yields an empty report")
    // the same contract on the operators that share the keyed machinery
    assert(graft.operators.Profile.trimmedMeanByGroup(df, "g", "v", 100000L)
      .collect().map(_.getString(0)).toSeq === Seq("g"))
    assert(graft.operators.Profile.iqrOutlierStatsByGroup(df, "g", "v")
      .collect().map(_.getString(0)).toSeq === Seq("g"))
  }
}
