package graft

import graft.operators.{Curation, Stager}
import org.apache.spark.sql.functions.lit

/** The reusable curation funnel (operators/Curation.scala); end-to-end
  * values are oracle-gated by p11 — this spec covers the operator API. */
class CurationSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    // long, alpha-heavy English doc: survives quality
    (1L, "the quick brown fox jumps over the lazy dog and then the fox rests " * 5),
    // exact duplicate of 1 with a HIGHER id: dropped by exact dedup
    (2L, "the quick brown fox jumps over the lazy dog and then the fox rests " * 5),
    // junk: fails the quality gate
    (3L, "!!! ??? ,,, ;;;"),
    // distinct long doc: survives everything
    (4L, "a completely different long passage about the weather in the north " * 5)
  ).toDF("doc_id", "text")

  test("funnel keeps quality survivors, drops exact dups (higher id) and junk") {
    val out = Curation.curate(docs, "doc_id", "text")
    // all input columns survive on the survivor rows
    assert(out.columns.toSeq === Seq("doc_id", "text"))
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 4L))
  }

  test("staging mode is pluggable; curateStaged releases what it staged") {
    val graph = new graft.core.TableGraph(
      java.nio.file.Files.createTempDirectory("curation_pluggable").toString)
    def stages = graph.allNodes.filter(_.metadata.get("role").contains("stage"))
    val (out, cleanup) = Stager.using(Stager.Parquet(graph)) {
      Curation.curateStaged(docs, "doc_id", "text")
    }
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 4L))
    assert(stages.nonEmpty) // something staged
    cleanup()
    assert(stages.isEmpty, "cleanup must release every table this call staged")
  }

  test("cleanup releases ONLY this call's stages — bystander blocks survive") {
    val sc = spark.sparkContext
    // a concurrent consumer's persisted frame, alive across the funnel
    val bystander = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bystander.count()
    val bystanderIds = sc.getPersistentRDDs.keySet
    try {
      val (out, cleanup) = Stager.using(Stager.LocalCheckpoint) {
        Curation.curateStaged(docs, "doc_id", "text")
      }
      assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 4L))
      assert(sc.getPersistentRDDs.keySet.size > bystanderIds.size) // staged something
      cleanup()
      assert(sc.getPersistentRDDs.keySet === bystanderIds,
        "cleanup must release localCheckpoint blocks but never the bystander's")
    } finally bystander.unpersist(blocking = true)
  }

  test("Parquet-mode cleanup drops only its own stage tables") {
    val dir = java.nio.file.Files.createTempDirectory("curation_pq").toString
    val graph = new graft.core.TableGraph(dir)
    // another caller's stage table, registered before the funnel runs
    graph.addTable("other_stage", docs.limit(1), metadata = Map("role" -> "stage"))
    val (out, cleanup) = Stager.using(Stager.Parquet(graph)) {
      Curation.curateStaged(docs, "doc_id", "text")
    }
    assert(out.select("doc_id").as[Long].collect().toSet === Set(1L, 4L))
    cleanup()
    assert(graph.getTable(spark, "other_stage").isDefined,
      "precise release must not reclaim other callers' stages")
    assert(!graph.allNodes.map(_.name).exists(_.startsWith("curation_canon_")),
      "this call's stages must be gone")
  }

  test("reserved helper names are rejected") {
    intercept[IllegalArgumentException] {
      Curation.curate(docs.withColumnRenamed("text", "__n_char"), "doc_id", "__n_char")
    }
  }

  test("keepScoreBand: below-k groups cut at exact nearest-rank quantiles, per group") {
    // group g: scores 10..100 (n=10). Nearest-rank band [0.25, 0.75] ->
    // ranks ceil(2.5)=3 and ceil(7.5)=8 -> [30, 80] kept.
    // group h: 1..4 -> ranks 1 and 3 -> [1, 3] kept.
    val scored = ((1 to 10).map(i => (i.toLong, "g", i * 10.0)) ++
      (1 to 4).map(i => (100L + i, "h", i.toDouble))).toDF("id", "src", "score")
    val kept = Curation.keepScoreBand(scored, "id", "src", "score", 0.25, 0.75, k = 256)
      .select("src", "score").as[(String, Double)].collect().toSet
    assert(kept === ((3 to 8).map(i => ("g", i * 10.0)) ++
      (1 to 3).map(i => ("h", i.toDouble))).toSet)
  }

  test("perplexityPrune keeps the mid-band per source; unscoreable docs drop") {
    val corpus = testdata("sf0.001", "documents")
      .unionByName(Seq((9999L, "solo", "src0")).toDF("doc_id", "text", "source")
        .select($"doc_id", $"text", lit("en").as("lang"), $"source",
          lit(4L).as("n_chars")))
    val kept = Curation.perplexityPrune(corpus, "doc_id", "text", "source")
    val rows = kept.select("doc_id", "source", "avg_logp")
      .as[(Long, String, Double)].collect()
    assert(!rows.exists(_._1 == 9999L), "a 1-token doc has no bigrams — pruned")
    assert(rows.nonEmpty && rows.length < corpus.count(),
      "the band must keep a strict subset")
    // every kept score really sits inside its source's sketch band
    val scored = graft.operators.LmScore.scoreBigramSelf(
        testdata("sf0.001", "documents"), "doc_id", "text", 200)
      .join(testdata("sf0.001", "documents").select("doc_id", "source"), "doc_id")
    val bands = graft.operators.Sketch.quantileEstimate(
        graft.operators.Sketch.quantileSketch(scored, "avg_logp", "source",
          "doc_id", 256, "pb"),
        Seq("lo" -> 0.25, "hi" -> 0.75))
      .select("source", "lo", "hi").as[(String, Double, Double)]
      .collect().map { case (s, lo, hi) => s -> ((lo, hi)) }.toMap
    rows.foreach { case (_, src, v) =>
      val (lo, hi) = bands(src)
      assert(v >= lo && v <= hi, s"$src: $v outside [$lo, $hi]")
    }
  }

  test("composed pipeline stage contracts: curate -> decontaminate -> mixture -> split -> pack") {
    // The p233 gate pins end-to-end VALUES against the DuckDB oracle; this
    // case pins the INTER-STAGE contracts — the column-set and row-subset
    // invariants each stage hands the next — so a refactor that changes a
    // stage's output shape fails here even if its own gate stays green.
    import graft.operators.{Decontaminate, Mixture, Packing, Splits, Stager}
    import org.apache.spark.sql.functions.{col, concat_ws}
    val corpus = testdata("sf0.001", "documents")
    val inCols = corpus.columns.toSeq

    val curated = Curation.curate(corpus, "doc_id", "text")
    assert(curated.columns.toSeq === inCols,
      "curate must return the input row shape unchanged")
    val curatedIds = curated.select("doc_id").as[Long].collect().toSet
    val allIds = corpus.select("doc_id").as[Long].collect().toSet
    assert(curatedIds.subsetOf(allIds) && curatedIds.nonEmpty)

    val bench = corpus.filter(col("doc_id") % 20 === 0)
    val decon = Stager.stage(
      Decontaminate.removeContaminated(
        curated.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
        bench, "text", shingleN = 5),
      "curation_spec_decon")
    assert(decon.columns.toSeq === inCols,
      "removeContaminated must pass the row shape through")
    val deconIds = decon.select("doc_id").as[Long].collect().toSet
    assert(deconIds.subsetOf(curatedIds))
    assert(deconIds.forall(_ % 20 != 0), "bench docs must have left the corpus")
    // the decontamination promise itself: zero 5-gram overlap remains
    assert(Decontaminate.overlapReport(decon, "doc_id", "text",
      bench, "text", shingleN = 5).isEmpty)

    val counts = decon.groupBy(col("lang")).count()
      .as[(String, Long)].collect().toMap
    val w = Mixture.temperatureWeights(counts, tau = 2.0)
    assert(w.values.max === 1.0 && w.values.forall(v => v > 0 && v <= 1.0),
      "maxWeight=1 mixture must be pure downsampling")
    val mixed = Mixture.sampleMixture(decon, "lang", "doc_id", w,
      salt = "p233mix", defaultWeight = 0.0)
    assert(mixed.columns.toSeq === inCols :+ "mix_rep",
      "sampleMixture must append exactly mix_rep")
    assert(mixed.filter(col("mix_rep") =!= 0).isEmpty,
      "weights <= 1 must never emit a second copy")
    val mixedIds = mixed.select("doc_id").as[Long].collect().toSet
    assert(mixedIds.subsetOf(deconIds))

    val splitDf = Splits.leakSafeSplit(mixed.drop("mix_rep"), "doc_id", "text",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      salt = "p233f", holdout = "test", shingleN = 5)
    assert(splitDf.columns.toSet === inCols.toSet + "split",
      "leakSafeSplit must append exactly split")
    // the leak-safety promise: no surviving non-test doc shares a 5-gram
    // with the test split
    assert(Decontaminate.overlapReport(
      splitDf.filter(col("split") =!= "test"), "doc_id", "text",
      splitDf.filter(col("split") === "test"), "text", shingleN = 5).isEmpty)

    val packed = Packing.assignBins(
      splitDf
        .withColumn("n_tokens",
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
        .withColumn("__grp", concat_ws(":", col("split"), col("lang"))),
      "doc_id", "n_tokens", 512L, groupCol = Some("__grp"))
    assert(packed.columns.toSet ===
      inCols.toSet ++ Set("split", "n_tokens", "__grp", "bin", "oversize"))
    // bin math replays exactly: bin = floor(cumulative-before / 512) in
    // doc_id order within each (split, lang) group
    val rows = packed.select("__grp", "doc_id", "n_tokens", "bin")
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.map(_._2).toSet.subsetOf(mixedIds))
    rows.groupBy(_._1).foreach { case (_, g) =>
      var cum = 0L
      g.sortBy(_._2).foreach { case (_, _, n, bin) =>
        assert(bin === cum / 512L); cum += n
      }
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("ngramNovelty: covered docs score 0, fresh docs 1, partial in between") {
    import spark.implicits._
    val ref = Seq(
      (100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps"),          // all 3 grams in ref
      (2L, "completely novel content never seen before"), // all new
      (3L, "the quick brown fox escapes tonight"), // 2 of 4 grams in ref
      (4L, "too short"),                           // no 3-grams
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Curation.ngramNovelty(docs, ref, "doc_id", "text", ngramN = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSeq
    assert(got === Seq(
      (1L, 3L, Some(0L), Some(0.0)),
      (2L, 4L, Some(4L), Some(1.0)),
      (3L, 4L, Some(2L), Some(0.5)),
      (4L, 0L, None, None),
      (5L, 0L, None, None)))
  }
}
