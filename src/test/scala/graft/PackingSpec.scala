package graft

import graft.operators.Packing
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpecBase {
  import spark.implicits._

  test("slidingWindows: stride overlap covers every token; tail chunk may be short") {
    val df = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val got = Packing.slidingWindows(df, "doc_id", "text", windowTokens = 4, strideTokens = 3)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_text", "n_chunk_tokens")
      .as[(Int, String, Int)].collect().toSeq
    assert(got === Seq(
      (0, "t0 t1 t2 t3", 4),
      (1, "t3 t4 t5 t6", 4),
      (2, "t6 t7 t8 t9", 4)))
    // short doc -> one (short) chunk; empty doc -> no rows; disjoint when
    // stride == window; case preserved
    val mix = Seq((1L, "A b"), (2L, ""), (3L, "x y z w")).toDF("doc_id", "text")
    val m = Packing.slidingWindows(mix, "doc_id", "text", 2, 2)
      .select("doc_id", "chunk_id", "chunk_text").as[(Long, Int, String)].collect().toSet
    assert(m === Set((1L, 0, "A b"), (3L, 0, "x y"), (3L, 1, "z w")))
  }

  test("slidingWindows guard rails") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Packing.slidingWindows(df, "doc_id", "text", 4, 5) // stride > window
    }
    intercept[IllegalArgumentException] {
      Packing.slidingWindows(df, "doc_id", "text", 0, 1)
    }
    intercept[IllegalArgumentException] {
      Packing.slidingWindows(df.withColumn("chunk_id", lit(1)), "doc_id", "text", 2, 1)
    }
    // internal temporaries are reserved like Sink's __shard: an input
    // column named __toks/__k/__chunk would be overwritten then dropped
    for (c <- Seq("__toks", "__k", "__chunk")) {
      intercept[IllegalArgumentException] {
        Packing.slidingWindows(df.withColumn(c, lit(1)), "doc_id", "text", 2, 1)
      }
    }
  }

  test("contiguous packing: bin is the budget multiple the running count crossed") {
    val df = Seq(
      (1L, 40L), (2L, 40L), (3L, 40L), // cum-before 0,40,80 -> bins 0,0,0 (budget 100)... 80<100
      (4L, 50L),                       // cum-before 120 -> bin 1
      (5L, 250L),                      // cum-before 170 -> bin 1, oversize
      (6L, 10L)                        // cum-before 420 -> bin 4
    ).toDF("doc_id", "n_tokens")
    val got = Packing.assignBins(df, "doc_id", "n_tokens", 100L)
      .orderBy("doc_id").select("doc_id", "bin", "oversize")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      (1L, 0L, false), (2L, 0L, false), (3L, 0L, false),
      (4L, 1L, false), (5L, 1L, true), (6L, 4L, false)))
  }

  test("groups pack independently (bin numbering restarts per group)") {
    val df = Seq(
      ("en", 1L, 120L), ("en", 2L, 120L),
      ("fr", 1L, 120L), ("fr", 2L, 120L)).toDF("lang", "doc_id", "n_tokens")
    val got = Packing.assignBins(df, "doc_id", "n_tokens", 100L, groupCol = Some("lang"))
      .orderBy("lang", "doc_id").select("lang", "bin")
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("en", 0L), ("en", 1L), ("fr", 0L), ("fr", 1L)))
  }

  test("guard rails: bad budget, colliding output column; global needs no opt-in since r13") {
    val df = Seq((1L, 10L)).toDF("doc_id", "n_tokens")
    intercept[IllegalArgumentException] {
      Packing.assignBins(df, "doc_id", "n_tokens", 0L)
    }
    // the r13 distributed global path (range-exchange prefix sum)
    // removed the single-reducer hazard a global opt-in used to guard
    assert(Packing.assignBins(df, "doc_id", "n_tokens", 100L)
      .select("bin").as[Long].head() === 0L)
    val clash = df.withColumn("bin", lit(1))
    intercept[IllegalArgumentException] {
      Packing.assignBins(clash, "doc_id", "n_tokens", 100L)
    }
  }

  test("bins are non-decreasing in pack order on real documents") {
    val docs = testdata("sf0.001", "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
    val out = Packing.assignBins(docs, "doc_id", "n_tokens", 500L, groupCol = Some("lang"))
    val bad = out
      .withColumn("__prev", lag(col("bin"), 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("doc_id")))
      .filter(col("__prev").isNotNull && col("bin") < col("__prev"))
      .count()
    assert(bad === 0L, "bins must be non-decreasing in pack order")
    assert(out.count() === docs.count())
  }

  // -------------------------------------------------------------- cdcChunks

  test("cdcChunks: chunks concatenate back to the document; positions tile it exactly") {
    val docs = testdata("sf0.001", "documents")
    val rebuilt = Packing.cdcChunks(docs, "doc_id", "text")
      .groupBy("doc_id")
      .agg(concat_ws("", array_sort(collect_list(struct(col("chunk_idx"), col("chunk"))))
        .getField("chunk")).as("r"))
    val joined = rebuilt.join(
      docs.filter(col("text").isNotNull).select(col("doc_id"), col("text")), Seq("doc_id"))
    assert(joined.count() > 0)
    assert(joined.filter(col("r") =!= col("text")).count() === 0L)
  }

  test("cdcChunks: boundaries are shift-tolerant — a prefix edit preserves the tail chunks") {
    val text = ("the quick brown fox jumps over the lazy dog " * 30).trim
    val df = Seq((1L, text), (2L, "INSERTED NEW PREFIX CONTENT " + text)).toDF("id", "text")
    val byDoc = Packing.cdcChunks(df, "id", "text")
      .select("id", "chunk_hash").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val shared = byDoc(1L) intersect byDoc(2L)
    assert(shared.size >= byDoc(1L).size - 2,
      s"all but the first couple of chunks must survive the prefix edit: " +
        s"${byDoc(1L).size} original, ${shared.size} shared")
  }

  test("cdcChunks: short docs are one whole chunk; empty/null emit nothing; guards hold") {
    val df = Seq((1L, "short"), (2L, ""), (3L, null.asInstanceOf[String])).toDF("id", "text")
    val got = Packing.cdcChunks(df, "id", "text")
      .select("id", "chunk", "start_pos", "end_pos")
      .as[(Long, String, Long, Long)].collect().toList
    assert(got === List((1L, "short", 1L, 5L)))
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.CdcBoundaries.boundaries(col("x"), window = 1)
    }
  }

  test("cdcChunks: average chunk length tracks the divisor on real text") {
    val docs = testdata("sf0.001", "documents").filter(length(col("text")) >= 500)
    val stats = Packing.cdcChunks(docs, "doc_id", "text", divisor = 64)
      .agg(avg(length(col("chunk")))).head().getDouble(0)
    assert(stats > 20 && stats < 300,
      s"mean chunk length $stats should sit near the 64-codepoint design point")
  }

  test("packingEfficiency: fill and waste rates, oversize counted") {
    // group g: tokens 300, 300, 700 with budget 500.
    // cum = 300, 600, 1300 -> bins floor((cum-n)/500) = 0, 0, 1 -> 2 bins
    // capacity 1000, total 1300 -> fill 1.3, waste 0; one oversize doc
    val df = Seq((1L, "g", 300L), (2L, "g", 300L), (3L, "g", 700L),
      (4L, "h", 100L)).toDF("id", "grp", "toks")
    val m = Packing.packingEfficiency(df, "id", "toks", 500L, "grp")
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    val g = m("g")
    assert(g.getAs[Long]("n_docs") === 3L)
    assert(g.getAs[Long]("n_oversize") === 1L)
    assert(g.getAs[Long]("n_bins") === 2L)
    assert(g.getAs[Long]("capacity") === 1000L)
    assert(g.getAs[Double]("fill_rate") === 1.3)
    assert(g.getAs[Double]("waste_rate") === 0.0)
    val h = m("h")
    assert(h.getAs[Long]("n_bins") === 1L)
    assert(h.getAs[Double]("fill_rate") === 0.2)
    assert(math.abs(h.getAs[Double]("waste_rate") - 0.8) < 1e-15)
  }
}
