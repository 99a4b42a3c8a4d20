package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("windowedAgg over a MemoryStream emits per-window counts (update mode)") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = Streams.windowedAgg(
      input.toDF().toDF("ts", "event_type", "value"),
      windowLen = "10 minutes", watermark = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    try {
      input.addData((ts(0), "click", 1.0), (ts(5), "click", 2.0), (ts(12), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select("event_type", "n", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows === Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops repeated ids in the horizon") {
    val input = MemoryStream[(Timestamp, Long)](spark)
    val out = Streams.dedupWithinWatermark(
      input.toDF().toDF("ts", "event_id"), Seq("event_id"), watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((ts(0), 1L), (ts(1), 1L), (ts(2), 2L))
      q.processAllAvailable()
      input.addData((ts(3), 1L), (ts(4), 3L)) // 1 still within watermark -> dropped
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("event_id").as[Long]
        .collect().sorted.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("curationStream gates quality then dedups by fingerprint in-stream") {
    val input = MemoryStream[(Timestamp, Long, String)](spark)
    val good = "the quick brown fox jumps over the lazy dog and it is a fine day " * 4
    val out = Streams.curationStream(
      input.toDF().toDF("ts", "doc_id", "text"), watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("curated")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(0), 1L, good),
        (ts(1), 2L, good),          // exact dup of 1 -> dropped
        (ts(2), 3L, "!!! ??? ..."), // low quality -> dropped
        (ts(3), 4L, good + " extra tail words here"))
      q.processAllAvailable()
      assert(spark.table("curated").select("doc_id").as[Long]
        .collect().sorted.toSeq === Seq(1L, 4L))
    } finally q.stop()
  }

  test("runningCounts keeps per-key state across batches") {
    val input = MemoryStream[(String, Long)](spark)
    val out = Streams.runningCounts(input.toDS())
    val q = out.writeStream.format("memory").queryName("running_counts")
      .outputMode("update").start()
    try {
      input.addData(("a", 2L), ("b", 1L))
      q.processAllAvailable()
      input.addData(("a", 3L))
      q.processAllAvailable()
      val latest = spark.table("running_counts")
        .groupBy("key").agg(max("total").as("total"))
        .as[(String, Long)].collect().toMap
      assert(latest === Map("a" -> 5L, "b" -> 1L))
    } finally q.stop()
  }

  test("runningDistinct's final state equals the batch KMV sketch over the same rows") {
    val rows = (1 to 300).map(i => ("g" + (i % 2), "v" + (i % 90))) // 90 distinct per key at most
    val input = MemoryStream[(String, String)](spark)
    val out = Streams.runningDistinct(input.toDS(), k = 16)
    val q = out.writeStream.format("memory").queryName("running_distinct")
      .outputMode("update").start()
    try {
      input.addData(rows.take(100): _*)
      q.processAllAvailable()
      // null values carry no identity — must neither crash the batch nor
      // perturb the state (the batch sketch drops them too); a key that
      // only ever sees nulls must not appear at all (batch has no row)
      input.addData(("g0", null.asInstanceOf[String]), ("gnull", null.asInstanceOf[String]))
      q.processAllAvailable()
      input.addData(rows.drop(100): _*)
      q.processAllAvailable()
      // last emission per key (n_minima only grows, so max picks the final batch)
      val streamed = spark.table("running_distinct")
        .groupBy("key").agg(max(struct($"n_minima", $"est_distinct")).as("s"))
        .select($"key", $"s.n_minima", $"s.est_distinct")
        .as[(String, Long, Double)].collect()
        .map { case (g, n, e) => g -> ((n, e)) }.toMap
      val batch = graft.operators.Sketch.distinctEstimate(
          rows.toDF("g", "v"), "v", "g", k = 16)
        .select("g", "n_minima", "est_distinct")
        .as[(String, Long, Double)].collect()
        .map { case (g, n, e) => g -> ((n, e)) }.toMap
      assert(streamed === batch)
      assert(!streamed.contains("gnull"), "all-null key must emit nothing (batch parity)")
    } finally q.stop()
  }

  test("runningFunnel fed in event-time order equals the batch funnel over the same rows") {
    val events = testdata("sf0.001", "events")
    val rows = events
      .select($"user_id".cast("string"), $"ts".cast("timestamp"),
        $"event_id".cast("long"), $"event_type")
      .as[(String, java.sql.Timestamp, Long, String)]
      .collect().sortBy(r => (r._2.getTime, r._2.getNanos.toLong, r._3))
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[(String, java.sql.Timestamp, Long, String)](spark)
    val out = Streams.runningFunnel(input.toDS(), steps)
    val q = out.writeStream.format("memory").queryName("running_funnel")
      .outputMode("update").start()
    try {
      input.addData(rows.take(rows.length / 3): _*)
      q.processAllAvailable()
      input.addData(rows.slice(rows.length / 3, 2 * rows.length / 3): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2 * rows.length / 3): _*)
      q.processAllAvailable()
      val streamed = spark.table("running_funnel")
        .groupBy("key").agg(max($"stages_completed").as("s")) // stage is monotone
        .as[(String, Int)].collect().toMap
      val batch = graft.operators.Sessionize.funnelStages(
          events, "user_id", "ts", "event_id", "event_type", steps)
        .select($"user_id".cast("string"), $"stages_completed")
        .as[(String, Int)].collect().toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("runningHllDistinct's final state equals the batch HLL estimate over the same rows") {
    // spread across both estimator branches: g0 sees ~90 distinct (linear
    // counting at p=10), g1 sees 3000 distinct (raw harmonic branch:
    // 3000 > 2.5m = 2560)
    val rows = (1 to 200).map(i => ("g0", "v" + (i % 90))) ++
      (1 to 3000).map(i => ("g1", "w" + i))
    val input = MemoryStream[(String, String)](spark)
    val out = Streams.runningHllDistinct(input.toDS(), p = 10)
    // Collect (batchId, row) per update so the FINAL emission per key is
    // unambiguous: est_distinct can decrease while n_nonzero stays flat (a
    // rho bump in an already-nonzero register), so a lexicographic
    // max(struct(n_nonzero, est)) over the memory sink could pick a
    // non-final batch's row.
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Double)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[graft.streaming.Streams.KeyHll], id: Long) =>
        val batch = ds.toDF().select($"key", $"n_nonzero", $"est_distinct")
          .as[(String, Long, Double)].collect()
        emitted.synchronized { batch.foreach { case (k, n, e) => emitted += ((id, k, n, e)) } }
      }.start()
    try {
      input.addData(rows.take(1000): _*)
      q.processAllAvailable()
      input.addData(("g0", null.asInstanceOf[String]), ("gnull", null.asInstanceOf[String]))
      q.processAllAvailable()
      input.addData(rows.drop(1000): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized {
        emitted.groupBy(_._2).map { case (k, rs) =>
          val last = rs.maxBy(_._1)
          k -> ((last._3, last._4))
        }
      }
      val batch = graft.operators.Sketch.hllEstimate(
          graft.operators.Sketch.hllSketch(rows.toDF("g", "v"), "v", "g", p = 10),
          "g", p = 10)
        .select("g", "n_nonzero", "est_distinct")
        .as[(String, Long, Double)].collect()
        .map { case (g, n, e) => g -> ((n, e)) }.toMap
      assert(streamed === batch)
      assert(!streamed.contains("gnull"), "all-null key must emit nothing (batch parity)")
    } finally q.stop()
  }

  test("nearDupFlagStream equals the batch against-index pairs over the same rows") {
    val docs = testdata("sf0.001", "documents")
    val idxDf = docs.filter($"doc_id" % 5 =!= 0)
    val newRows = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id".cast("string"), $"text")
      .as[(String, String)].collect()
    val input = MemoryStream[(String, String)](spark)
    val out = Streams.nearDupFlagStream(input.toDS(), idxDf, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("neardup_flags")
      .outputMode("append").start()
    try {
      input.addData(newRows.take(newRows.length / 2): _*)
      q.processAllAvailable()
      // a doc with < 3 tokens and a null-id doc emit nothing, crash nothing
      input.addData(("tiny", "one two"), (null, "x y z w")) // scalastyle:ignore
      q.processAllAvailable()
      input.addData(newRows.drop(newRows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("neardup_flags")
        .select($"new_id".cast("long"), $"index_id", $"jaccard_sim")
        .as[(Long, Long, Double)].collect().toSet
      val batch = graft.operators.Dedup.nearDupPairsAgainstIndex(
          docs.filter($"doc_id" % 5 === 0), idxDf, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet
      assert(batch.nonEmpty, "fixture should contain cross near-dups")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("blocklistHitsStream equals the batch AC screen across micro-batch splits") {
    val docs = testdata("sf0.001", "documents")
      .select($"doc_id", $"text").filter($"doc_id".isNotNull)
    val blk = Seq("the", "he", "and", "lorem ipsum")
    val rows = docs.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Scrub.blocklistHits(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", blk)
    val q = out.writeStream.format("memory").queryName("blk_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("blk_stream")
        .as[(Long, Long, Int)].collect().toSet
      val batch = graft.operators.Scrub.blocklistHits(docs, "doc_id", "text", blk)
        .as[(Long, Long, Int)].collect().toSet
      assert(batch.exists(_._2 > 0), "fixture must contain blocklist hits")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("chatAuditStream equals the batch chat audit across micro-batch splits") {
    // synthesize role-tagged transcripts (the fixture text has none):
    // shapes vary by doc_id so both valid and violating transcripts flow
    val docs = testdata("sf0.001", "documents")
      .select($"doc_id", $"text").filter($"doc_id".isNotNull)
      .select($"doc_id",
        when($"doc_id" % 3 === 0,
          concat(lit("user: "), substring($"text", 1, 20),
            lit("\nassistant: "), substring($"text", 21, 20)))
          .when($"doc_id" % 3 === 1,
            concat(lit("user: a\nuser: b\nassistant: "), substring($"text", 1, 10)))
          .otherwise(concat(lit("assistant: "), substring($"text", 1, 10)))
          .as("text"))
    val rows = docs.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Chat.chatAudit(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("chat_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("chat_stream")
        .select("doc_id", "n_turns", "n_user", "alternation_ok",
          "ends_with_assistant")
        .as[(Long, Int, Int, Boolean, Boolean)].collect().toSet
      val batch = graft.operators.Chat.chatAudit(docs, "doc_id", "text")
        .select("doc_id", "n_turns", "n_user", "alternation_ok",
          "ends_with_assistant")
        .as[(Long, Int, Int, Boolean, Boolean)].collect().toSet
      assert(batch.exists(_._4) && batch.exists(!_._4),
        "fixture must contain both clean and violating transcripts")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("preferencePairAuditStream equals the batch pair audit across micro-batch splits") {
    // pairs with every structural class: identical (%10==1), empty
    // chosen (%10==3), empty rejected (%10==5), plain length gaps
    val docs = testdata("sf0.001", "documents")
      .select($"doc_id", $"text").filter($"doc_id".isNotNull && $"doc_id" % 2 === 1)
      .select($"doc_id",
        when($"doc_id" % 10 === 3, lit("")).otherwise(substring($"text", 1, 60))
          .as("chosen"),
        when($"doc_id" % 10 === 1, substring($"text", 1, 60))
          .when($"doc_id" % 10 === 5, lit(""))
          .otherwise(substring($"text", 20, 60)).as("rejected"))
    val rows = docs.as[(Long, String, String)].collect()
    val input = MemoryStream[(Long, String, String)](spark)
    val out = graft.operators.Chat.preferencePairAudit(
      input.toDS().toDF("doc_id", "chosen", "rejected"),
      "doc_id", "chosen", "rejected")
    val q = out.writeStream.format("memory").queryName("pref_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val cols = Seq("doc_id", "chosen_tokens", "rejected_tokens",
        "identical", "chosen_empty", "rejected_empty", "len_ratio")
      val streamed = spark.table("pref_stream").select(cols.head, cols.tail: _*)
        .as[(Long, Long, Long, Boolean, Boolean, Boolean, Option[Double])]
        .collect().toSet
      val batch = graft.operators.Chat
        .preferencePairAudit(docs, "doc_id", "chosen", "rejected")
        .select(cols.head, cols.tail: _*)
        .as[(Long, Long, Long, Boolean, Boolean, Boolean, Option[Double])]
        .collect().toSet
      assert(batch.exists(_._4) && batch.exists(_._5) && batch.exists(_._6),
        "fixture must exercise identical and both empty-side classes")
      assert(streamed === batch)
    } finally q.stop()
  }

  test("sampleMixtureStream equals the batch mixture regardless of micro-batch splits") {
    val events = testdata("sf0.001", "events")
      .select($"event_id".cast("long").as("event_id"), $"event_type")
      .filter($"event_id".isNotNull && $"event_type".isNotNull)
    val w = Map("view" -> 0.35, "click" -> 1.0, "purchase" -> 2.5)
    val rows = events.as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Mixture.sampleMixture(
      input.toDS().toDF("event_id", "event_type"),
      "event_type", "event_id", w, salt = "mixtw", defaultWeight = 0.0)
    val q = out.writeStream.format("memory").queryName("mix_stream")
      .outputMode("append").start()
    try {
      // three arbitrary micro-batches: the decision must not see the split
      input.addData(rows.take(rows.length / 3): _*)
      q.processAllAvailable()
      input.addData(rows.slice(rows.length / 3, 2 * rows.length / 3): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2 * rows.length / 3): _*)
      q.processAllAvailable()
      val streamed = spark.table("mix_stream")
        .select($"event_id", $"event_type", $"mix_rep")
        .as[(Long, String, Int)].collect().toSet
      val batch = graft.operators.Mixture.sampleMixture(
          events, "event_type", "event_id", w,
          salt = "mixtw", defaultWeight = 0.0)
        .select($"event_id", $"event_type", $"mix_rep")
        .as[(Long, String, Int)].collect().toSet
      assert(streamed === batch)
      // the epoch-repeat path is exercised: weight 2.5 emits reps {0, 1}
      // for every purchase plus a ~50% third copy
      assert(batch.exists(_._3 >= 1), "repeat fan-out must appear in the mix")
      assert(batch.nonEmpty && batch.size < rows.length * 3)
    } finally q.stop()
  }

  test("dupRunFlagStream equals batch duplicatedRunExtents restricted across the split") {
    val docs = testdata("sf0.001", "documents")
    val idxDf = docs.filter($"doc_id" % 5 =!= 0)
    val newRows = docs.filter($"doc_id" % 5 === 0)
      .select($"doc_id".cast("string"), $"text")
      .as[(String, String)].collect()
    val n = 6
    val input = MemoryStream[(String, String)](spark)
    val out = Streams.dupRunFlagStream(input.toDS(), idxDf, "doc_id", "text", runN = n)
    val q = out.writeStream.format("memory").queryName("duprun_flags")
      .outputMode("append").start()
    try {
      input.addData(newRows.take(newRows.length / 2): _*)
      q.processAllAvailable()
      // a doc with < runN tokens and a null-id doc emit nothing, crash nothing
      input.addData(("tiny", "one two"), (null, "a b c d e f g h")) // scalastyle:ignore
      q.processAllAvailable()
      input.addData(newRows.drop(newRows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("duprun_flags")
        .select($"new_id".cast("long"), $"start_tok", $"end_tok", $"n_tokens")
        .as[(Long, Long, Long, Long)].collect().toSet
      // cross-split reference: a stream doc's position marks iff its gram
      // occurs anywhere in the INDEX corpus (index doc + new doc = 2
      // distinct docs by construction); islands merge like the batch op
      val idx = idxDf.filter($"text".isNotNull)
        .select($"doc_id", $"text").as[(Long, String)].collect()
      val idxGrams = scala.collection.mutable.HashSet.empty[String]
      idx.foreach { case (_, t) =>
        val ts = t.split("\\s+").filter(_.nonEmpty)
        (0 to ts.length - n).foreach(p => idxGrams += ts.slice(p, p + n).mkString(" "))
      }
      val expected = newRows.filter(_._1 != null).flatMap { case (sid, t) =>
        val ts = Option(t).getOrElse("").split("\\s+").filter(_.nonEmpty)
        val marked = (0 to ts.length - n)
          .filter(p => idxGrams.contains(ts.slice(p, p + n).mkString(" ")))
        marked.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (runs, p) => (p, p) :: runs
        }.map { case (s, e) =>
          (sid.toLong, s.toLong, (e + n - 1).toLong, (e - s + n).toLong) }
      }.toSet
      assert(expected.nonEmpty, "fixture must exercise cross-split dup runs")
      assert(streamed === expected)
      // consolidated-batch containment: every streamed extent sits inside
      // a duplicatedRunExtents extent of that doc over the MERGED corpus
      // (the batch may be wider — stream-internal dups also mark there)
      val batch = graft.operators.Dedup
        .duplicatedRunExtents(docs, "doc_id", "text", runN = n)
        .filter($"doc_id" % 5 === 0)
        .select($"doc_id", $"start_tok", $"end_tok")
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSeq).toMap
      streamed.foreach { case (d, s, e, _) =>
        assert(batch.get(d).exists(_.exists { case (bs, be) => bs <= s && e <= be }),
          s"stream extent ($d,$s,$e) not covered by any consolidated batch extent")
      }
    } finally q.stop()
  }

  test("runningCusum: an in-order stream reproduces the batch CUSUM bit-for-bit") {
    val series = (0 to 5).map(i => ("g", i.toLong, if (i < 3) 0.0 else 5.0)) ++
      (0 to 4).map(i => ("h", i.toLong, i.toDouble * 2))
    val df = series.toDF("g", "x", "y")
    // the stream takes explicit targets: feed the batch op's own mu rule
    // (9-dp-rounded mean) for bit-parity
    def mu(vals: Seq[Double]): Double = BigDecimal(
        vals.map(v => BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum
          .toDouble / vals.size)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val targets = series.groupBy(_._1).map { case (g, rows) =>
      g -> mu(rows.map(_._3)) }
    val batch = graft.operators.Drift.cusumByGroup(df, "g", "x", "y",
        h = 5.0, k = 0.5)
      .select("g", "x", "y", "cusum_pos", "cusum_neg", "alarm_pos", "alarm_neg")
      .as[(String, Long, Double, Double, Double, Boolean, Boolean)]
      .collect().toSet
    val input = MemoryStream[(String, Long, Double)](spark)
    val out = Streams.runningCusum(input.toDS(), targets, h = 5.0, k = 0.5)
    val q = out.writeStream.format("memory").queryName("running_cusum")
      .outputMode("append").start()
    try {
      // split mid-series: state must carry the prefix across batches
      input.addData(series.take(4): _*)
      q.processAllAvailable()
      input.addData(series.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("running_cusum")
        .select($"key", $"x", $"y", $"cusum_pos", $"cusum_neg",
          $"alarm_pos", $"alarm_neg")
        .as[(String, Long, Double, Double, Double, Boolean, Boolean)]
        .collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("runningHeavyHitters holds the Misra–Gries guarantee at the final emission") {
    // zipf-ish per-key stream: value v_i appears ~120/i times; k=8 forces
    // constant eviction, so the test exercises the decrement path
    val rows = for {
      g <- Seq("g0", "g1"); i <- 1 to 30; _ <- 1 to (120 / i)
    } yield (g, s"$g:v$i")
    val shuffled = new scala.util.Random(11).shuffle(rows)
    val k = 8
    val input = MemoryStream[(String, String)](spark)
    val out = Streams.runningHeavyHitters(input.toDS(), k = k)
    val q = out.writeStream.format("memory").queryName("running_heavy")
      .outputMode("update").start()
    try {
      input.addData(shuffled.take(200): _*)
      q.processAllAvailable()
      input.addData(("g0", null.asInstanceOf[String]), ("gnull", null.asInstanceOf[String]))
      q.processAllAvailable()
      input.addData(shuffled.drop(200): _*)
      q.processAllAvailable()
      val streamed = spark.table("running_heavy")
        .as[(String, Long, Map[String, Long])].collect()
        .groupBy(_._1).map { case (g, rs) => g -> rs.maxBy(_._2) }
      assert(!streamed.contains("gnull"), "all-null key must emit nothing")
      for (g <- Seq("g0", "g1")) {
        val truth = rows.filter(_._1 == g).groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val n = truth.values.sum
        val (_, nSeen, items) = streamed(g)
        assert(nSeen === n, s"$g: n_seen")
        assert(items.size <= k, s"$g: summary size")
        val slack = n.toDouble / (k + 1)
        items.foreach { case (v, cHat) =>
          val c = truth(v)
          assert(cHat <= c && c - cHat <= slack, s"$g/$v: cHat=$cHat c=$c slack=$slack")
        }
        val mustHave = truth.filter { case (_, c) => c > slack }.keySet
        assert(mustHave.nonEmpty, s"$g: fixture needs true heavies above n/(k+1)")
        assert(mustHave.subsetOf(items.keySet),
          s"$g: missing guaranteed heavies ${mustHave -- items.keySet}")
      }
    } finally q.stop()
  }

  test("runningQuantiles' final emission equals the batch quantile sketch over the same rows") {
    val rows = (1 to 300).map(i =>
      ("g" + (i % 2), i.toString, java.lang.Long.valueOf((i * 37 % 1000).toLong)))
    val qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p99" -> 0.99)
    val input = MemoryStream[(String, String, java.lang.Long)](spark)
    val out = Streams.runningQuantiles(input.toDS(), k = 32, quantiles = qs, salt = "sq")
    val q = out.writeStream.format("memory").queryName("running_quantiles")
      .outputMode("update").start()
    try {
      input.addData(rows.take(120): _*)
      q.processAllAvailable()
      // null ids/values carry no measurement; an all-null key emits nothing
      input.addData(("g0", null.asInstanceOf[String], java.lang.Long.valueOf(7L)),
        ("gnull", "x", null.asInstanceOf[java.lang.Long]))
      q.processAllAvailable()
      input.addData(rows.drop(120): _*)
      q.processAllAvailable()
      // last emission per key: n_seen is monotone, so the max-n_seen row
      // is the final state (a no-valid-row batch re-emits the same n_seen
      // with identical content)
      val streamed = spark.table("running_quantiles")
        .as[(String, Long, Long, Map[String, Long])].collect()
        .groupBy(_._1).map { case (g, rows) =>
          val (_, _, n, m) = rows.maxBy(_._2)
          g -> ((n, m("p25"), m("p50"), m("p99")))
        }
      val batch = graft.operators.Sketch.quantileProfile(
          rows.toDF("g", "id", "v"), "v", "g", "id", k = 32, quantiles = qs, salt = "sq")
        .select("g", "n_sample", "p25", "p50", "p99")
        .as[(String, Long, Long, Long, Long)].collect()
        .map { case (g, n, a, b, c) => g -> ((n, a, b, c)) }.toMap
      assert(streamed === batch)
      assert(!streamed.contains("gnull"), "all-null key must emit nothing (batch parity)")
    } finally q.stop()
  }

  test("runningFreq's final state equals the batch CMS over the same rows") {
    val depth = 3; val width = 32
    val rows = (1 to 200).map(i => ("g" + (i % 2), "v" + (i % 23)))
    val input = MemoryStream[(String, String)](spark)
    val out = Streams.runningFreq(input.toDS(), depth = depth, width = width)
    val q = out.writeStream.format("memory").queryName("running_freq")
      .outputMode("update").start()
    try {
      input.addData(rows.take(70): _*)
      q.processAllAvailable()
      input.addData(("g0", null.asInstanceOf[String]), ("gnull", null.asInstanceOf[String]))
      q.processAllAvailable()
      input.addData(rows.drop(70): _*)
      q.processAllAvailable()
      // last emission per key: total only grows
      val streamed = spark.table("running_freq")
        .groupBy("key").agg(max(struct($"total", $"cells")).as("s"))
        .select($"key", $"s.cells")
        .as[(String, Seq[Long])].collect().toMap
      // batch sketch re-assembled into the same row-major grid
      val batch = graft.operators.Sketch.cmsSketch(
          rows.toDF("g", "v"), "v", "g", depth = depth, width = width)
        .as[(String, Int, Long, Long)].collect()
        .groupBy(_._1).map { case (g, cs) =>
          val grid = Array.fill(depth * width)(0L)
          cs.foreach { case (_, d, idx, cnt) => grid(d * width + idx.toInt) = cnt }
          g -> grid.toSeq
        }
      assert(streamed === batch)
      assert(!streamed.contains("gnull"), "all-null key must emit nothing (batch parity)")
    } finally q.stop()
  }

  test("curationStream over sf0.001 documents: survivors equal the batch funnel") {
    // same docs -> same surviving fingerprint set as the equivalent batch
    // pipeline (quality gate + fingerprint distinct), the runningDistinct
    // state == batch discipline applied to the curation funnel
    val docs = testdata("sf0.001", "documents").select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Timestamp, Long, String)](spark)
    val out = Streams.curationStream(
      input.toDF().toDF("ts", "doc_id", "text"), watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("curated_sf")
      .outputMode("append").start()
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      input.addData(first.map { case (id, tx) => (ts(0), id, tx) }: _*)
      q.processAllAvailable()
      // second half a minute later: cross-batch dups are inside the horizon
      input.addData(second.map { case (id, tx) => (ts(1), id, tx) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("curated_sf")
        .select($"fingerprint".cast("string")).as[String].collect().toSeq
      val batch = testdata("sf0.001", "documents")
        .filter(graft.functions.TextFunctions.qualityScore($"text") >= 0.45)
        .select(graft.functions.TextFunctions.fingerprint($"text").cast("string"))
        .distinct().as[String].collect().toSeq
      assert(streamed.nonEmpty)
      assert(streamed.length === streamed.distinct.length,
        "stream must keep exactly one survivor per fingerprint")
      assert(streamed.toSet === batch.toSet)
    } finally q.stop()
  }

  test("Gopher rules stream statelessly: per-doc flags equal the batch pass") {
    // a narrow projection needs no state/watermark — the SAME operator
    // call works on a stream, and every per-doc verdict matches batch
    val docs = testdata("sf0.001", "documents").select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq.take(200)
    val input = MemoryStream[(Long, String)](spark)
    val out = graft.operators.Gopher.qualityRules(
      input.toDF().toDF("doc_id", "text"), "text", minWords = 5)
      .select($"doc_id", $"keep")
    val q = out.writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("gopher_stream")
        .as[(Long, Boolean)].collect().toMap
      val batch = graft.operators.Gopher.qualityRules(
          testdata("sf0.001", "documents").select($"doc_id", $"text")
            .filter($"doc_id".isin(docs.map(_._1): _*)),
          "text", minWords = 5)
        .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
      assert(streamed.size === docs.size)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("runningPsi's final emission equals the batch Drift.psi vs the same baseline") {
    val baseline = Map("en" -> 70L, "de" -> 20L, "fr" -> 10L)
    // key s1 drifts (adds an unseen value), s2 matches the baseline mix
    val rows =
      (1 to 40).map(_ => ("s1", "en")) ++ (1 to 35).map(_ => ("s1", "de")) ++
      (1 to 5).map(_ => ("s1", "zz")) ++
      (1 to 14).map(_ => ("s2", "en")) ++ (1 to 4).map(_ => ("s2", "de")) ++
      (1 to 2).map(_ => ("s2", "fr"))
    val input = MemoryStream[(String, String)](spark)
    val out = Streams.runningPsi(input.toDS(), baseline)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Streams.KeyPsi)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Streams.KeyPsi], id: Long) =>
        val batch = ds.collect()
        emitted.synchronized { batch.foreach(r => emitted += ((id, r))) }
      }.start()
    try {
      input.addData(rows.take(50): _*)
      q.processAllAvailable()
      input.addData(("s1", null.asInstanceOf[String]), ("snull", null.asInstanceOf[String]))
      q.processAllAvailable()
      input.addData(rows.drop(50): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized {
        emitted.groupBy(_._2.key).map { case (k, rs) => k -> rs.maxBy(_._1)._2 }
      }
      assert(!streamed.contains("snull"), "all-null key emits nothing")
      val baseDf = baseline.toSeq.flatMap { case (v, n) =>
        Seq.fill(n.toInt)(v) }.toDF("k")
      for (key <- Seq("s1", "s2")) {
        val slice = rows.filter(_._1 == key).map(_._2).toDF("k")
        val b = graft.operators.Drift.psi(slice, baseDf, "k").head()
        val s = streamed(key)
        assert(s.n_seen === b.getAs[Long]("n_a"), s"$key n")
        assert(s.n_values === b.getAs[Long]("n_values"), s"$key values")
        assert(s.psi === b.getAs[Double]("psi"), s"$key psi")
      }
      assert(streamed("s1").psi > streamed("s2").psi,
        "the drifted slice must score higher")
    } finally q.stop()
  }

  test("runningJs's final emission equals the batch jsDivergenceByGroup vs the same baseline") {
    val baseline = Map("en" -> 70L, "de" -> 20L, "fr" -> 10L)
    val rows =
      (1 to 40).map(_ => ("s1", "en")) ++ (1 to 35).map(_ => ("s1", "de")) ++
      (1 to 5).map(_ => ("s1", "zz")) ++ // a value the baseline never saw
      (1 to 14).map(_ => ("s2", "en")) ++ (1 to 4).map(_ => ("s2", "de")) ++
      (1 to 2).map(_ => ("s2", "fr"))
    val input = MemoryStream[(String, String)](spark)
    val out = Streams.runningJs(input.toDS(), baseline)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Streams.KeyJs)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Streams.KeyJs], id: Long) =>
        val batch = ds.collect()
        emitted.synchronized { batch.foreach(r => emitted += ((id, r))) }
      }.start()
    try {
      input.addData(rows.take(60): _*)
      q.processAllAvailable()
      input.addData(rows.drop(60): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized {
        emitted.groupBy(_._2.key).map { case (k, rs) => k -> rs.maxBy(_._1)._2 }
      }
      val baseDf = baseline.toSeq.flatMap { case (v, n) =>
        Seq.fill(n.toInt)(("x", v)) }.toDF("g", "k")
      for (key <- Seq("s1", "s2")) {
        val slice = rows.filter(_._1 == key).map(r => ("x", r._2)).toDF("g", "k")
        val b = graft.operators.Drift.jsDivergenceByGroup(
          slice, baseDf, "g", "k").head()
        val s = streamed(key)
        assert(s.n_seen === b.getAs[Long]("n_a"), s"$key n")
        assert(s.n_values === b.getAs[Long]("n_values"), s"$key values")
        assert(s.js === b.getAs[Double]("js"), s"$key js")
      }
      assert(streamed("s1").js > streamed("s2").js,
        "the drifted slice must score higher")
      assert(streamed("s1").js <= math.log(2.0) + 1e-9, "JS is bounded by ln 2")
    } finally q.stop()
  }

  test("runningKs's final emission equals the batch ksStatistic vs the same baseline") {
    val baseline = Map(10L -> 30L, 20L -> 50L, 30L -> 20L)
    val rows: Seq[(String, java.lang.Long)] =
      (1 to 25).map(_ => ("k1", java.lang.Long.valueOf(10L))) ++
      (1 to 10).map(_ => ("k1", java.lang.Long.valueOf(20L))) ++
      (1 to 15).map(_ => ("k1", java.lang.Long.valueOf(35L))) ++ // unseen value
      (1 to 3).map(_ => ("k2", java.lang.Long.valueOf(20L)))
    val input = MemoryStream[(String, java.lang.Long)](spark)
    val out = Streams.runningKs(input.toDS(), baseline)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Streams.KeyKs)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Streams.KeyKs], id: Long) =>
        val batch = ds.collect()
        emitted.synchronized { batch.foreach(r => emitted += ((id, r))) }
      }.start()
    try {
      input.addData(rows.take(30): _*)
      q.processAllAvailable()
      input.addData(("k1", null.asInstanceOf[java.lang.Long]),
        ("knull", null.asInstanceOf[java.lang.Long]))
      q.processAllAvailable()
      input.addData(rows.drop(30): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized {
        emitted.groupBy(_._2.key).map { case (k, rs) => k -> rs.maxBy(_._1)._2 }
      }
      assert(!streamed.contains("knull"), "all-null key emits nothing")
      val baseDf = baseline.toSeq.flatMap { case (v, n) =>
        Seq.fill(n.toInt)(v) }.toDF("v")
      for (key <- Seq("k1", "k2")) {
        val slice = rows.filter(_._1 == key).map(_._2.longValue).toDF("v")
        val b = graft.operators.Profile.ksStatistic(slice, baseDf, "v").head()
        val s = streamed(key)
        assert(s.n_seen === b.getAs[Long]("n_a"), s"$key n")
        assert(s.ks === b.getAs[Double]("ks"), s"$key ks")
        assert(s.ks_at === b.getAs[Long]("ks_at"), s"$key ks_at")
      }
    } finally q.stop()
  }

  test("runningWasserstein's final emission equals the batch wasserstein1") {
    val baseline = Map(10L -> 30L, 20L -> 50L, 30L -> 20L)
    val rows: Seq[(String, java.lang.Long)] =
      (1 to 25).map(_ => ("k1", java.lang.Long.valueOf(10L))) ++
      (1 to 10).map(_ => ("k1", java.lang.Long.valueOf(20L))) ++
      (1 to 15).map(_ => ("k1", java.lang.Long.valueOf(35L))) ++ // unseen value
      (1 to 3).map(_ => ("k2", java.lang.Long.valueOf(20L)))
    val input = MemoryStream[(String, java.lang.Long)](spark)
    val out = Streams.runningWasserstein(input.toDS(), baseline)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Streams.KeyW1)]()
    val q = out.writeStream.outputMode("update")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Streams.KeyW1], id: Long) =>
        val batch = ds.collect()
        emitted.synchronized { batch.foreach(r => emitted += ((id, r))) }
      }.start()
    try {
      input.addData(rows.take(30): _*)
      q.processAllAvailable()
      input.addData(("k1", null.asInstanceOf[java.lang.Long]))
      q.processAllAvailable()
      input.addData(rows.drop(30): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized {
        emitted.groupBy(_._2.key).map { case (k, rs) => k -> rs.maxBy(_._1)._2 }
      }
      val baseDf = baseline.toSeq.flatMap { case (v, n) =>
        Seq.fill(n.toInt)(v) }.toDF("v")
      for (key <- Seq("k1", "k2")) {
        val slice = rows.filter(_._1 == key).map(_._2.longValue).toDF("v")
        val b = graft.operators.Drift.wasserstein1(slice, baseDf, "v").head()
        val s = streamed(key)
        assert(s.n_seen === b.getAs[Long]("n_a"), s"$key n")
        assert(s.n_values === b.getAs[Long]("n_values"), s"$key values")
        assert(s.w1 === b.getAs[Double]("w1"), s"$key w1")
      }
    } finally q.stop()
  }

  test("streaming helpers are plain plan rewrites: identical on batch input") {
    // the same windowedAgg call works on a bounded DataFrame (events table)
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val out = Streams.windowedAgg(ev, windowLen = "1 hour", watermark = "2 hours")
    assert(out.count() > 0)
    assert(out.columns.toSet ===
      Set("window_start", "window_end", "event_type", "n", "sum_value"))
  }

  test("runningBurstiness over finalized hours equals the batch operator (in-order)") {
    val h = 3600000000L
    // actor a: hours 0(x3), 1(x1), 2(x2); actor b: hours 0(x1), 1(x1)
    def ev(u: String, hour: Long, k: Int) =
      (0 until k).map(i => (u, hour * h + i.toLong * 1000L))
    val original = ev("a", 0, 3) ++ ev("a", 1, 1) ++ ev("a", 2, 2) ++
      ev("b", 0, 1) ++ ev("b", 1, 1)
    // sentinel event in a LATER hour per actor finalizes every real hour
    val sentinel = Seq(("a", 50L * h), ("b", 50L * h))
    val input = MemoryStream[(String, Long)](spark)
    val out = Streams.runningBurstiness(input.toDS())
    val q = out.writeStream.format("memory").queryName("running_burst")
      .outputMode("update").start()
    try {
      input.addData(original.take(4): _*)
      q.processAllAvailable()
      input.addData(original.drop(4): _*)
      q.processAllAvailable()
      input.addData(sentinel: _*)
      q.processAllAvailable()
      val latest = spark.table("running_burst")
        .orderBy(col("n_hours").desc) // the final (max-hours) emission per key
        .groupBy("key").agg(
          max(col("n_hours")).as("n_hours"),
          max(col("n_events")).as("n_events"),
          max(col("dispersion")).as("__dmax"))
        .collect().map(r => r.getAs[String]("key") ->
          (r.getAs[Long]("n_hours"), r.getAs[Long]("n_events"))).toMap
      // batch twin over the ORIGINAL events (the sentinel only finalizes)
      val batchDf = original.toDF("user_id", "tm")
        .withColumn("ts", expr("timestamp_micros(tm)"))
      val batch = graft.operators.Sessionize.burstiness(
        batchDf, "user_id", "ts", minHours = 2)
        .collect().map(r => r.getAs[String]("user_id") ->
          (r.getAs[Long]("n_hours"), r.getAs[Long]("n_events"),
            r.getAs[Double]("dispersion"))).toMap
      assert(latest("a") === ((batch("a")._1, batch("a")._2)))
      assert(latest("b") === ((batch("b")._1, batch("b")._2)))
      // bit-exact dispersion: read the row with the full hour count
      val streamDisp = spark.table("running_burst")
        .filter(col("key") === "a" && col("n_hours") === batch("a")._1)
        .orderBy(col("n_events").desc).limit(1)
        .collect()(0).getAs[Double]("dispersion")
      assert(streamDisp === batch("a")._3, "dispersion must mirror the batch decimal tree")
    } finally q.stop()
  }

  test("runningBurstiness: late rows drop; below minHours nothing emits") {
    val h = 3600000000L
    val input = MemoryStream[(String, Long)](spark)
    val out = Streams.runningBurstiness(input.toDS())
    val q = out.writeStream.format("memory").queryName("running_burst2")
      .outputMode("update").start()
    try {
      input.addData(("u", 0L), ("u", h))
      q.processAllAvailable()
      // one finalized hour only -> below minHours, no emission
      assert(spark.table("running_burst2").count() === 0L)
      input.addData(("u", 0L)) // LATE (hour 0 < current hour 1): dropped
      q.processAllAvailable()
      assert(spark.table("running_burst2").count() === 0L)
      input.addData(("u", 2L * h), ("u", 3L * h))
      q.processAllAvailable()
      // hours 0,1,2 finalized with one event each -> dispersion 0
      val r = spark.table("running_burst2")
        .orderBy(col("n_hours").desc).limit(1).collect()(0)
      assert(r.getAs[Long]("n_hours") === 3L)
      assert(r.getAs[Long]("n_events") === 3L)
      assert(r.getAs[Double]("dispersion") === 0.0)
    } finally q.stop()
  }
}
