package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.operators.Stager

/** Structured Streaming surface (beyond-parity: the reference has no
  * streaming at all — SURVEY.md §1.1/§2.2. These helpers expose the same
  * operator surface over unbounded DataFrames, shaped for the `events`
  * fixture schema (event_id, ts, event_type, user_id, value, props)).
  *
  * Everything here is a plain plan rewrite, so it works identically on
  * batch DataFrames — the specs exploit that, and streaming execution is
  * covered with MemoryStream. JsonFlatten/TextFunctions/Dedup expressions
  * compose into streams unchanged (they are stateless projections); the
  * stateful pieces below are the ones that need streaming-specific
  * machinery (watermarks, state stores).
  */
object Streams {

  /** Per-row JVM twin of [[graft.functions.TextFunctions.md5Hash60]]
    * (first 15 md5 hex chars as a 60-bit long) — ONE definition for
    * every keyed-state operator in this file, so the batch-parity specs
    * guard a single hash. */
  private def h60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
  }

  /** Tumbling (or sliding) windowed aggregation with a watermark: per
    * (window, key) event counts and value sums. Late rows beyond the
    * watermark are dropped; in append mode a window only emits once it is
    * finalized. */
  def windowedAgg(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      windowLen: String = "1 hour",
      slide: Option[String] = None,
      watermark: String = "2 hours"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), windowLen, s)
      case None => window(col(tsCol), windowLen)
    }
    events
      .withWatermark(tsCol, watermark)
      .groupBy(win.as("w"), col(keyCol))
      // decimal accumulator: order-independent double sums (the same
      // determinism rule the batch gate queries follow)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col(keyCol), col("n"), col("sum_value"))
  }

  /** Session windows: events for a key group into sessions separated by
    * `gap` of inactivity. */
  def sessionAgg(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "user_id",
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap).as("s"), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .cast("double").as("sum_value"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col(keyCol), col("n_events"), col("sum_value"))

  /** Streaming exact dedup: drops duplicate ids arriving within the
    * watermark horizon (state is GC'd past it — bounded memory, unlike a
    * global dropDuplicates which would grow state forever). */
  def dedupWithinWatermark(
      events: DataFrame,
      idCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame = {
    require(idCols.nonEmpty, "dedupWithinWatermark needs at least one id column")
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)
  }

  /** Streaming curation funnel: the batch pipeline's first two stages
    * (quality gate -> exact dedup) over an unbounded document stream.
    * Quality scoring and fingerprinting are stateless codegen'd
    * projections, so they stream for free; the dedup is the only stateful
    * stage and bounds its state to the watermark horizon. Near-dup LSH
    * stages need cross-batch candidate joins — run those as periodic batch
    * jobs over the stream's sink (the classic lambda split), not in-stream.
    */
  def curationStream(
      docs: DataFrame,
      tsCol: String = "ts",
      textCol: String = "text",
      minQuality: Double = 0.45,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("quality", graft.functions.TextFunctions.qualityScore(col(textCol)))
      .filter(col("quality") >= minQuality)
      .withColumn("fingerprint", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("fingerprint"))

  // ------------------------------------------------------------ custom state

  case class KeyCount(key: String, total: Long)

  case class KeyDistinct(key: String, n_minima: Long, est_distinct: Double)

  /** Streaming KMV distinct-count: per key, maintain the k smallest
    * distinct 60-bit md5 hashes of the values seen so far (the
    * [[graft.operators.Sketch]] sketch as flatMapGroupsWithState state —
    * k longs per key FOREVER, not one entry per distinct value, which is
    * what makes an unbounded-cardinality stream tractable) and emit the
    * updated estimate each batch. The hash is bit-identical to the batch
    * operator's, so a stream's final state equals
    * [[graft.operators.Sketch.distinctEstimate]] over the same rows —
    * StreamsSpec asserts exactly that, and a snapshotted state can be
    * [[graft.operators.Sketch.kmvMerge]]d with batch shard sketches. */
  def runningDistinct(
      events: Dataset[(String, String)],
      k: Int = 64): Dataset[KeyDistinct] = {
    require(k >= 2, s"k must be >= 2, got $k")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], KeyDistinct](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Array[Long]]) =>
          // null values carry no identity — skipped, matching the batch
          // sketch (which drops null-key hashes before the window).
          // The batch iterator folds INCREMENTALLY into a size-k ordered
          // set (dedup + trim as it goes): a hot key's memory stays O(k)
          // however many rows its batch carries, instead of materializing
          // every hash before distinct/sort/take.
          val bound = scala.collection.mutable.TreeSet.empty[Long]
          state.getOption.foreach(bound ++= _) // <= k entries
          for (r <- rows; v <- Option(r._2)) {
            val h = h60(v)
            if (bound.size < k || h < bound.last) {
              bound += h
              if (bound.size > k) bound.remove(bound.last)
            }
          }
          val minima = bound.toArray
          if (minima.isEmpty) {
            // a key that has only ever seen nulls: the batch sketch has NO
            // row for it — emit nothing and keep no state, so stream state
            // stays exactly the batch result
            Iterator.empty
          } else {
            state.update(minima)
            val est =
              if (minima.length < k) minima.length.toDouble
              else (k - 1).toDouble * graft.operators.Sketch.HashSpace / minima(k - 1).toDouble
            Iterator.single(KeyDistinct(key, minima.length.toLong, est))
          }
      }
  }

  case class KeyFunnel(key: String, stages_completed: Int)

  /** Streaming ordered-funnel: per user, the greedy funnel stage
    * maintained across micro-batches — ONE int of state per user
    * forever ([[graft.operators.Sessionize.funnelStages]] as keyed
    * state). Rows are (user, ts, order, step); each batch's rows for a
    * user are processed in (ts, order) order and folded from the saved
    * stage, so a stream fed in event-time order equals the batch
    * operator over the same rows — StreamsSpec asserts exactly that.
    * Late (out-of-order ACROSS batches) events cannot rewind an
    * already-advanced stage — the documented streaming trade-off (the
    * greedy stage is monotone, so an out-of-order stream can only
    * UNDER-report, never invent progress). Non-step and null-step rows
    * are ignored; every user seen emits its current stage each batch. */
  def runningFunnel(
      events: Dataset[(String, java.sql.Timestamp, Long, String)],
      steps: Seq[String]): Dataset[KeyFunnel] = {
    require(steps.nonEmpty, "runningFunnel: steps must be non-empty")
    require(steps.distinct.size == steps.size,
      s"runningFunnel: steps must be distinct, got $steps")
    import events.sparkSession.implicits._
    val stepArr = steps.toIndexedSeq
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, KeyFunnel](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Int]) =>
          var stage = state.getOption.getOrElse(0)
          // (getTime, getNanos) carries sub-millisecond precision: two
          // timestamps equal in millis still order by their nanos field
          val batch = rows.filter(r => r._2 != null && r._4 != null &&
              stepArr.contains(r._4))
            .toArray.sortBy(r => (r._2.getTime, r._2.getNanos.toLong, r._3))
          for (r <- batch if stage < stepArr.size)
            if (r._4 == stepArr(stage)) stage += 1
          state.update(stage)
          Iterator.single(KeyFunnel(key, stage))
      }
  }

  case class KeyHll(key: String, n_nonzero: Long, est_distinct: Double)

  /** Streaming HyperLogLog distinct-count: per key, maintain the 2^p
    * MAX registers ([[graft.operators.Sketch.hllSketch]]'s state — a
    * 2^p-byte array per key FOREVER, the classic bounded-memory
    * upgrade over [[runningDistinct]]'s KMV when keys are hot: register
    * updates are idempotent MAXes, so a billion repeats of one value
    * cost nothing) and emit the updated estimate each batch. Hash,
    * register routing, rho, and BOTH estimator branches (integer
    * harmonic sum; decimal-rounded linear-counting ln) are
    * bit-identical to the batch operator, so a stream's final state
    * equals [[graft.operators.Sketch.hllEstimate]] over the same rows —
    * StreamsSpec asserts exactly that — and a snapshotted register
    * array MAX-merges with batch shard sketches ([[graft.operators.Sketch.hllMerge]]). */
  def runningHllDistinct(
      events: Dataset[(String, String)],
      p: Int = 12): Dataset[KeyHll] = {
    require(p >= 4 && p <= 13, s"p must be in [4, 13], got $p")
    import events.sparkSession.implicits._
    val m = 1 << p
    val w = 60 - p
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Byte], KeyHll](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Array[Byte]]) =>
          val regs = state.getOption.getOrElse(Array.fill[Byte](m)(0))
          var touched = state.exists
          for (r <- rows; v <- Option(r._2)) {
            val h = h60(v)
            val reg = (h >>> w).toInt
            val suf = h & ((1L << w) - 1L)
            val rho =
              if (suf == 0L) w + 1
              else w + 1 - (64 - java.lang.Long.numberOfLeadingZeros(suf))
            if (rho > regs(reg)) regs(reg) = rho.toByte
            touched = true
          }
          if (!touched) {
            // only-null rows on a never-seen key: the batch sketch has no
            // row for it — emit nothing, keep no state
            Iterator.empty
          } else {
            state.update(regs)
            var sNz = 0L
            var nNz = 0L
            var i = 0
            while (i < m) {
              if (regs(i) > 0) { nNz += 1; sNz += 1L << (w + 1 - regs(i)) }
              i += 1
            }
            // the ONE shared estimator (alpha table + harmonic/LC
            // branches) — any drift from the batch operator trips the
            // StreamsSpec parity identity
            Iterator.single(KeyHll(key, nNz,
              graft.operators.Sketch.hllScalarEstimate(p, nNz, sNz)))
          }
      }
  }

  /** Streaming near-dup flagging against a STANDING index — the ingestion
    * counterpart of [[graft.operators.Dedup.nearDupPairsAgainstIndex]]:
    * documents arriving on a stream are minhash-signed PER ROW (no
    * streaming aggregation, so no watermark/output-mode constraints),
    * their band buckets stream-static join the index's, and candidates
    * verify exact shingle-set Jaccard in the same micro-batch. Emits
    * (new_id, index_id, jaccard_sim) in append mode; a doc that emits
    * nothing is novel. The per-row signature is BIT-IDENTICAL to the
    * batch [[graft.operators.Dedup.minhashSignature]] (same md5 hex
    * windows, same linear hash family, same band bucketing), so a
    * stream's flags over a batch of rows equal the batch operator's
    * pairs — StreamsSpec asserts exactly that. The index frames are
    * eagerly staged once ([[Stager.stage]]): each micro-batch joins
    * against materialized buckets/sets, not a re-derived plan. Docs with
    * fewer than shingleN tokens have no shingles and emit nothing (batch
    * parity: they have no signature row either). */
  def nearDupFlagStream(
      docs: Dataset[(String, String)], // (doc id, text)
      indexDf: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 1,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    import docs.sparkSession.implicits._
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val idxSets = Stager.stage(graft.operators.Dedup
      .shingleRows(indexDf, idCol, textCol, shingleN)
      .groupBy(col(idCol)).agg(collect_set(col("shingle")).as("__sb"))
      .select(col(idCol).as("index_id"), col("__sb")),
      s"stream_neardup_sets_$runId")
    val idxBuckets = {
      val sig = graft.operators.Dedup
        .minhashSignature(indexDf, idCol, textCol, shingleN, numHashes)
      val bands = (0 until numHashes / rowsPerBand).map { b =>
        val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
        struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bucket"))
      }
      Stager.stage(
        sig.select(col(idCol).as("index_id"), explode(array(bands: _*)).as("__b"))
          .select(col("index_id"), col("__b.band").as("__band"),
            col("__b.bucket").as("__bucket")),
        s"stream_neardup_buckets_$runId")
    }
    def md5Hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // per-row replay of the batch pipeline: shingles -> (c1, c2) from the
    // md5 hex windows -> min over the linear family -> band buckets
    val streamBuckets = docs.flatMap { case (id, text) =>
      // Locale.ROOT: Spark's lower() is locale-independent; a default-locale
      // lowercase would break stream/batch bit-parity under e.g. tr_TR
      val toks = Option(text).getOrElse("").toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
      if (toks.length < shingleN || id == null) Iterator.empty
      else {
        val shingles = toks.sliding(shingleN).map(_.mkString(" ")).toSeq
        val cs = shingles.map { sh =>
          val m = md5Hex(sh)
          (java.lang.Long.parseLong(m.substring(0, 14), 16),
            java.lang.Long.parseLong(m.substring(16, 30), 16))
        }
        val hs = (0 until numHashes).map(i =>
          cs.iterator.map { case (c1, c2) => c1 + i.toLong * c2 }.min)
        val distinct = shingles.distinct
        (0 until numHashes / rowsPerBand).iterator.map { b =>
          val key = (b * rowsPerBand until (b + 1) * rowsPerBand)
            .map(hs(_).toString).mkString("|")
          (id, b, md5Hex(key), distinct)
        }
      }
    }.toDF("new_id", "__band", "__bucket", "__sa")
    streamBuckets
      .join(idxBuckets, Seq("__band", "__bucket"))
      .select(col("new_id"), col("index_id"), col("__sa"))
      // NOT .distinct(): a streaming Aggregate can't run in append mode.
      // dropDuplicates is streaming-legal keyed dedup state — one entry
      // per CANDIDATE pair, kept forever (it also suppresses re-flags of
      // a re-sent doc across batches, which is the semantics we want)
      .dropDuplicates("new_id", "index_id")
      .join(idxSets, Seq("index_id"))
      .withColumn("jaccard_sim", graft.operators.Dedup.jaccard(col("__sa"), col("__sb")))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("new_id"), col("index_id"), col("jaccard_sim"))
  }

  /** Streaming duplicated-run extent flags at ingest — the streaming twin
    * of [[graft.operators.Dedup.duplicatedRunExtents]] in the
    * [[nearDupFlagStream]] posture (p76's standing-index split): new docs
    * are gram-hashed per row and joined against a STANDING index of every
    * distinct runN-gram hash in the stored corpus; any hit is
    * cross-document duplication BY CONSTRUCTION (index doc and new doc
    * are distinct documents), so matched gram starts merge into maximal
    * extents exactly like the batch operator. Output per extent:
    * (new_id, start_tok, end_tok, n_tokens) — the p193 shape.
    *
    * Contract: each doc arrives COMPLETE in one stream row (extent
    * merging is per input row's own gram set); a re-sent doc re-emits
    * (at-least-once — dropDuplicates on (new_id, start_tok) downstream
    * for exactly-once). Stream-INTERNAL duplication (two new docs sharing
    * a passage the index has never seen) is intentionally NOT flagged —
    * that is the nightly consolidation's business
    * ([[graft.operators.Dedup.duplicatedRunExtents]] over the merged
    * corpus, the p76 incremental split). Tokens are case-PRESERVING
    * exact bytes (the removeDuplicateSpans convention); docs shorter
    * than runN and NULL-id docs emit nothing.
    *
    * 100 TB shape: the index side is one distinct-hash frame (60-bit
    * hashes only, never text; map-side-combinable distinct); the stream
    * side is a stateless per-row flatMap + ONE stream-static equi-join
    * on the hash (no broadcast assumption — a corpus-wide gram set is
    * itself huge) + a per-doc flatMapGroupsWithState that sees one doc's
    * token-bounded gram-start list per batch and stores NO state. */
  def dupRunFlagStream(
      docs: Dataset[(String, String)], // (doc id, text)
      indexDf: DataFrame, idCol: String, textCol: String,
      runN: Int = 8): DataFrame = {
    require(runN >= 2, s"runN must be >= 2, got $runN")
    import docs.sparkSession.implicits._
    val id = col(s"`$idCol`")
    // standing index: the duplicatedRunExtents gram recipe (one per-doc
    // window pass, case-preserving), collapsed to distinct hashes
    val toks = indexDf.filter(id.isNotNull)
      .select(id, posexplode(split(coalesce(col(s"`$textCol`"), lit("")), "\\s+"))
        .as(Seq("__p", "__t0")))
      .filter(col("__t0") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(id).orderBy(col("__p"))
    val leads = (1 until runN).map(i => lead(col("__t0"), i).over(w).as(s"__t$i"))
    val idxHashes = Stager.stage(toks.select(id +: col("__t0") +: leads: _*)
      .filter(col(s"__t${runN - 1}").isNotNull)
      .select(graft.functions.TextFunctions.md5Hash60(concat_ws(" ",
        (0 until runN).map(i => col(s"__t$i")): _*)).as("__gh"))
      .distinct(),
      s"stream_duprun_hashes_${java.util.UUID.randomUUID().toString.take(8)}")
    val streamGrams = docs.flatMap { case (docId, text) =>
      val ts = Option(text).getOrElse("").split("\\s+").filter(_.nonEmpty)
      if (docId == null || ts.length < runN) Iterator.empty
      else ts.sliding(runN).zipWithIndex.map { case (g, ix) =>
        (docId, ix.toLong, h60(g.mkString(" ")))
      }
    }.toDF("new_id", "__ix", "__gh")
    streamGrams.join(idxHashes, Seq("__gh"))
      .select(col("new_id"), col("__ix"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (docId: String, rows: Iterator[(String, Long)],
            _: GroupState[Boolean]) =>
          // stateless island merge: one doc's matched starts, sorted —
          // bounded by the doc's own token count; no cross-batch state
          val ixs = rows.map(_._2).toArray.sorted
          val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          ixs.foreach { ix =>
            if (runs.nonEmpty && ix == runs.last._2 + 1L)
              runs(runs.length - 1) = (runs.last._1, ix)
            else runs += ((ix, ix))
          }
          runs.iterator.map { case (s, e) =>
            (docId, s, e + (runN - 1), e - s + runN) }
      }
      .toDF("new_id", "start_tok", "end_tok", "n_tokens")
  }

  /** Streaming two-sided CUSUM per key — the ingest-time twin of
    * [[graft.operators.Drift.cusumByGroup]] with EXPLICIT per-key target
    * means (a stream cannot know its own mean; production monitors pin
    * the target from a baseline window — feed the batch op's rounded mu
    * for bit-parity). State per key is four quantized-long scalars
    * (running sum and running min for each side — the same
    * prefix-sum-minus-running-min rewrite, at 1e-9 fixed point exactly
    * like the batch op's DECIMAL(25,9) terms), so an in-order stream
    * reproduces the batch output bit-for-bit; out-of-order rows corrupt
    * the recursion (the caller owns ordering — the runningBurstiness
    * contract). Keys without a target and NULL-shaped rows emit
    * nothing. Output per event: (key, x, y, cusum_pos, cusum_neg,
    * alarm_pos, alarm_neg). */
  def runningCusum(events: Dataset[(String, Long, Double)],
      targets: Map[String, Double], h: Double,
      k: Double = 0.0): DataFrame = {
    require(h > 0.0, s"h must be positive, got $h")
    require(k >= 0.0, s"k must be >= 0, got $k")
    import events.sparkSession.implicits._
    def q9(x: Double): Long = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .*(BigDecimal(1000000000L)).toLongExact
    events.filter(_._1 != null).filter(e => targets.contains(e._1))
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Double)],
            state: GroupState[(Long, Long, Long, Long)]) =>
          val mu = targets(key)
          var (pp, mp, pn, mn) = state.getOption.getOrElse((0L, 0L, 0L, 0L))
          val out = rows.toSeq.sortBy(_._2).map { case (_, x, y) =>
            pp += q9(y - mu - k)
            pn += q9(mu - y - k)
            mp = math.min(mp, pp)
            mn = math.min(mn, pn)
            val cp = (pp - math.min(0L, mp)) / 1e9
            val cn = (pn - math.min(0L, mn)) / 1e9
            (key, x, y, cp, cn, cp > h, cn > h)
          }
          state.update((pp, mp, pn, mn))
          out.iterator
      }
      .toDF("key", "x", "y", "cusum_pos", "cusum_neg",
        "alarm_pos", "alarm_neg")
  }

  case class KeyHeavy(key: String, n_seen: Long, items: Map[String, Long])

  /** Streaming heavy hitters: per key, maintain a Misra–Gries summary
    * (FOCS 1982 — at most k counters FOREVER, decrement-all on overflow)
    * over the value stream and emit the updated summary + rows-seen each
    * batch. This is MG in its original one-pass setting, so the classic
    * deterministic guarantee holds at every emission: each summary count
    * c_hat satisfies c − n/(k+1) <= c_hat <= c for the true count c, and
    * EVERY value with c > n/(k+1) is present. Unlike the KMV/CMS/quantile
    * streams, the summary's extra (non-heavy) survivors depend on arrival
    * order, so there is no bit-identity with [[graft.operators.Sketch
    * .heavyHitters]] — the invariant StreamsSpec asserts is the guarantee
    * itself (bounds vs exact batch counts), which is what the operator
    * contracts to. For exact output, recount the emitted candidates
    * against the stored corpus — the batch operator's second pass. Null
    * values carry no mass; an all-null key emits nothing (batch parity). */
  def runningHeavyHitters(
      events: Dataset[(String, String)],
      k: Int = 16): Dataset[KeyHeavy] = {
    require(k >= 1, s"k must be >= 1, got $k")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Map[String, Long]), KeyHeavy](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Map[String, Long])]) =>
          var seen = 0L
          val counters = scala.collection.mutable.HashMap.empty[String, Long]
          state.getOption.foreach { case (n, m) => seen = n; counters ++= m }
          var any = state.getOption.isDefined
          for (r <- rows; v <- Option(r._2)) {
            any = true
            seen += 1L
            counters.get(v) match {
              case Some(c) => counters(v) = c + 1L
              case None if counters.size < k => counters(v) = 1L
              case None => // decrement-all; the new value's 1 cancels too
                val dead = List.newBuilder[String]
                counters.keysIterator.foreach { kk =>
                  val c = counters(kk) - 1L
                  if (c == 0L) dead += kk else counters(kk) = c
                }
                dead.result().foreach(counters.remove)
            }
          }
          if (!any) Iterator.empty
          else {
            val snap = counters.toMap
            state.update((seen, snap))
            Iterator.single(KeyHeavy(key, seen, snap))
          }
      }
  }

  case class KeyCms(key: String, total: Long, cells: Array[Long])

  /** Streaming count-min frequency sketch: per key, maintain the
    * depth×width CM counter grid (row-major Array[Long] state — BOUNDED
    * per key no matter how many distinct values stream through, the same
    * argument that makes [[runningDistinct]] tractable) and emit the
    * updated grid + total each batch. The cell hash is bit-identical to
    * [[graft.operators.Sketch.cmsSketch]]'s ("cms<d>:<value>" md5 mod
    * width), so a stream's final state equals the batch sketch over the
    * same rows — StreamsSpec asserts exactly that — and a snapshotted
    * grid re-exploded to (d, idx, cnt) cells [[graft.operators
    * .Sketch.cmsMerge]]s with batch shard sketches. Null values carry no
    * identity; an all-null key emits nothing (batch parity). */
  def runningFreq(
      events: Dataset[(String, String)],
      depth: Int = 4, width: Int = 256): Dataset[KeyCms] = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], KeyCms](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Array[Long]]) =>
          val cells = state.getOption.getOrElse(Array.fill(depth * width)(0L))
          var any = state.getOption.isDefined
          for (r <- rows; v <- Option(r._2)) {
            any = true
            var d = 0
            while (d < depth) {
              cells(d * width + (h60(s"cms$d:$v") % width).toInt) += 1L
              d += 1
            }
          }
          if (!any) Iterator.empty
          else {
            state.update(cells)
            // total = sum of any one depth row (every row counts every
            // observation once); row 0 avoids a full-grid pass
            var total = 0L
            var i = 0
            while (i < width) { total += cells(i); i += 1 }
            Iterator.single(KeyCms(key, total, cells))
          }
      }
  }

  case class KeyQuantiles(key: String, n_seen: Long, n_sample: Long,
    quantiles: Map[String, Long])

  /** Streaming quantile sketch: per key, maintain the bottom-k rows by
    * salted md5-of-id — the [[graft.operators.Sketch.quantileSketch]]
    * uniform sample as flatMapGroupsWithState state, at most k
    * (hash, id, value) triples per key FOREVER — and emit the updated
    * nearest-rank quantiles each batch. Hash ("salt:id" md5, 60 bits)
    * and rank index ((n·qµ + 999999) div 1e6) are bit-identical to the
    * batch operator's, so a stream's final emission equals
    * [[graft.operators.Sketch.quantileProfile]] over the same rows —
    * StreamsSpec asserts exactly that — and a snapshotted state
    * re-assembled into the sample layout [[graft.operators.Sketch
    * .quantileMerge]]s with batch shard sketches. Rows with a null id or
    * value carry no measurement (batch parity: an all-null key emits
    * nothing). ids should be unique per row — the sample is of ROWS, and
    * duplicate (hash, id) entries tie the bottom-k boundary. */
  def runningQuantiles(
      events: Dataset[(String, String, java.lang.Long)],
      k: Int = 256,
      quantiles: Seq[(String, Double)] = Seq("p50" -> 0.5),
      salt: String = "qs"): Dataset[KeyQuantiles] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (n, q) =>
      require(q > 0.0 && q <= 1.0, s"quantile $n must be in (0,1], got $q") }
    import events.sparkSession.implicits._
    val qMicros = quantiles.map { case (n, q) => (n, math.round(q * 1e6)) }
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Array[(Long, String, Long)]), KeyQuantiles](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Array[(Long, String, Long)])]) =>
          // incremental bottom-k by (h, id): O(k) memory per key however
          // many rows the batch carries (the runningDistinct argument);
          // n_seen counts every valid row ever folded — the monotone
          // emission marker and the profile's "sample of how many" answer
          val ord = Ordering.Tuple3(Ordering.Long, Ordering.String, Ordering.Long)
          val bound = scala.collection.mutable.TreeSet.empty[(Long, String, Long)](ord)
          var seen = 0L
          state.getOption.foreach { case (n, s) => seen = n; bound ++= s }
          for (r <- rows; id <- Option(r._2); v <- Option(r._3)) {
            seen += 1L
            val e = (h60(s"$salt:$id"), id, v.longValue())
            if (bound.size < k || ord.lt(e, bound.last)) {
              bound += e
              if (bound.size > k) bound.remove(bound.last)
            }
          }
          if (bound.isEmpty) Iterator.empty
          else {
            val sample = bound.toArray
            state.update((seen, sample))
            val vs = sample.map(_._3).sorted
            val n = vs.length.toLong
            val out = qMicros.map { case (name, qm) =>
              name -> vs(((n * qm + 999999L) / 1000000L).toInt - 1)
            }.toMap
            Iterator.single(KeyQuantiles(key, seen, n, out))
          }
      }
  }

  /** `d` rounded HALF_UP to `scale` decimals — the batch operators'
    * DECIMAL casts, per value. */
  private def dec(d: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(scale, java.math.RoundingMode.HALF_UP)

  /** ln through the batch drift operators' double→DECIMAL(25,12)→9-dp
    * contract. StrictMath, not Math: Catalyst's Log expression evaluates
    * StrictMath.log, and the Math.log intrinsic may differ by 1 ulp. */
  private def ln9(x: Double): Double =
    dec(StrictMath.log(x), 12).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue

  case class KeyPsi(key: String, n_seen: Long, n_values: Long, psi: Double)

  /** Streaming PSI drift monitor: per key (source, shard, pipeline
    * stage), maintain the running categorical-value counts as keyed
    * state and emit each batch the Population Stability Index of the
    * stream-so-far mix against a static `baseline` mix (the last
    * accepted snapshot's value counts, broadcast in the closure) — the
    * live "is this feed drifting off its reference distribution?"
    * alarm. State is O(distinct values) per key (categorical contract).
    *
    * Arithmetic is bit-identical to [[graft.operators.Drift.psi]]: one
    * IEEE division per share clamped by max(share, eps), ln through the
    * double→DECIMAL(25,12)→9-dp contract (JVM BigDecimal.valueOf is
    * exactly Spark's double→decimal cast), per-value terms quantized to
    * scale 9 and summed exactly — StreamsSpec asserts a stream's final
    * emission EQUALS the batch operator over the same rows vs the same
    * baseline. Null values carry no observation; a key with only null
    * values emits nothing (batch parity). */
  def runningPsi(events: Dataset[(String, String)], baseline: Map[String, Long],
      eps: Double = 1e-6): Dataset[KeyPsi] = {
    require(baseline.nonEmpty && baseline.valuesIterator.forall(_ > 0L),
      "baseline must be a non-empty positive count mix")
    require(eps > 0.0 && eps < 1.0, s"eps must be in (0,1), got $eps")
    import events.sparkSession.implicits._
    val bTotal = baseline.valuesIterator.sum
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], KeyPsi](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Map[String, Long]]) =>
          var counts = state.getOption.getOrElse(Map.empty[String, Long])
          var any = state.getOption.isDefined
          for (r <- rows; v <- Option(r._2)) {
            any = true
            counts = counts.updated(v, counts.getOrElse(v, 0L) + 1L)
          }
          if (!any) Iterator.empty
          else {
            state.update(counts)
            val n = counts.valuesIterator.sum
            val values = counts.keySet ++ baseline.keySet
            var sum = java.math.BigDecimal.ZERO.setScale(9)
            for (v <- values) {
              val p = math.max(counts.getOrElse(v, 0L).toDouble / n, eps)
              val q = math.max(baseline.getOrElse(v, 0L).toDouble / bTotal, eps)
              sum = sum.add(dec((p - q) * ln9(p / q), 9))
            }
            Iterator.single(KeyPsi(key, n, values.size.toLong, sum.doubleValue))
          }
      }
  }

  case class KeyJs(key: String, n_seen: Long, n_values: Long, js: Double)

  /** Streaming Jensen–Shannon drift monitor: [[runningPsi]]'s bounded,
    * symmetric, epsilon-free twin — per key, maintain the running
    * categorical-value counts as keyed state and emit each batch the
    * JS divergence of the stream-so-far mix against the static
    * `baseline` mix. Zero-probability values need no epsilon (a 0-mass
    * term is exactly 0), so a value seen on one side only contributes
    * its honest ½·ln 2 mass and js stays in [0, ln 2]. State is
    * O(distinct values) per key (categorical contract).
    *
    * Arithmetic is bit-identical to
    * [[graft.operators.Drift.jsDivergenceByGroup]]: p and q single
    * IEEE divisions, m = (p+q)/2 one add + one exact halving, each ln
    * through the double→DECIMAL(25,12)→9-dp contract (StrictMath.log —
    * Catalyst's Log), the two half-terms summed THEN quantized to
    * scale 9 per value, decimal-exact total — StreamsSpec asserts a
    * stream's final emission EQUALS the batch operator over the same
    * rows vs the same baseline. Null values carry no observation. */
  def runningJs(events: Dataset[(String, String)],
      baseline: Map[String, Long]): Dataset[KeyJs] = {
    require(baseline.nonEmpty && baseline.valuesIterator.forall(_ > 0L),
      "baseline must be a non-empty positive count mix")
    import events.sparkSession.implicits._
    val bTotal = baseline.valuesIterator.sum
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], KeyJs](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Map[String, Long]]) =>
          var counts = state.getOption.getOrElse(Map.empty[String, Long])
          var any = state.getOption.isDefined
          for (r <- rows; v <- Option(r._2)) {
            any = true
            counts = counts.updated(v, counts.getOrElse(v, 0L) + 1L)
          }
          if (!any) Iterator.empty
          else {
            state.update(counts)
            val n = counts.valuesIterator.sum
            val values = counts.keySet ++ baseline.keySet
            var sum = java.math.BigDecimal.ZERO.setScale(9)
            for (v <- values) {
              val na = counts.getOrElse(v, 0L)
              val nb = baseline.getOrElse(v, 0L)
              val p = na.toDouble / n
              val q = nb.toDouble / bTotal
              val m = (p + q) / 2.0
              val termA = if (na > 0L) 0.5 * (p * ln9(p / m)) else 0.0
              val termB = if (nb > 0L) 0.5 * (q * ln9(q / m)) else 0.0
              sum = sum.add(dec(termA + termB, 9))
            }
            Iterator.single(KeyJs(key, n, values.size.toLong, sum.doubleValue))
          }
      }
  }

  case class KeyKs(key: String, n_seen: Long, ks: Double, ks_at: Long)

  /** Streaming exact two-sample Kolmogorov–Smirnov drift monitor: per
    * key, maintain the running distinct-value counts of a LONG-valued
    * signal (length, score band, latency bucket) and emit each batch
    * the exact KS statistic of the stream-so-far distribution against
    * the static `baseline` value counts — the shape-drift companion to
    * [[runningPsi]]'s mix drift. State is O(distinct values) per key
    * (bin continuous-unique signals first, the
    * [[graft.operators.Profile.ksStatistic]] caveat).
    *
    * Arithmetic is bit-identical to the batch operator: the sup is
    * located on SCALED INTEGERS — |cum_a·n_b − cum_b·n_a| in exact
    * BigInteger (the state twin of DECIMAL(38,0)) with the smallest
    * attaining value reported — and only the reported ks divides once
    * in IEEE doubles. StreamsSpec asserts a stream's final emission
    * EQUALS `Profile.ksStatistic` over the same rows vs the baseline
    * rows. Null-valued rows carry no observation. */
  def runningKs(events: Dataset[(String, java.lang.Long)],
      baseline: Map[Long, Long]): Dataset[KeyKs] = {
    require(baseline.nonEmpty && baseline.valuesIterator.forall(_ > 0L),
      "baseline must be a non-empty positive count histogram")
    import events.sparkSession.implicits._
    val bTotal = baseline.valuesIterator.sum
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], KeyKs](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Map[Long, Long]]) =>
          var counts = state.getOption.getOrElse(Map.empty[Long, Long])
          var any = state.getOption.isDefined
          for (r <- rows; v <- Option(r._2)) {
            any = true
            val k = v.longValue
            counts = counts.updated(k, counts.getOrElse(k, 0L) + 1L)
          }
          if (!any) Iterator.empty
          else {
            state.update(counts)
            val n = counts.valuesIterator.sum
            val values = (counts.keySet ++ baseline.keySet).toSeq.sorted
            val (ta, tb) = (BigInt(n), BigInt(bTotal))
            var ca = BigInt(0)
            var cb = BigInt(0)
            var best = BigInt(-1)
            var bestAt = 0L
            for (v <- values) {
              ca = ca + BigInt(counts.getOrElse(v, 0L))
              cb = cb + BigInt(baseline.getOrElse(v, 0L))
              val sd = (ca * tb - cb * ta).abs
              if (sd > best) { best = sd; bestAt = v } // strict: min value wins ties
            }
            val ks = best.toDouble / (ta.toDouble * tb.toDouble)
            Iterator.single(KeyKs(key, n, ks, bestAt))
          }
      }
  }

  case class KeyW1(key: String, n_seen: Long, n_values: Long, w1: Double)

  /** Streaming exact Wasserstein-1 drift monitor: per key, maintain the
    * running distinct-value counts of a LONG-valued signal and emit each
    * batch the exact earth-mover distance of the stream-so-far
    * distribution against the static `baseline` counts — the
    * transport-cost companion to [[runningKs]]'s sup gap (KS says "the
    * CDFs diverge somewhere"; W₁ says how much mass moved how far, in
    * the signal's own units). State is O(distinct values) per key (bin
    * continuous signals first, the runningKs caveat).
    *
    * Arithmetic is bit-identical to the batch operator
    * ([[graft.operators.Drift.wasserstein1]]): Σ |cum_a·n_b − cum_b·n_a|
    * ·Δv accumulates in exact BigInteger and only the reported w1
    * divides once in IEEE doubles. StreamsSpec asserts a stream's final
    * emission EQUALS the batch operator over the same rows. Null-valued
    * rows carry no observation. */
  def runningWasserstein(events: Dataset[(String, java.lang.Long)],
      baseline: Map[Long, Long]): Dataset[KeyW1] = {
    require(baseline.nonEmpty && baseline.valuesIterator.forall(_ > 0L),
      "baseline must be a non-empty positive count histogram")
    import events.sparkSession.implicits._
    val bTotal = baseline.valuesIterator.sum
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], KeyW1](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[Map[Long, Long]]) =>
          var counts = state.getOption.getOrElse(Map.empty[Long, Long])
          var any = state.getOption.isDefined
          for (r <- rows; v <- Option(r._2)) {
            any = true
            val k = v.longValue
            counts = counts.updated(k, counts.getOrElse(k, 0L) + 1L)
          }
          if (!any) Iterator.empty
          else {
            state.update(counts)
            val n = counts.valuesIterator.sum
            val values = (counts.keySet ++ baseline.keySet).toSeq.sorted
            val (ta, tb) = (BigInt(n), BigInt(bTotal))
            var ca = BigInt(0)
            var cb = BigInt(0)
            var num = BigInt(0)
            var i = 0
            while (i < values.length) {
              val v = values(i)
              ca = ca + BigInt(counts.getOrElse(v, 0L))
              cb = cb + BigInt(baseline.getOrElse(v, 0L))
              if (i + 1 < values.length)
                num = num + (ca * tb - cb * ta).abs * BigInt(values(i + 1) - v)
              i += 1
            }
            val w1 = num.toDouble / (ta.toDouble * tb.toDouble)
            Iterator.single(KeyW1(key, n, values.size.toLong, w1))
          }
      }
  }

  /** Custom keyed state via flatMapGroupsWithState: a running per-key event
    * counter that emits the updated total on every batch. With
    * idleTimeoutMs > 0 idle keys expire after that much processing time so
    * state never grows unboundedly (note: timeout firing makes Spark
    * schedule timer batches continuously — use only on genuinely unbounded
    * key spaces). The KeyValueGroupedDataset path the reference never had
    * an analogue for — pure beyond-parity. */
  def runningCounts(
      events: Dataset[(String, Long)],
      idleTimeoutMs: Long = 0L): Dataset[KeyCount] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, KeyCount](OutputMode.Update(), timeoutConf) {
        case (key, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val add = rows.map(_._2).sum
            val total = state.getOption.getOrElse(0L) + add
            state.update(total)
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            Iterator.single(KeyCount(key, total))
          }
      }
  }

  case class KeyBurst(key: String, n_hours: Long, n_events: Long,
    mean_per_hour: Double, dispersion: Double)

  /** Streaming per-actor burstiness over FINALIZED hours — the streaming
    * twin of [[graft.operators.Sessionize.burstiness]] with O(1) keyed
    * state per actor: (current hour, its running count, finalized-hour
    * moments n_hours/Σc/Σc²). An hour finalizes when a LATER hour's
    * first event arrives; the current (still-open) hour never enters the
    * emitted moments, so on an IN-ORDER stream every emission equals the
    * batch operator run over the actor's events in hours strictly before
    * their latest (the [[runningFunnel]] in-order contract; late rows —
    * hour below the current one — are dropped and can only
    * under-report). Emits once an actor has ≥ `minHours` finalized
    * hours; the Σc² moment rides a BigInteger (the [[runningWasserstein]]
    * precedent) and the dispersion mirrors the batch decimal tree
    * bit-for-bit (exact integer products, correctly-rounded doubles,
    * identical division order). */
  def runningBurstiness(events: Dataset[(String, Long)],
      minHours: Long = 2L): Dataset[KeyBurst] = {
    require(minHours >= 2L, s"minHours must be >= 2, got $minHours")
    import events.sparkSession.implicits._
    // state: (curHour, curCount, nFinalizedHours, sumCounts, sumSq bytes)
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Array[Byte]), KeyBurst](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Long, Long, Long, Array[Byte])]) =>
          var (curH, curC, nh, s1, s2b) = state.getOption
            .getOrElse((Long.MinValue, 0L, 0L, 0L, Array.emptyByteArray))
          var s2 = if (s2b.isEmpty) java.math.BigInteger.ZERO
            else new java.math.BigInteger(s2b)
          // batch hour bucket: floor division of epoch micros
          rows.map(r => Math.floorDiv(r._2, 3600000000L)).toSeq.sorted
            .foreach { h =>
              if (h == curH) curC += 1L
              else if (h > curH) {
                if (curH != Long.MinValue) { // finalize the closed hour
                  nh += 1L; s1 += curC
                  s2 = s2.add(java.math.BigInteger.valueOf(curC)
                    .multiply(java.math.BigInteger.valueOf(curC)))
                }
                curH = h; curC = 1L
              } // h < curH: late row, dropped (under-report only)
            }
          state.update((curH, curC, nh, s1, s2.toByteArray))
          if (nh >= minHours) {
            // mirror the batch decimal tree: exact integer products,
            // correctly-rounded doubles, identical division order
            val num = java.math.BigInteger.valueOf(nh).multiply(s2)
              .subtract(java.math.BigInteger.valueOf(s1)
                .multiply(java.math.BigInteger.valueOf(s1)))
            val den = (nh * (nh - 1L)).toDouble
            val mean = s1.toDouble / nh.toDouble
            val disp = (num.doubleValue() / den) / mean
            Iterator.single(KeyBurst(key, nh, s1, mean, disp))
          } else Iterator.empty
      }
  }
}
