package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hash-feature linear text classifier (the fastText architecture,
  * Joulin et al. 2016, "Bag of Tricks for Efficient Text
  * Classification") — beyond-reference per SURVEY.md §2.4: the standard
  * cheap quality/domain classifier every large-scale pretraining
  * pipeline runs over its corpus (e.g. the GPT-3 / CCNet-style
  * "looks-like-reference-text" filters), structured exactly like a
  * trained model but with engine-portable DETERMINISTIC weights so the
  * whole pipeline is oracle-able: bucket = shared 60-bit md5 of the
  * gram mod nBuckets, weight_b = md5(seed:b)/2^59 − 1 ∈ [−1, 1) (an
  * exact power-of-two scaling — no FP rounding), logit = Σ c_b·w_b / n
  * (count-weighted mean feature weight), prob = σ(logit). Swapping in
  * real trained weights is a one-frame substitution (`weights`).
  *
  * 100 TB shape: one gram explode → a codegen'd per-occurrence weight
  * PROJECTION (the weight vector is nBuckets doubles, derived on the
  * driver or caller-supplied, folded into the plan as an array literal
  * — no weight-table join at all) → ONE per-doc aggregation whose
  * map-side combine collapses every partition to one (count, decimal
  * sum) row per doc BEFORE the shuffle. Two earlier shapes measured
  * worse at sf0.1: grouping by (doc, bucket) then joining a weight
  * frame shuffled nearly every gram occurrence (~400 grams over 4096
  * buckets per doc combine almost nothing — 6.0 s median), and folding
  * the gram array with an `aggregate` HOF avoided the shuffle but fell
  * out of whole-stage codegen (higher-order lambdas evaluate
  * interpreted — 19 s). This shape measures ~5.6 s median / 4.6 s min;
  * the residual cost is the per-occurrence md5 itself — the price of
  * the engine-portable hash contract, linear and embarrassingly
  * parallel. Per-occurrence weights cast to DECIMAL(25,9) and summed —
  * order-independent, so the DuckDB oracle's per-occurrence SUM
  * matches exactly; exp/sigmoid round through the 9-dp decimal
  * contract.
  *
  * Docs with zero features (null/empty text) keep their row:
  * n_features = 0, logit/prob NULL (unknown, not 0.5 — a pipeline must
  * decide explicitly what to do with unscorable docs).
  */
object Classifier {

  private val Dec = DecimalType(25, 9)

  private def round9(c: Column): Column =
    round(c.cast(DecimalType(25, 12)), 9).cast("double")

  /** The deterministic default weights as a driver-side vector:
    * w_b = md5Hash60("w:seed:b")/2^59 − 1 ∈ [−1, 1) (both steps exact
    * in binary64; the md5 is the same digest Spark and DuckDB compute).
    * nBuckets doubles — bounded, never a dataset. */
  def weightVector(nBuckets: Int, seed: String): IndexedSeq[Double] =
    (0 until nBuckets).map { b =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$seed:$b".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
      h.toDouble / 576460752303423488.0 - 1.0
    }

  /** [[weightVector]] as a (bucket, w) frame — the shape a TRAINED
    * weight table would arrive in, and what the DuckDB oracle rebuilds;
    * ClassifierSpec asserts it matches the vector bit-for-bit. */
  def weightTable(spark: org.apache.spark.sql.SparkSession, nBuckets: Int,
      seed: String): DataFrame =
    spark.range(nBuckets).select(
      col("id").as("__bucket"),
      (graft.functions.TextFunctions.md5Hash60(
        concat(lit(s"w:$seed:"), col("id").cast("string")))
        .cast("double") / lit(576460752303423488.0) - lit(1.0)).as("__w"))

  /** Score every document: (idCol, n_features long, logit double,
    * prob double). `useBigrams` adds word-bigram features to the unigram
    * bag (the fastText default); pass `weights` to score under a trained
    * vector instead of the deterministic default.
    *
    * PRECONDITION: `idCol` must be unique in `docs`. The gram explode
    * aggregates BY ID, so duplicate ids would pool all copies' grams into
    * one score, and the output emits ONE row per distinct id (the final
    * re-join restores zero-feature docs from the distinct id set, not
    * from the input's row multiplicity). */
  def hashClassifierScore(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 4096, seed: String = "clf",
      useBigrams: Boolean = true,
      weights: Option[Seq[Double]] = None): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    weights.foreach(w => require(w.size == nBuckets,
      s"weights size ${w.size} != nBuckets $nBuckets"))
    val id = col(s"`$idCol`")
    // lowercased features (the fastText preprocessing default); the
    // oracle reuses the shared toksLowerSql tokenization verbatim
    val text = lower(coalesce(col(s"`$textCol`"), lit("")))
    import graft.functions.TextFunctions.{tokens, shingles, md5Hash60}
    val wArr = typedlit(weights.map(_.toIndexedSeq)
      .getOrElse(weightVector(nBuckets, seed)))
    val grams =
      if (useBigrams) concat(tokens(text), shingles(text, 2)) else tokens(text)
    val wOf = (g: Column) => element_at(wArr,
      (pmod(md5Hash60(concat(lit(s"$seed:"), g)), lit(nBuckets.toLong)) + 1L)
        .cast("int"))
    // explode_outer over the PRE-filtered gram array keeps zero-feature
    // docs as one null-gram row, so the aggregation itself emits every
    // distinct id — n_features = count of non-null weights (0 for the
    // null row), logit/prob NULL via the null sum. The former shape
    // re-attached zero-feature docs with docs.select(id).distinct() +
    // left join: one extra hash aggregation and one extra join of the
    // full id set per scoring pass, removed r17 (guide §2.4 — the
    // explode ordinal row already carries the information). Values are
    // identical; the p84 oracle (documents LEFT JOIN scores) re-verified
    // at sf0.001 + sf0.01.
    // NULL ids carry no features (the oracle's LEFT JOIN USING(doc_id)
    // never matches a NULL key, and the former distinct()+join shape
    // collapsed all NULL-id rows to one zero-feature row — this keeps
    // exactly that: one NULL-id output row, n_features 0, NULL scores)
    docs
      .select(id, explode_outer(
        when(id.isNull, array().cast("array<string>"))
          .otherwise(filter(grams, g => g =!= ""))).as("__g"))
      .select(id, wOf(col("__g")).cast(Dec).as("__w9"))
      .groupBy(id)
      .agg(count(col("__w9")).as("n_features"), sum(col("__w9")).as("__dot"))
      .withColumn("logit",
        round9(col("__dot").cast("double") / col("n_features").cast("double")))
      .withColumn("prob",
        round9(lit(1.0) / (lit(1.0) + round9(exp(-col("logit"))))))
      .select(id, col("n_features"), col("logit"), col("prob"))
  }

  /** Full-batch logistic-regression TRAINING over the exact hashed
    * unigram+bigram feature map [[hashClassifierScore]] scores with (the
    * fastText training recipe, Joulin et al. 2016, reduced to plain
    * batch gradient descent so every round is an oracle-replayable
    * dataflow): per doc d the feature vector is x_b = c_b / n (the
    * count-weighted mean convention the scorer uses — logit = w·x), the
    * model has no intercept (also the scorer's convention), and round k
    * applies w ← w − lr·∇/N with ∇_b = Σ_d (σ(w·x_d) − y_d)·x_{d,b}.
    * Labels must be exactly 0 or 1 (anything else raises — a mangled
    * label column is a data bug, not a class); rows with NULL id/label
    * and docs with zero features are excluded from training. Returns
    * the full weight table (bucket int, weight double) — nBuckets rows;
    * [[weightsOf]] collapses it to the vector `hashClassifierScore
    * (weights = ...)` consumes, which is the whole point: train here,
    * score with the SAME feature map, no re-plumbing.
    *
    * Determinism / oracle contract (the repo's 9-dp convention): the
    * per-doc dot is an EXACT decimal sum (c_b × weight-as-DECIMAL(25,9),
    * order-independent), logit/σ round through 9-dp exactly like the
    * scorer, the per-doc gradient scale g_d = round9((p_d − y_d)/n_d)
    * re-enters as DECIMAL(25,9) so ∇_b = Σ c_b·g_d is again an exact
    * decimal sum, and the weight update w − (lr·∇_b)/N is one fixed
    * IEEE tree re-rounded to 9 dp. Fixed `iters`, no early stop, no
    * randomness — two runs (or two engines) produce bit-identical
    * weight tables; gate p257 replays all rounds as DuckDB CTE stages.
    *
    * 100 TB shape: ONE corpus scan builds the staged per-doc compacted
    * feature frame (doc, y, n, bucket[], count[]) — the explode
    * collapses through a map-side-combinable (doc, bucket) count first,
    * so the stage holds one row per doc with bounded arrays. Each round
    * is then a pure projection (the decimal dot under the CURRENT
    * weights, folded in as an nBuckets-sized array literal — no weight
    * join) followed by ONE map-side-combinable aggregation over
    * (bucket, grad) pairs — partial sums collapse to ≤ nBuckets rows
    * per partition BEFORE the shuffle, and the driver holds only the
    * nBuckets-sized gradient/weight vectors (the [[Vocab.bpeMerges]]
    * bounded-driver-data pattern: iters × nBuckets rows total, never a
    * dataset). The dot's array fold is a Catalyst HOF (interpreted, not
    * codegen) — the price of avoiding a per-round corpus-sized
    * weight-table join + per-doc re-aggregation, and it touches each
    * (bucket, count) pair exactly once per round. */
  def trainLogistic(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, nBuckets: Int = 4096, seed: String = "clf",
      useBigrams: Boolean = true, iters: Int = 8, lr: Double = 0.5): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(iters >= 1 && iters <= 1000, s"iters must be in [1,1000], got $iters")
    require(lr > 0 && !lr.isNaN && !lr.isInfinity,
      s"lr must be finite and > 0, got $lr")
    val spark = docs.sparkSession
    val id = col(s"`$idCol`")
    val text = lower(coalesce(col(s"`$textCol`"), lit("")))
    val yRaw = col(s"`$labelCol`")
    val y01 = yRaw.cast("double")
    import graft.functions.TextFunctions.{tokens, shingles, md5Hash60}
    val grams =
      if (useBigrams) concat(tokens(text), shingles(text, 2)) else tokens(text)
    val occ = docs
      .filter(id.isNotNull && yRaw.isNotNull)
      .select(id,
        when(y01 === 0.0 || y01 === 1.0, y01)
          .otherwise(raise_error(concat(
            lit(s"trainLogistic: label '$labelCol' must be 0 or 1, got "),
            yRaw.cast("string"))).cast("double")).as("__y"),
        explode(grams).as("__g"))
      .filter(col("__g") =!= "")
      .select(id, col("__y"),
        pmod(md5Hash60(concat(lit(s"$seed:"), col("__g"))), lit(nBuckets.toLong))
          .cast("int").as("__b"))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // per-doc compacted features: one row per doc, sorted parallel
    // bucket/count arrays (y is constant per id — the idCol-unique
    // precondition shared with hashClassifierScore)
    // The staged frame is read `iters` times by the round jobs, whose
    // per-row work (interpreted decimal HOF dot) is compute-dense per
    // byte — exactly the case where AQE's byte-based partition coalescing
    // under-parallelizes (it shrank this frame to ONE partition at gate
    // scale, serializing every gradient round on one core; measured 250-
    // 430 ms single-task round stages). Pin the staged layout to
    // defaultParallelism: scale-adaptive, and the one extra exchange of
    // the compacted model-input frame is paid once, not per round.
    val par = spark.sparkContext.defaultParallelism
    val featName = s"clf_train_feat_$runId"
    val docFeat = Stager.stage(
      occ.groupBy(id, col("__b"))
        .agg(first(col("__y")).as("__y"), count(lit(1)).as("__c"))
        .groupBy(id)
        .agg(first(col("__y")).as("__y"), sum(col("__c")).as("__n"),
          array_sort(collect_list(struct(col("__b"), col("__c")))).as("__bc"))
        .select(id, col("__y"), col("__n"),
          transform(col("__bc"), x => x.getField("__b")).as("__bs"),
          transform(col("__bc"), x => x.getField("__c")).as("__cs"))
        .repartition(par),
      featName)
    val nDocs = docFeat.count()
    // driver-side round9 replaying the engine's double->DECIMAL(25,12)
    // cast (shortest-string, HALF_UP) + ROUND(..., 9) + cast back
    def round9d(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP)
        .setScale(9, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    // Feature frames at or below this row count run the gradient rounds on
    // the driver (the [[Vocab.bpeMergeLoop]] bounded-driver-data rule):
    // production quality classifiers train on a SEED SET, not the corpus
    // (fastText itself is a single-machine trainer), so the compacted
    // per-doc frame is sample-sized by construction, and at that size
    // every distributed round is pure job overhead — iters x (plan +
    // codegen of a 4096-double literal + 2 stages + collect), ~18
    // sequential barriers whose largest stage holds milliseconds of work.
    // The local loop replays the identical arithmetic: the SAME
    // shortest-string double->DECIMAL(25,9) casts, exact decimal dot and
    // gradient sums (order-free), the SAME 9-dp logit/sigmoid/g9 rounding
    // (round9d IS the engine's round9 — it already replays the weight
    // update on both paths), so the weight table is bit-identical on
    // either path (ClassifierSpec pins local == forced-distributed).
    // Above the cutoff (Scale.DriverLocalMaxRows) the distributed rounds
    // run unchanged — the 100 TB shape is intact. The local dot replays
    // the DECIMAL(38,8) step rounding that allowPrecisionLoss=true gives
    // the distributed fold; under false the two paths would diverge
    // silently, so that conf fails loudly instead.
    if (nDocs > 0L && nDocs <= Scale.driverLocalMaxRows(spark)) {
      require(spark.conf.get("spark.sql.decimalOperations.allowPrecisionLoss", "true").toBoolean,
        "trainLogistic's driver-local rounds replay the distributed decimal fold only " +
          "under spark.sql.decimalOperations.allowPrecisionLoss=true")
      val rows = docFeat
        .select(col("__y"), col("__n"), col("__bs"), col("__cs")).collect()
      Stager.release(docFeat, featName)
      val wl = trainLogisticLocal(rows, nBuckets, iters, lr, nDocs, round9d)
      return weightsToDf(spark, wl)
    }
    val w = Array.fill(nBuckets)(0.0)
    var it = 0
    while (it < iters && nDocs > 0L) {
      val wArr = typedlit(w.toIndexedSeq)
      val dot = aggregate(
        zip_with(col("__bs"), col("__cs"),
          (b, c) => element_at(wArr, b + 1).cast(Dec) *
            c.cast(DecimalType(10, 0))),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 9)),
        // re-pin the merge type: decimal + widens precision past 38 and
        // would silently drop to scale 8; the cast is exact (|dot| is
        // bounded by n·max|w|, nowhere near 1e29)
        (acc, x) => (acc + x).cast(DecimalType(38, 9)))
      val logit = round9(col("__dot").cast("double") / col("__n").cast("double"))
      val p = round9(lit(1.0) / (lit(1.0) + round9(exp(-logit))))
      val g9 = round9((p - col("__y")) / col("__n").cast("double"))
      val gradRows = docFeat
        .withColumn("__dot", dot)
        .withColumn("__g9", g9)
        .select(explode(zip_with(col("__bs"), col("__cs"),
          (b, c) => struct(b.as("__b"),
            (c.cast(DecimalType(10, 0)) * col("__g9").cast(Dec)).as("__gc"))))
          .as("__e"))
        .groupBy(col("__e.__b").as("__b"))
        .agg(sum(col("__e.__gc")).as("__grad"))
        .collect() // bounded: at most nBuckets rows per round
      val grad = new Array[Double](nBuckets)
      gradRows.foreach { r =>
        if (!r.isNullAt(1)) grad(r.getInt(0)) = r.getDecimal(1).doubleValue()
      }
      val nD = nDocs.toDouble
      var b = 0
      while (b < nBuckets) {
        w(b) = round9d(w(b) - (lr * grad(b)) / nD)
        b += 1
      }
      it += 1
    }
    Stager.release(docFeat, featName)
    weightsToDf(spark, w)
  }

  /** Driver-local replay of the distributed gradient rounds — see the
    * bounded-driver-data comment in [[trainLogistic]]. Every operation is
    * the exact decimal/9-dp twin of the Spark expression tree: dot =
    * Σ (w_b as DECIMAL(25,9)) x c (exact, order-free), logit/p/g9 through
    * round9d, grad_b = Σ c x (g9 as DECIMAL(25,9)) (exact), update
    * w − (lr·grad)/N in the same IEEE tree. */
  private def trainLogisticLocal(
      rows: Array[org.apache.spark.sql.Row], nBuckets: Int, iters: Int,
      lr: Double, nDocs: Long, round9d: Double => Double): Array[Double] = {
    import java.math.{BigDecimal => JBD}
    val nd = rows.length
    val ys = new Array[Double](nd)
    val ns = new Array[Double](nd)
    val bss = new Array[Array[Int]](nd)
    val css = new Array[Array[Long]](nd)
    var i = 0
    while (i < nd) {
      val r = rows(i)
      ys(i) = r.getDouble(0)
      ns(i) = r.getLong(1).toDouble
      bss(i) = r.getSeq[Int](2).toArray
      css(i) = r.getSeq[Long](3).toArray
      i += 1
    }
    // the engine's double -> DECIMAL(25,9) cast: shortest-string valueOf,
    // HALF_UP to scale 9 (exactly what Cast does on the distributed path)
    def dec9(x: Double): JBD =
      JBD.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)
    val w = Array.fill(nBuckets)(0.0)
    val nD = nDocs.toDouble
    var it = 0
    while (it < iters && nDocs > 0L) {
      val w9 = w.map(dec9)
      val grad = Array.fill(nBuckets)(JBD.ZERO)
      var d = 0
      while (d < nd) {
        val bs = bss(d); val cs = css(d)
        // The distributed fold's per-step Add((38,9) acc, (36,9) term)
        // exceeds precision 38, so Spark's allowPrecisionLoss adjustment
        // lands each step on DECIMAL(38,8) — every partial sum rounds
        // HALF_UP to scale 8 before the explicit re-pin cast back to
        // (38,9). The local dot replays exactly that (probe-verified:
        // without the per-step setScale(8) the paths diverge 1e-9 on
        // round-2 dots). Fold order is the __bs array order (bucket-
        // ascending via array_sort), which this loop preserves.
        var dot = JBD.ZERO
        var j = 0
        while (j < bs.length) {
          dot = dot.add(w9(bs(j)).multiply(JBD.valueOf(cs(j))))
            .setScale(8, java.math.RoundingMode.HALF_UP)
          j += 1
        }
        val logit = round9d(dot.doubleValue() / ns(d))
        val p = round9d(1.0 / (1.0 + round9d(java.lang.Math.exp(-logit))))
        val g9 = dec9(round9d((p - ys(d)) / ns(d)))
        j = 0
        while (j < bs.length) {
          grad(bs(j)) = grad(bs(j)).add(JBD.valueOf(cs(j)).multiply(g9))
          j += 1
        }
        d += 1
      }
      var b = 0
      while (b < nBuckets) {
        w(b) = round9d(w(b) - (lr * grad(b).doubleValue()) / nD)
        b += 1
      }
      it += 1
    }
    w
  }

  private def weightsToDf(spark: org.apache.spark.sql.SparkSession,
      w: Array[Double]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      w.zipWithIndex.map { case (wt, b) =>
        org.apache.spark.sql.Row(b, wt) }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("weight",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** Collapse a [[trainLogistic]] weight table to the dense vector
    * [[hashClassifierScore]]'s `weights` parameter consumes (bounded
    * collect: nBuckets rows — model-sized, never a dataset). */
  def weightsOf(trained: DataFrame, nBuckets: Int): IndexedSeq[Double] = {
    val arr = new Array[Double](nBuckets)
    trained.select(col("bucket"), col("weight")).collect().foreach { r =>
      val b = r.getInt(0)
      require(b >= 0 && b < nBuckets,
        s"bucket $b out of range for nBuckets=$nBuckets")
      arr(b) = r.getDouble(1)
    }
    arr.toIndexedSeq
  }

  /** Binary confident joint (Northcutt et al. 2021, "Confident
    * Learning") — the label-noise estimator a curation pipeline runs on
    * a weakly-labeled corpus: using per-class mean self-confidence as
    * the class thresholds, each (given label y, confident prediction ŷ)
    * cell counts rows where the model is CONFIDENT in ŷ, and the
    * off-diagonal mass estimates the label-error rate. Per-class
    * thresholds t₊ = mean p over y=pos rows, t₋ = mean (1−p) over y=neg
    * rows; a row is confident-positive when p ≥ t₊, confident-negative
    * when 1−p ≥ t₋; rows confident in BOTH classes resolve to the
    * larger probability (ties → positive, the argmax convention), rows
    * confident in neither are excluded (the CL rule). One row:
    * (n, n_pos, n_neg, c_pp, c_pn, c_np, c_nn longs — c_xy = given x
    * predicted y, n_confident long, est_noise_rate double — the
    * off-diagonal share of confident rows, NULL when no row is
    * confident). NULL prob/label rows drop.
    *
    * Exactness: each threshold is decimal-sum/count (one division);
    * every cell decision is a comparison of identical doubles; the
    * noise rate is one integer division.
    *
    * 100 TB shape: one aggregation for the two thresholds (map-side
    * combinable), a 1-row broadcast back into a single counting pass —
    * two corpus scans, no window, no row join. */
  def confidentJointBinary(df: DataFrame, probCol: String,
      labelCol: String): DataFrame = {
    val base = df
      .filter(col(s"`$probCol`").isNotNull && col(s"`$labelCol`").isNotNull)
      .select(col(s"`$probCol`").cast("double").as("__p"),
        col(s"`$labelCol`").cast("boolean").as("__l"))
    val d9 = DecimalType(25, 9)
    val th = base.agg(
      sum(when(col("__l"), col("__p").cast(d9))).as("__sp"),
      sum(when(col("__l"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(!col("__l"), (lit(1.0) - col("__p")).cast(d9))).as("__sq"),
      sum(when(!col("__l"), 1L).otherwise(0L)).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L,
          col("__sp").cast("double") / col("n_pos").cast("double")).as("__tp"),
        when(col("n_neg") > 0L,
          col("__sq").cast("double") / col("n_neg").cast("double")).as("__tn"))
    val flagged = base.crossJoin(broadcast(th))
      .withColumn("__cp", col("__tp").isNotNull && col("__p") >= col("__tp"))
      .withColumn("__cn", col("__tn").isNotNull &&
        lit(1.0) - col("__p") >= col("__tn"))
      .withColumn("__yhat", // NULL = confident in neither
        when(col("__cp") && (!col("__cn") || col("__p") >= lit(1.0) - col("__p")),
          lit(true))
        .when(col("__cn"), lit(false)))
    // coalesce: empty input aggregates to NULL sums — report zero counts
    // (n=0) rather than a row of NULL counters
    flagged.agg(count(lit(1)).as("n"),
        coalesce(max(col("n_pos")), lit(0L)).as("n_pos"),
        coalesce(max(col("n_neg")), lit(0L)).as("n_neg"),
        coalesce(sum(when(col("__l") && col("__yhat") === true, 1L)
          .otherwise(0L)), lit(0L)).as("c_pp"),
        coalesce(sum(when(col("__l") && col("__yhat") === false, 1L)
          .otherwise(0L)), lit(0L)).as("c_pn"),
        coalesce(sum(when(!col("__l") && col("__yhat") === true, 1L)
          .otherwise(0L)), lit(0L)).as("c_np"),
        coalesce(sum(when(!col("__l") && col("__yhat") === false, 1L)
          .otherwise(0L)), lit(0L)).as("c_nn"))
      .withColumn("n_confident",
        col("c_pp") + col("c_pn") + col("c_np") + col("c_nn"))
      .withColumn("est_noise_rate",
        when(col("n_confident") > 0L,
          (col("c_pn") + col("c_np")).cast("double") /
            col("n_confident").cast("double")))
  }

  /** Leave-one-out target encoding with additive smoothing (the
    * high-cardinality-categorical feature used by every gradient-boosted
    * pipeline; Micci-Barreca 2001): each row's category is replaced by
    * (Σ_cat y − own y + m·prior) / (n_cat − 1 + m) — the category's
    * target mean EXCLUDING the row itself (no self-leakage) shrunk
    * toward the global prior by pseudo-count m. A singleton category
    * degrades exactly to the prior ((m·prior)/m — no special case).
    * Rows with a NULL category, and rows whose own target is NULL,
    * receive the smoothed mean WITHOUT the LOO subtraction (a value
    * that never entered the sums can't leak). Adds `outCol` (double,
    * 9 dp). The target is quantized to 9 dp before any sum, which
    * bounds its magnitude: |y| must be < 1e13 (DECIMAL(25,12)'s
    * integral capacity) and non-NaN/non-infinite — values past the
    * bound would silently cast to NULL under non-ANSI semantics and
    * take the NULL-target branch, so the encode RAISES on them
    * instead (a target that large is a data bug, not a feature).
    *
    * Exactness: per-category sums are exact decimal over the 9-dp
    * target; the prior and every encode are fixed IEEE trees of
    * correctly-rounded decimal→double casts, reported at 9 dp.
    *
    * 100 TB shape: ONE map-side-combinable aggregation to |categories|
    * rows, one broadcast-or-hash join back, a 1-row prior broadcast —
    * the corpus is scanned twice (stats + encode), never more. */
  def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String,
      smoothing: Double = 20.0, outCol: String = "te"): DataFrame = {
    require(smoothing > 0 && !smoothing.isNaN && !smoothing.isInfinity,
      s"smoothing must be finite and > 0, got $smoothing")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists in the input")
    (Seq("__te_y", "__te_sum", "__te_n", "__te_prior") intersect df.columns.toSeq)
      .foreach(c => throw new IllegalArgumentException(
        s"column name '$c' is reserved by targetEncodeLoo"))
    val cat = col(s"`$catCol`")
    val yRaw = col(s"`$targetCol`")
    val y9 = round(yRaw.cast(DecimalType(25, 12)), 9).cast(Dec)
    // |y| >= 1e13 (or NaN/inf) overflows the DECIMAL(25,12) quantization
    // to NULL under non-ANSI semantics and would silently take the
    // NULL-target branch — fail loudly instead (docstring contract)
    val base = df.withColumn("__te_y",
      when(yRaw.isNotNull && y9.isNull,
        raise_error(concat(
          lit(s"targetEncodeLoo: target '$targetCol' out of DECIMAL(25,12) " +
            "range (|y| must be < 1e13 and finite), got "),
          yRaw.cast("string"))).cast(Dec))
        .otherwise(y9))
    val stats = base.filter(cat.isNotNull && col("__te_y").isNotNull)
      .groupBy(cat.as("__te_cat"))
      .agg(sum(col("__te_y")).as("__te_sum"), count(lit(1)).as("__te_n"))
    val prior = base.filter(col("__te_y").isNotNull)
      .agg(round9(sum(col("__te_y")).cast("double") /
        count(lit(1)).cast("double")).as("__te_prior"))
    val joined = base
      .join(stats.withColumnRenamed("__te_cat", catCol), Seq(catCol), "left")
      .crossJoin(broadcast(prior))
    val known = col("__te_n").isNotNull
    val hasY = col("__te_y").isNotNull
    val sumD = col("__te_sum").cast("double")
    val enc =
      when(known && hasY,
        (sumD - col("__te_y").cast("double") +
          lit(smoothing) * col("__te_prior")) /
          ((col("__te_n") - 1L).cast("double") + lit(smoothing)))
      .when(known && !hasY,
        (sumD + lit(smoothing) * col("__te_prior")) /
          (col("__te_n").cast("double") + lit(smoothing)))
      .otherwise(col("__te_prior"))
    joined.withColumn(outCol, round9(enc))
      .drop("__te_y", "__te_sum", "__te_n", "__te_prior")
  }
}
