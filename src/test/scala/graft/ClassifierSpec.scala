package graft

import graft.operators.{Classifier, Scale}
import org.apache.spark.sql.functions._

class ClassifierSpec extends SparkSpecBase {
  import spark.implicits._

  test("feature counting: unigrams + bigrams, zero-feature docs keep NULL scores") {
    val docs = Seq(
      (1L, "Alpha beta gamma"), // 3 unigrams + 2 bigrams = 5 features
      (2L, "one"),              // 1 unigram, no bigram
      (3L, ""),                 // no features
      (4L, null.asInstanceOf[String])) // no features
      .toDF("doc_id", "text")
    val out = Classifier.hashClassifierScore(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_features", "logit", "prob")
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(out.map(r => (r._1, r._2)) === Seq((1L, 5L), (2L, 1L), (3L, 0L), (4L, 0L)))
    assert(out(0)._3.isDefined && out(0)._4.isDefined)
    assert(out(2)._3.isEmpty && out(2)._4.isEmpty && out(3)._3.isEmpty)
    // probs live strictly inside (0,1): |logit| <= 1 by construction
    out.flatMap(_._4).foreach(p => assert(p > 0.26 && p < 0.74, s"prob $p"))
  }

  test("single-token doc's logit is exactly its bucket weight") {
    val docs = Seq((7L, "hello")).toDF("doc_id", "text")
    val got = Classifier.hashClassifierScore(docs, "doc_id", "text")
      .select("logit").as[Double].head()
    val bucket = spark.sql(
      "SELECT pmod(cast(conv(substring(md5('clf:hello'), 1, 15), 16, 10) as long), 4096)")
      .as[Long].head()
    val w = Classifier.weightTable(spark, 4096, "clf")
      .filter(col("__bucket") === bucket).select("__w").as[Double].head()
    assert(math.abs(got - BigDecimal(w).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
  }

  test("case-insensitive, deterministic, weights bounded in [-1, 1)") {
    val docs = Seq((1L, "Foo BAR"), (2L, "foo bar")).toDF("doc_id", "text")
    val out = Classifier.hashClassifierScore(docs, "doc_id", "text")
      .select("logit").as[Double].collect().toSeq
    assert(out.distinct.size === 1, "case must not change the score")
    val ws = Classifier.weightTable(spark, 512, "s")
      .orderBy("__bucket").select("__w").as[Double].collect()
    assert(ws.length === 512 && ws.forall(w => w >= -1.0 && w < 1.0))
    // seeds decorrelate weight tables
    val ws2 = Classifier.weightTable(spark, 512, "other")
      .orderBy("__bucket").select("__w").as[Double].collect()
    assert(ws.toSeq !== ws2.toSeq)
    // the frame and the driver vector (what scoring actually folds into
    // the plan) must agree bit-for-bit — the oracle rebuilds the FRAME
    assert(ws.toSeq === Classifier.weightVector(512, "s"),
      "weightTable and weightVector diverged")
  }

  test("unigram-only mode drops bigram features") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val bi = Classifier.hashClassifierScore(docs, "doc_id", "text")
      .select("n_features").as[Long].head()
    val un = Classifier.hashClassifierScore(docs, "doc_id", "text", useBigrams = false)
      .select("n_features").as[Long].head()
    assert(bi === 5L && un === 3L)
  }

  test("trainLogistic: trained weights separate a planted quality/garbage mix") {
    // two disjoint planted vocabularies; a few shared filler words so the
    // separation must come from the DISCRIMINATIVE features, not from
    // every token being class-pure
    val good = (0 until 30).map(i =>
      (i.toLong, s"excellent thorough informative well written article the of $i", 1))
    val bad = (30 until 60).map(i =>
      (i.toLong, s"spamspam clickbait garbage junk buy cheap now the of $i", 0))
    val docs = (good ++ bad).toDF("doc_id", "text", "label")
    val nB = 512
    val trained = Classifier.trainLogistic(docs, "doc_id", "text", "label",
      nBuckets = nB, iters = 12, lr = 1.0)
    assert(trained.count() === nB.toLong)
    // score THROUGH hashClassifierScore with the trained vector — the
    // train/score feature maps must be the same map
    val w = Classifier.weightsOf(trained, nB)
    val scored = Classifier.hashClassifierScore(docs, "doc_id", "text",
        nBuckets = nB, weights = Some(w))
      .join(docs.select(col("doc_id"), col("label")), Seq("doc_id"))
      .select(col("label"), col("prob")).as[(Int, Double)].collect()
    val goodProbs = scored.filter(_._1 == 1).map(_._2)
    val badProbs = scored.filter(_._1 == 0).map(_._2)
    assert(goodProbs.length === 30 && badProbs.length === 30)
    assert(goodProbs.min > badProbs.max,
      s"planted mix must separate fully: min(good)=${goodProbs.min} " +
        s"max(bad)=${badProbs.max}")
    assert(goodProbs.min > 0.5 && badProbs.max < 0.5,
      "decision boundary must sit between the classes")
  }

  test("trainLogistic: deterministic across runs; gradient actually descends") {
    val docs = (0 until 20).map(i =>
      (i.toLong, if (i % 2 == 0) s"alpha beta gamma $i" else s"omega psi chi $i",
        i % 2)).toDF("doc_id", "text", "label")
    val a = Classifier.trainLogistic(docs, "doc_id", "text", "label",
      nBuckets = 64, iters = 5).orderBy("bucket")
      .as[(Int, Double)].collect().toSeq
    val b = Classifier.trainLogistic(docs, "doc_id", "text", "label",
      nBuckets = 64, iters = 5).orderBy("bucket")
      .as[(Int, Double)].collect().toSeq
    assert(a === b, "two runs must produce bit-identical weight tables")
    assert(a.exists(_._2 != 0.0), "training must move some weight")
    // more rounds separate at least as well on the training mix
    def sep(iters: Int): Double = {
      val t = Classifier.trainLogistic(docs, "doc_id", "text", "label",
        nBuckets = 64, iters = iters)
      val w = Classifier.weightsOf(t, 64)
      val s = Classifier.hashClassifierScore(docs, "doc_id", "text",
          nBuckets = 64, weights = Some(w))
        .join(docs.select(col("doc_id"), col("label")), Seq("doc_id"))
        .select(col("label"), col("prob")).as[(Int, Double)].collect()
      s.filter(_._1 == 1).map(_._2).min - s.filter(_._1 == 0).map(_._2).max
    }
    assert(sep(8) > sep(1), "more gradient rounds must widen the margin")
  }

  test("trainLogistic: driver-local rounds are bit-identical to the forced-distributed path") {
    // unicode + shared tokens + uneven doc lengths so decimal dot order
    // and the 9-dp rounding chain are actually exercised
    val docs = (0 until 40).map(i =>
      (i.toLong,
        if (i % 2 == 0) s"große qualität ausführlich 文章 gut $i the of"
        else s"spam billig kaufen 垃圾 jetzt $i the of and more words here",
        i % 2)).toDF("doc_id", "text", "label")
    def weights(d: org.apache.spark.sql.DataFrame): Seq[(Int, Double)] =
      Classifier.trainLogistic(d, "doc_id", "text", "label",
        nBuckets = 128, iters = 6, lr = 0.7)
        .orderBy("bucket").as[(Int, Double)].collect().toSeq
    def distributed(d: org.apache.spark.sql.DataFrame) =
      withConf(Scale.DriverLocalMaxRows, "0")(weights(d))
    val local = weights(docs) // 40 docs <= default cutoff -> driver rounds
    assert(local === distributed(docs),
      "local and distributed gradient rounds must emit bit-identical weights")
    assert(local.exists(_._2 != 0.0), "training must move some weight")
    // at a lowered cutoff N: N-1 and N docs train on the driver, N+1
    // distributed; each must match the forced-distributed weights
    val n = 12
    for (rows <- Seq(n - 1, n, n + 1)) {
      val d = docs.filter($"doc_id" < rows)
      assert(withConf(Scale.DriverLocalMaxRows, n.toString)(weights(d)) === distributed(d),
        s"$rows docs at cutoff $n")
    }
  }

  test("trainLogistic: the driver-local rounds refuse allowPrecisionLoss=false") {
    // the local dot replays the DECIMAL(38,8) step rounding that only
    // allowPrecisionLoss=true gives the distributed fold
    val docs = Seq((1L, "good long words", 1), (2L, "cheap spam now", 0))
      .toDF("doc_id", "text", "label")
    val e = intercept[IllegalArgumentException] {
      withConf("spark.sql.decimalOperations.allowPrecisionLoss", "false") {
        Classifier.trainLogistic(docs, "doc_id", "text", "label", nBuckets = 8)
      }
    }
    assert(e.getMessage.contains("allowPrecisionLoss"), e.getMessage)
  }

  test("trainLogistic: label validation and degenerate inputs") {
    // a label outside {0, 1} raises (data bug, not a class)
    val mangled = Seq((1L, "a b", 2)).toDF("doc_id", "text", "label")
    val e = intercept[Exception] {
      Classifier.trainLogistic(mangled, "doc_id", "text", "label", nBuckets = 8)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("must be 0 or 1"), msgs)
    // NULL labels/ids and zero-feature docs are excluded, not crashed on;
    // an effectively-empty training set returns the all-zero model
    val empty = Seq((1L, "", Some(1)), (2L, "x y", None), (3L, null: String, Some(0)))
      .toDF("doc_id", "text", "label")
    val t = Classifier.trainLogistic(empty, "doc_id", "text", "label", nBuckets = 8)
    assert(t.select("weight").as[Double].collect().forall(_ == 0.0))
    assert(t.count() === 8L)
  }

  test("confidentJointBinary: hand-computed joint with a planted label error") {
    // pos p={0.9,0.5} -> t+=0.7; neg p={0.2,0.4,0.95} -> t-=mean(0.8,0.6,0.05)
    // confident cells: 0.9->c_pp, 0.5->c_pn (1-p>=t-), 0.95->c_np (planted
    // error), 0.2/0.4->c_nn; noise = 2/5
    val df = Seq(
      (0.9, true), (0.5, true),
      (0.2, false), (0.4, false), (0.95, false)).toDF("p", "l")
    val r = graft.operators.Classifier.confidentJointBinary(df, "p", "l").head()
    assert(r.getAs[Long]("c_pp") === 1L)
    assert(r.getAs[Long]("c_pn") === 1L)
    assert(r.getAs[Long]("c_np") === 1L)
    assert(r.getAs[Long]("c_nn") === 2L)
    assert(r.getAs[Long]("n_confident") === 5L)
    assert(r.getAs[Double]("est_noise_rate") === 0.4)
  }

  test("confidentJointBinary: empty confident set reports NULL noise rate") {
    val empty = Seq.empty[(Double, Boolean)].toDF("p", "l")
    val r = graft.operators.Classifier.confidentJointBinary(empty, "p", "l").head()
    assert(r.getAs[Long]("n") === 0L)
    assert(r.getAs[Long]("n_confident") === 0L)
    assert(r.isNullAt(r.fieldIndex("est_noise_rate")))
  }

  test("confidentJointBinary: single-class input never counts the absent class") {
    // all-negative labels: t+ undefined (NULL), only confident-negatives
    val df = Seq((0.1, false), (0.3, false)).toDF("p", "l")
    val r = graft.operators.Classifier.confidentJointBinary(df, "p", "l").head()
    assert(r.getAs[Long]("n_pos") === 0L)
    assert(r.getAs[Long]("c_pp") === 0L && r.getAs[Long]("c_np") === 0L)
    assert(r.getAs[Long]("c_nn") >= 1L)
    assert(r.getAs[Double]("est_noise_rate") === 0.0)
  }

  test("targetEncodeLoo: LOO subtraction, prior shrinkage, NULL paths") {
    import graft.operators.Classifier
    val df = Seq(
      (1L, Option("a"), Option(10.0)),
      (2L, Option("a"), Option(20.0)),
      (3L, Option("a"), Option(30.0)),
      (4L, Option("b"), Option(100.0)),          // singleton: LOO -> prior
      (5L, Option("a"), Option.empty[Double]),   // NULL target: non-LOO mean
      (6L, Option.empty[String], Option(50.0)))  // NULL category: prior
      .toDF("id", "cat", "y")
    val out = Classifier.targetEncodeLoo(df, "cat", "y", smoothing = 2.0)
      .select("id", "te").as[(Long, Double)].collect().toMap
    // prior = mean(10,20,30,100,50) = 42; cat a: sum 60, n 3
    val prior = 42.0
    def q9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) === q9((60.0 - 10.0 + 2.0 * prior) / (2.0 + 2.0)))
    assert(out(2L) === q9((60.0 - 20.0 + 2.0 * prior) / 4.0))
    // singleton b: (100 - 100 + 2*42) / (0 + 2) = 42 = prior exactly
    assert(out(4L) === prior)
    // NULL target in a: (60 + 2*42) / (3 + 2)
    assert(out(5L) === q9((60.0 + 2.0 * prior) / 5.0))
    // NULL category: prior
    assert(out(6L) === prior)
    intercept[IllegalArgumentException] {
      Classifier.targetEncodeLoo(df.withColumnRenamed("y", "te"), "cat", "te")
    }
  }
}
