package graft

import graft.operators.Profile
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "a", "the quick brown fox"),
    (2L, "a", "THE  QUICK   brown fox"), // exact dup of 1 after normalization
    (3L, "a", "something else entirely here"),
    (4L, "b", "one two three"),
    (5L, "b", "")
  ).toDF("doc_id", "src", "text")

  test("volumes, dup rate and mean quality per group") {
    val out = Profile.corpusProfile(docs, "src", "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(out("a") === ((3L, 2L, 1.0 / 3.0, 12L)))
    assert(out("b") === ((2L, 2L, 0.0, 3L)))
  }

  test("mean quality equals the per-row qualityScore mean (decimal-summed)") {
    val perRow = docs.filter($"src" === "a")
      .select(TextFunctions.qualityScore($"text").cast("decimal(25,9)").as("q"))
      .agg((sum($"q").cast("double") / count(lit(1)).cast("double")).as("m"))
      .as[Double].head()
    val got = Profile.corpusProfile(docs, "src", "doc_id", "text")
      .filter($"src" === "a").select($"mean_quality").as[Double].head()
    assert(got === perRow)
  }

  test("null-text docs profile as empty text, not as a phantom 100% dup spike") {
    val d = Seq(
      (1L, "a", null.asInstanceOf[String]),
      (2L, "a", null.asInstanceOf[String]),
      (3L, "a", "real content here")).toDF("doc_id", "src", "text")
    val row = Profile.corpusProfile(d, "src", "doc_id", "text").head()
    assert(row.getLong(1) === 3L)            // n_docs
    // the two null docs collapse to ONE honest "empty" fingerprint group:
    // n_unique = 2 (empty + real), dup_frac = 1/3 — not the n_unique=1,
    // dup_frac=2/3 a null-skipping countDistinct would report
    assert(row.getLong(2) === 2L)
    assert(math.abs(row.getDouble(3) - 1.0 / 3.0) < 1e-12)
  }

  test("corrByGroup: perfect line, anti-line, and constant guards") {
    val df = Seq(
      ("up", 0L, 1.0), ("up", 1L, 3.0), ("up", 2L, 5.0),
      ("down", 0L, 9.0), ("down", 1L, 6.0), ("down", 2L, 3.0),
      ("flat", 0L, 4.0), ("flat", 1L, 4.0), ("flat", 2L, 4.0),
      ("onex", 5L, 1.0), ("onex", 5L, 2.0)).toDF("g", "x", "y")
    val out = Profile.corrByGroup(df, "g", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(out("up").getAs[Double]("r") - 1.0) < 1e-12)
    assert(math.abs(out("down").getAs[Double]("r") + 1.0) < 1e-12)
    assert(out("flat").isNullAt(out("flat").fieldIndex("r")), "constant y")
    assert(out("onex").isNullAt(out("onex").fieldIndex("r")), "constant x")
  }

  test("corrByGroup: hand-computed non-degenerate r") {
    // x = 0,1,2,3; y = 1,2,2,4 -> r = 0.9
    val df = Seq(("g", 0L, 1.0), ("g", 1L, 2.0), ("g", 2L, 2.0), ("g", 3L, 4.0))
      .toDF("g", "x", "y")
    val r = Profile.corrByGroup(df, "g", "x", "y").head().getAs[Double]("r")
    // n=4, sx=6, sxx=14, sy=9, syy=25, sxy=18
    // num = 72-54=18; vx = 56-36=20; vy = 100-81=19 -> 18/sqrt(380)
    assert(math.abs(r - 18.0 / math.sqrt(380.0)) < 1e-12)
  }

  test("giniByGroup: equality is 0, concentration approaches 1, negatives refuse") {
    val eq = Seq.tabulate(10)(i => ("e", i.toLong, 7.0)).toDF("g", "id", "v")
    val r1 = Profile.giniByGroup(eq, "g", "v").head()
    assert(math.abs(r1.getAs[Double]("gini")) < 1e-12)
    val conc = (Seq.tabulate(9)(i => ("c", i.toLong, 0.0)) :+ (("c", 9L, 100.0)))
      .toDF("g", "id", "v")
    val r2 = Profile.giniByGroup(conc, "g", "v").head()
    // G = (2*10*100 - 11*100) / (10*100) = 0.9
    assert(math.abs(r2.getAs[Double]("gini") - 0.9) < 1e-12)
    val neg = Seq(("n", 1L, -1.0), ("n", 2L, 5.0)).toDF("g", "id", "v")
    val r3 = Profile.giniByGroup(neg, "g", "v").head()
    assert(r3.isNullAt(r3.fieldIndex("gini")))
    val zero = Seq(("z", 1L, 0.0), ("z", 2L, 0.0)).toDF("g", "id", "v")
    val r4 = Profile.giniByGroup(zero, "g", "v").head()
    assert(r4.isNullAt(r4.fieldIndex("gini")), "all-zero total is undefined")
  }

  test("giniByGroup: hand-computed mixed distribution; tie order is value-stable") {
    // sorted v: 1,2,3,4 -> G = (2*(1+4+9+16) - 5*10)/(4*10) = 10/40 = 0.25
    val df = Seq(("g", 1L, 3.0), ("g", 2L, 1.0), ("g", 3L, 4.0), ("g", 4L, 2.0))
      .toDF("g", "id", "v")
    val r = Profile.giniByGroup(df, "g", "v").head()
    assert(math.abs(r.getAs[Double]("gini") - 0.25) < 1e-12)
    // duplicate values with shuffled ids: same gini regardless of tie order
    val ties1 = Seq(("g", 1L, 2.0), ("g", 2L, 2.0), ("g", 3L, 6.0)).toDF("g", "id", "v")
    val ties2 = Seq(("g", 2L, 2.0), ("g", 1L, 2.0), ("g", 3L, 6.0)).toDF("g", "id", "v")
    assert(Profile.giniByGroup(ties1, "g", "v").head().getAs[Double]("gini") ===
      Profile.giniByGroup(ties2, "g", "v").head().getAs[Double]("gini"))
  }

  test("spearmanByGroup: monotone-nonlinear is 1, discordant hand-case is 0.6") {
    val mono = Seq(("m", 1.0, 1.0), ("m", 2.0, 8.0), ("m", 3.0, 27.0),
      ("m", 4.0, 1000.0)).toDF("g", "x", "y")
    val r1 = Profile.spearmanByGroup(mono, "g", "x", "y").head()
    assert(r1.getAs[Double]("rho") === 1.0, "rank-perfect despite nonlinearity")
    // no-ties textbook: y ranks 2,1,4,3 -> rho = 1 - 6*4/(4*15) = 0.6
    val disc = Seq(("d", 1.0, 20.0), ("d", 2.0, 10.0), ("d", 3.0, 40.0),
      ("d", 4.0, 30.0)).toDF("g", "x", "y")
    val r2 = Profile.spearmanByGroup(disc, "g", "x", "y").head()
    assert(math.abs(r2.getAs[Double]("rho") - 0.6) < 1e-12)
  }

  test("spearmanByGroup: midrank ties and constant guards") {
    val tied = Seq(("t", 1.0, 10.0), ("t", 2.0, 20.0), ("t", 2.0, 20.0),
      ("t", 3.0, 40.0)).toDF("g", "x", "y")
    val r = Profile.spearmanByGroup(tied, "g", "x", "y").head()
    assert(r.getAs[Double]("rho") === 1.0, "identical tie structure is still 1")
    val const = Seq(("c", 1.0, 5.0), ("c", 2.0, 5.0)).toDF("g", "x", "y")
    val rc = Profile.spearmanByGroup(const, "g", "x", "y").head()
    assert(rc.isNullAt(rc.fieldIndex("rho")))
  }

  test("autocorrByGroup: periodic signal scores +1 at the period, -1 at half") {
    val series = (0L to 9L).map(x => ("s", x, (x % 2).toDouble)).toDF("g", "x", "y")
    val atPeriod = Profile.autocorrByGroup(series, "g", "x", "y", 2L).head()
    assert(atPeriod.getAs[Long]("n_pairs") === 8L)
    assert(atPeriod.getAs[Double]("r") === 1.0)
    val atHalf = Profile.autocorrByGroup(series, "g", "x", "y", 1L).head()
    assert(atHalf.getAs[Double]("r") === -1.0)
    intercept[IllegalArgumentException] {
      Profile.autocorrByGroup(series, "g", "x", "y", 0L)
    }
  }

  test("autocorrByGroup: no overlapping ticks emits no row; constant y is NULL") {
    val sparse = Seq(("s", 0L, 1.0), ("s", 5L, 2.0)).toDF("g", "x", "y")
    assert(Profile.autocorrByGroup(sparse, "g", "x", "y", 2L).count() === 0L)
    val const = (0L to 5L).map(x => ("c", x, 3.0)).toDF("g", "x", "y")
    val r = Profile.autocorrByGroup(const, "g", "x", "y", 1L).head()
    assert(r.isNullAt(r.fieldIndex("r")))
  }

  test("benfordProfile: digits, expectations, and sub-1/NULL filtering") {
    val df = (Seq(123.4, 19.0, 1.0, 250.0, 2.5, 0.5, 9000.0) :+
      Double.NaN).map(Tuple1(_)).toDF("v")
      .union(Seq(Tuple1(null.asInstanceOf[java.lang.Double])).toDF("v"))
    val out = Profile.benfordProfile(df, "v")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === (1L to 9L).toSet, "all nine digits present")
    // kept values: 123.4, 19, 1, 250, 2.5, 9000 -> digits 1,1,1,2,2,9
    assert(out(1L).getAs[Long]("n") === 3L)
    assert(out(2L).getAs[Long]("n") === 2L)
    assert(out(9L).getAs[Long]("n") === 1L)
    assert(out(3L).getAs[Long]("n") === 0L)
    assert(math.abs(out(1L).getAs[Double]("expected") - math.log10(2.0)) < 1e-8)
    val expSum = (1L to 9L).map(out(_).getAs[Double]("expected")).sum
    assert(math.abs(expSum - 1.0) < 1e-7, "Benford expectations sum to 1")
    assert(out(1L).getAs[Double]("frac") === 0.5)
  }

  test("trimmedMeanByGroup: hand-computed 10% trim with an outlier") {
    val df = ((1 to 9).map(v => ("g", v.toLong, v.toDouble)) :+
      (("g", 10L, 1000.0))).toDF("src", "id", "v")
    val r = Profile.trimmedMeanByGroup(df, "src", "v", 100000L).head()
    assert(r.getAs[Long]("n") === 10L)
    assert(r.getAs[Long]("n_tail") === 1L)
    assert(r.getAs[Double]("mean") === 104.5)
    assert(r.getAs[Double]("trimmed_mean") === 5.5) // mean of 2..9
    // 1 clamps to 2, 1000 clamps to 9: sum 55
    assert(r.getAs[Double]("winsorized_mean") === 5.5)
  }

  test("trimmedMeanByGroup: too-small groups trim nothing; NULLs drop") {
    val df = Seq(
      (Some("a"), 1L, Some(10.0)), (Some("a"), 2L, Some(50.0)),
      (Some("a"), 3L, None), (None, 4L, Some(9.0)),
      (Some("b"), 5L, Some(7.0))).toDF("src", "id", "v")
    val out = Profile.trimmedMeanByGroup(df, "src", "v", 100000L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("a", "b"))
    val a = out("a")
    assert(a.getAs[Long]("n") === 2L && a.getAs[Long]("n_tail") === 0L)
    assert(a.getAs[Double]("trimmed_mean") === 30.0)
    assert(a.getAs[Double]("winsorized_mean") === 30.0)
    intercept[IllegalArgumentException] {
      Profile.trimmedMeanByGroup(df, "src", "v", 500000L)
    }
  }

  test("null group values profile as their own row") {
    val withNull = docs.union(Seq((6L, null.asInstanceOf[String], "x y z"))
      .toDF("doc_id", "src", "text"))
    val out = Profile.corpusProfile(withNull, "src", "doc_id", "text")
    assert(out.count() === 3)
    assert(out.filter($"src".isNull).select($"n_docs").as[Long].head() === 1L)
  }

  test("reserved internal names are guarded") {
    intercept[IllegalArgumentException] {
      Profile.corpusProfile(docs.withColumn("__fp", lit(1)), "src", "doc_id", "text")
    }
  }

  test("sourceOverlap counts distinct shared shingle hashes per pair") {
    val d = Seq(
      (1L, "a", "one two three four"),
      (2L, "a", "one two three four"), // dup within a: must not double-count
      (3L, "b", "zero one two three five"),
      (4L, "c", "totally different content here now")
    ).toDF("doc_id", "src", "text")
    val out = Profile.sourceOverlap(d, "src", "doc_id", "text", shingleN = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // shared 3-grams a∩b: "one two three" + "two three four"? b has
    // "two three five" not four -> only "one two three" shared
    assert(out === Map(("a", "b") -> 1L))
  }

  test("sourceOverlap hot-shingle cap drops ubiquitous grams") {
    val d = Seq(
      (1L, "a", "common gram here"),
      (2L, "b", "common gram here"),
      (3L, "c", "common gram here"),
      (4L, "d", "rare pair text"),
      (5L, "e", "rare pair text")
    ).toDF("doc_id", "src", "text")
    val full = Profile.sourceOverlap(d, "src", "doc_id", "text", shingleN = 3)
    assert(full.count() === 4) // ab, ac, bc, de
    val capped = Profile.sourceOverlap(d, "src", "doc_id", "text", shingleN = 3,
      maxGroupsPerShingle = Some(2))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(capped === Set(("d", "e"))) // the 3-source gram is excluded
    intercept[IllegalArgumentException] {
      Profile.sourceOverlap(d, "src", "doc_id", "text", maxGroupsPerShingle = Some(1))
    }
  }

  test("pmiPairs: co-occurring terms beat independent ones, counts are document frequencies") {
    // x and y always together (4 docs); z independent in 2 of them + 2 alone
    val d = Seq(
      (1L, "x y"), (2L, "x y"), (3L, "x y z"), (4L, "x y z"),
      (5L, "z q"), (6L, "z q"), (7L, "q r"), (8L, "r s")
    ).toDF("doc_id", "text")
    val out = Profile.pmiPairs(d, "doc_id", "text",
      vocabSize = 10, minPairCount = 2, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val (cxy, pmiXy) = out(("x", "y"))
    assert(cxy === 4L) // doc frequency, not token count
    val (cxz, pmiXz) = out(("x", "z"))
    assert(cxz === 2L)
    // x,y perfectly correlated: pmi = ln(4*8/(4*4)) = ln 2; x,z: ln(2*8/(4*4)) = 0
    assert(math.abs(pmiXy - math.log(2.0)) < 1e-6)
    assert(math.abs(pmiXz) < 1e-9)
    assert(pmiXy > pmiXz)
  }

  test("pmiPairs: repeated tokens within one doc count once") {
    val d = Seq((1L, "a a a b"), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text")
    val out = Profile.pmiPairs(d, "doc_id", "text", vocabSize = 5,
      minPairCount = 1, topK = 5).collect()
    assert(out.length === 1 && out.head.getLong(2) === 3L)
  }

  test("lengthHistogram: integer-exact log2 buckets, negatives go to a null bucket") {
    val d = Seq(("a", 0L), ("a", 1L), ("a", 7L), ("a", 8L), ("b", 1023L),
      ("b", 1024L), ("b", -3L)).toDF("src", "len")
    val out = Profile.lengthHistogram(d, "src", "len")
      .collect().map(r => ((r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("a", 1)) === ((2L, 0L, 1L)))   // 0 and 1 share bucket len('0')=len('1')=1
    assert(out(("a", 3)) === ((1L, 7L, 7L)))
    assert(out(("a", 4)) === ((1L, 8L, 8L)))
    assert(out(("b", 10)) === ((1L, 1023L, 1023L)))
    assert(out(("b", 11)) === ((1L, 1024L, 1024L)))
    assert(out(("b", -1)) === ((1L, -3L, -3L)))
  }

  test("zipfFit: power-law corpus slopes near -1, uniform corpus near 0; degenerate groups drop") {
    // zipf group: token t_i appears round(1000/i) times -> ln f = ln 1000 - ln rank
    val zipf = (1 to 50).flatMap(i => Seq.fill(math.max(1000 / i, 1))(s"t$i"))
      .mkString(" ")
    // uniform group: every token 20 times -> flat line
    val flat = (1 to 50).flatMap(i => Seq.fill(20)(s"u$i")).mkString(" ")
    val df = Seq(("z", zipf), ("f", flat), ("one", "solo solo solo"))
      .toDF("src", "text")
    val fit = Profile.zipfFit(df, "src", "text", topN = 50)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(math.abs(fit("z")._2 + 1.0) < 0.05, s"zipf slope ${fit("z")._2} !~ -1")
    assert(math.abs(fit("f")._2) < 1e-9, s"flat slope ${fit("f")._2} !~ 0")
    assert(fit("z")._1 === 50L && fit("f")._1 === 50L)
    assert(!fit.contains("one"), "a single-term group has no line to fit")
  }

  test("calibrateByGroup: hand-checked median/MAD z and tie-stable pct_rank") {
    // group g: values 10,20,30,40,100 -> median = rank ceil(2.5)=3 -> 30;
    // deviations 20,10,0,10,70 sorted 0,10,10,20,70 -> MAD = 10
    // group c: constant values -> MAD 0 -> z_robust NULL for every row
    val df = (Seq((1L, "g", 10L), (2L, "g", 20L), (3L, "g", 30L),
      (4L, "g", 40L), (5L, "g", 100L)) ++
      (1 to 3).map(i => (10L + i, "c", 7L))).toDF("id", "src", "v")
    val byId = Profile.calibrateByGroup(df, "src", "v")
      .select("id", "pct_rank", "z_robust").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(byId(1L) === ((0.0, Some(-2.0))))
    assert(byId(3L) === ((0.5, Some(0.0))))
    assert(byId(5L) === ((1.0, Some(7.0))))
    (11L to 13L).foreach { i =>
      assert(byId(i) === ((0.0, None)), s"constant group row $i") }
  }

  test("calibrateByGroup: tied values share pct_rank; z is per-GROUP, not global") {
    val df = Seq((1L, "a", 5L), (2L, "a", 5L), (3L, "a", 9L),
      (4L, "b", 1000L), (5L, "b", 2000L), (6L, "b", 3000L)).toDF("id", "src", "v")
    val byId = Profile.calibrateByGroup(df, "src", "v")
      .select("id", "pct_rank", "z_robust").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(byId(1L)._1 === byId(2L)._1, "ties share percent_rank")
    // group b: median 2000, deviations 1000,0,1000 sorted -> MAD 1000
    assert(byId(4L)._2 === Some(-1.0))
    assert(byId(6L)._2 === Some(1.0))
  }

  test("iqrOutlierStatsByGroup: hand-computed Tukey fences and outlier counts") {
    // g: 1..8 plus 100 -> n=9, r25 = ceil(2.25)=3 -> q25=3; r75 = ceil(6.75)=7
    // -> q75=7; iqr=4; fences [-3, 13]; 100 is the single high outlier
    val df = ((1 to 8).map(v => ("g", v.toDouble)) :+ ("g", 100.0)) ++
      Seq(("c", 5.0), ("c", 5.0))
    val got = Profile.iqrOutlierStatsByGroup(df.toDF("g", "v"), "g", "v")
      .select("g", "n", "q25", "q75", "iqr", "lo_fence", "hi_fence",
        "n_low", "n_high", "outlier_frac")
      .as[(String, Long, Double, Double, Double, Double, Double, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("g") === (("g", 9L, 3.0, 7.0, 4.0, -3.0, 13.0, 0L, 1L, 1.0 / 9.0)))
    // a constant group has zero IQR and zero outliers
    assert(got("c") === (("c", 2L, 5.0, 5.0, 0.0, 5.0, 5.0, 0L, 0L, 0.0)))
  }

  test("lorenzCurveByGroup: value-atomic decile cuts, monotone shares, endpoint exactness") {
    // g: values 1..4, each once -> n=4, total=10; quartile points land on
    // each value: shares 1/10, 3/10, 6/10, 10/10
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0),
      ("t", 5.0), ("t", 5.0)).toDF("g", "v")
    val got = Profile.lorenzCurveByGroup(df, "g", "v", nPoints = 4)
      .select("g", "point", "target_rank", "cum_count", "pop_share", "value_share")
      .as[(String, Int, Long, Long, Double, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    assert(got("g") === Seq(
      ("g", 1, 1L, 1L, 0.25, 0.1), ("g", 2, 2L, 2L, 0.5, 0.3),
      ("g", 3, 3L, 3L, 0.75, 0.6), ("g", 4, 4L, 4L, 1.0, 1.0)))
    // tie mass is value-atomic: both rows of value 5 fold into every cut
    assert(got("t").map(p => (p._4, p._6)) === Seq(
      (2L, 1.0), (2L, 1.0), (2L, 1.0), (2L, 1.0)))
    // shares never decrease and end at exactly 1.0
    for ((_, pts) <- got) {
      val vs = pts.map(_._6)
      assert(vs.zip(vs.tail).forall { case (a, b) => b >= a })
      assert(vs.last === 1.0)
    }
  }

  test("modeByGroup: plurality value, ties break to the smallest value") {
    val df = Seq(
      ("g", "en"), ("g", "en"), ("g", "de"),
      ("t", "b"), ("t", "a"), ("t", "b"), ("t", "a"),   // tie a/b -> a
      (null.asInstanceOf[String], "x")).toDF("g", "v")
    val got = Profile.modeByGroup(df, "g", "v")
      .select("g", "n", "mode", "mode_count", "mode_share")
      .as[(String, Long, String, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("g") === (("g", 3L, "en", 2L, 2.0 / 3.0)))
    assert(got("t") === (("t", 4L, "a", 2L, 0.5)))
    assert(got.size === 2, "null group drops")
  }

  test("fixedWidthHistogramByGroup: equal intervals, hi clamps into the last bin, constant group") {
    val df = (0 to 8).map(v => ("g", v.toDouble)) ++ Seq(("c", 5.0), ("c", 5.0))
    val got = Profile.fixedWidthHistogramByGroup(
        df.toDF("g", "v"), "g", "v", nBins = 4)
      .select("g", "bin", "bin_lo", "bin_hi", "count")
      .as[(String, Int, Double, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // g: [0,8] in 4 bins of width 2 -> 0,1 | 2,3 | 4,5 | 6,7,8 (hi clamps)
    assert(got(("g", 0)) === (("g", 0, 0.0, 2.0, 2L)))
    assert(got(("g", 1)) === (("g", 1, 2.0, 4.0, 2L)))
    assert(got(("g", 2)) === (("g", 2, 4.0, 6.0, 2L)))
    assert(got(("g", 3)) === (("g", 3, 6.0, 8.0, 3L)))
    // constant group collapses to bin 0 with lo = hi
    assert(got(("c", 0)) === (("c", 0, 5.0, 5.0, 2L)))
    assert(got.size === 5)
  }

  test("robustStats: hand-computed winsorized and trimmed means on 1..20") {
    // n=20, p5 cut rank ceil(1)=1 -> lo=1; p95 rank ceil(19)=19 -> hi=19
    val df = ((1 to 20).map(i => (Some("g"), Some(i.toDouble))) :+
      ((Some("g"), Option.empty[Double]))) // null value dropped
      .toDF("g", "v")
    val r = Profile.robustStats(df, "g", "v")
      .select("n", "mean", "lo_cut", "hi_cut", "winsor_mean", "trimmed_mean", "n_kept")
      .as[(Long, Double, Double, Double, Double, Double, Long)].head()
    assert(r._1 === 20L)
    assert(r._2 === 10.5)
    assert((r._3, r._4) === ((1.0, 19.0)))
    assert(r._5 === 10.45) // 20 clamps to 19: (190 + 19) / 20
    assert(r._6 === 10.0)  // 1..19 kept
    assert(r._7 === 19L)
  }

  test("robustStats: a single outlier moves the mean but not the robust means") {
    val base = (1 to 99).map(i => ("g", 100.0))
    val withOutlier = base :+ (("g", 1e9))
    val r = Profile.robustStats(withOutlier.toDF("g", "v"), "g", "v")
      .select("mean", "winsor_mean", "trimmed_mean")
      .as[(Double, Double, Double)].head()
    assert(r._1 > 1e6, "raw mean dragged by the outlier")
    assert(r._2 === 100.0 && r._3 === 100.0, "robust means unmoved")
  }

  test("tokenDivergence: hand-computed smoothed KL/JS; identity is zero") {
    // A = "a a b", B = "a b b": V=2, N=3 each; p=(0.6,0.4), q=(0.4,0.6)
    val a = Seq(Tuple1("a a b")).toDF("text")
    val b = Seq(Tuple1("a b b")).toDF("text")
    val r = Profile.tokenDivergence(a, b, "text")
      .select("vocab_size", "n_tokens_a", "n_tokens_b", "kl_ab", "kl_ba", "js")
      .as[(Long, Long, Long, Double, Double, Double)].head()
    assert((r._1, r._2, r._3) === ((2L, 3L, 3L)))
    assert(math.abs(r._4 - 0.0810930216) < 1e-9)
    assert(math.abs(r._5 - 0.0810930216) < 1e-9) // symmetric fixture
    assert(math.abs(r._6 - 0.0201355138) < 1e-9)
    val same = Profile.tokenDivergence(a, a, "text")
      .select("kl_ab", "kl_ba", "js").as[(Double, Double, Double)].head()
    assert(same === ((0.0, 0.0, 0.0)))
  }

  test("tokenDivergence: JS is symmetric and bounded by ln 2; KL is not symmetric") {
    val a = Seq(Tuple1("x x x y zebra"), Tuple1("x common")).toDF("text")
    val b = Seq(Tuple1("y y y common q q"), Tuple1("r s t")).toDF("text")
    val ab = Profile.tokenDivergence(a, b, "text")
      .select("kl_ab", "kl_ba", "js").as[(Double, Double, Double)].head()
    val ba = Profile.tokenDivergence(b, a, "text")
      .select("kl_ab", "kl_ba", "js").as[(Double, Double, Double)].head()
    assert(ab._3 === ba._3, "JS must be symmetric")
    assert(ab._1 === ba._2 && ab._2 === ba._1, "KL swaps with its arguments")
    assert(ab._1 !== ab._2, "KL is not symmetric on an asymmetric fixture")
    assert(ab._3 > 0.0 && ab._3 < math.log(2.0), "0 < JS < ln 2")
  }

  // --------------------------------------------------------------- keySkew

  test("keySkew: counts, order statistics, shares, and HHI on a hand fixture") {
    // a x5, b x3, c x1, null x1 -> counts sorted [1,1,3,5]
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c", null)).toDF("k")
    val r = Profile.keySkew(df, "k").head()
    assert(r.getLong(0) === 10L && r.getLong(1) === 4L && r.getLong(2) === 5L)
    assert(r.getLong(3) === 1L, "p50 = ceil(0.5*4)=2nd -> 1")
    assert(r.getLong(4) === 5L, "p99 = ceil(0.99*4)=4th -> 5")
    assert(r.getDouble(5) === 0.5)           // max_share
    assert(r.getDouble(6) === 1.0)           // topK=10 covers everything
    assert(r.getDouble(7) === 0.36)          // (25+9+1+1)/100
    val top2 = Profile.keySkew(df, "k", topK = 2).head()
    assert(top2.getDouble(6) === 0.8)        // 5+3 of 10
  }

  test("keySkew: a uniform key scores HHI 1/n_keys; a constant key scores 1") {
    val uniform = (1 to 100).map(i => s"k${i % 20}").toDF("k")
    val ru = Profile.keySkew(uniform, "k").head()
    assert(math.abs(ru.getDouble(7) - 1.0 / 20.0) < 1e-12)
    val constant = Seq.fill(50)("same").toDF("k")
    val rc = Profile.keySkew(constant, "k").head()
    assert(rc.getDouble(7) === 1.0 && rc.getDouble(5) === 1.0 && rc.getLong(1) === 1L)
  }

  // ---------------------------------------------------------- tokenEntropy

  test("tokenEntropy: uniform two-token group = ln 2; single-token group = 0") {
    val df = Seq(("g1", "a a b b"), ("g2", "x x x")).toDF("src", "text")
    val m = Profile.tokenEntropy(df, "src", "text").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m("g1")._1 === 4L && m("g1")._2 === 2L)
    assert(math.abs(m("g1")._3 - math.log(2.0)) < 1e-6)
    assert(m("g2")._1 === 3L && m("g2")._2 === 1L)
    assert(math.abs(m("g2")._3) < 1e-9, "single-token entropy ~ 0 (decimal quantization ulp)")
  }

  test("tokenEntropy: empty-text groups emit no row; ttr = vocab/tokens") {
    val df = Seq(("g1", "a b c d"), ("g2", ""), ("g3", null.asInstanceOf[String]))
      .toDF("src", "text")
    val rows = Profile.tokenEntropy(df, "src", "text").collect()
    assert(rows.map(_.getString(0)).toSet === Set("g1"))
    assert(rows.head.getDouble(4) === 1.0)
  }

  // ----------------------------------------------------------- ksStatistic

  test("ksStatistic: hand fixture sup=1/3 at the smallest attaining value; identity is 0; disjoint is 1") {
    val a = Seq(1L, 2L, 3L).toDF("v")
    val b = Seq(2L, 3L, 4L).toDF("v")
    val r = Profile.ksStatistic(a, b, "v").head()
    assert(r.getLong(0) === 3L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 1.0 / 3.0 && r.getLong(3) === 1L)
    val same = Profile.ksStatistic(a, a, "v").head()
    assert(same.getDouble(2) === 0.0)
    val disjoint = Profile.ksStatistic(
      Seq(1L, 2L).toDF("v"), Seq(10L, 11L).toDF("v"), "v").head()
    assert(disjoint.getDouble(2) === 1.0 && disjoint.getLong(3) === 2L)
  }

  test("ksStatistic: detects a location shift that means/medians of a mixed pair could hide") {
    val rnd = new scala.util.Random(5)
    val base = (1 to 500).map(_ => (rnd.nextInt(100) + 1).toLong)
    val shifted = base.map(_ + 30L)
    val ks = Profile.ksStatistic(base.toDF("v"), shifted.toDF("v"), "v")
      .head().getDouble(2)
    assert(ks > 0.2, s"a 30-unit shift on a 100-wide support must show: $ks")
    // null values drop; empty side yields NULL ks
    val withNulls = (base.map(Option(_)) ++ Seq(None: Option[Long])).toDF("v")
    assert(Profile.ksStatistic(withNulls, shifted.toDF("v"), "v")
      .head().getLong(0) === 500L)
    val empty = Seq.empty[Long].toDF("v")
    assert(Profile.ksStatistic(base.toDF("v"), empty, "v").head().isNullAt(2))
  }

  // ---------------------------------------------------------- trendByGroup

  test("trendByGroup: recovers an exact line; recentering makes intercept the value at x_min") {
    val df = Seq(("g", 100L, 1.0), ("g", 101L, 3.0), ("g", 102L, 5.0)).toDF("grp", "x", "y")
    val r = Profile.trendByGroup(df, "grp", "x", "y").head()
    assert(r.getLong(1) === 3L && r.getLong(2) === 100L)
    assert(r.getDouble(3) === 2.0 && r.getDouble(4) === 1.0)
  }

  test("trendByGroup: one distinct x yields NULL slope and the mean as intercept; nulls dropped") {
    val df = Seq(("g", Some(5L), 10.0), ("g", Some(5L), 20.0),
      ("g", None: Option[Long], 99.0)).toDF("grp", "x", "y")
    val r = Profile.trendByGroup(df, "grp", "x", "y").head()
    assert(r.getLong(1) === 2L && r.isNullAt(3) && r.getDouble(4) === 15.0)
  }

  test("trendByGroup: groups fit independently") {
    val df = Seq(("up", 0L, 0.0), ("up", 1L, 2.0),
      ("down", 0L, 10.0), ("down", 1L, 8.0)).toDF("grp", "x", "y")
    val m = Profile.trendByGroup(df, "grp", "x", "y").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(m("up") === 2.0 && m("down") === -2.0)
  }

  // --- Heaps'-law fit ---------------------------------------------------------

  test("heapsFit: counts docs, tokens, vocab and first occurrences exactly") {
    val df = Seq(
      (1L, "a b a"),    // ct=3, cv=2
      (2L, ""),         // empty doc still a prefix point (ct stays 3)
      (3L, "b c"),      // ct=5, cv=3
      (4L, "c a d"))    // ct=8, cv=4
      .toDF("doc_id", "text")
    val r = Profile.heapsFit(df, "doc_id", "text").head()
    assert(r.getAs[Long]("n_docs") === 4L)
    assert(r.getAs[Long]("n_points") === 4L) // all prefixes have ct > 0
    assert(r.getAs[Long]("n_tokens") === 8L)
    assert(r.getAs[Long]("vocab") === 4L)
    assert(!r.isNullAt(r.fieldIndex("beta")))
  }

  test("heapsFit: pure repetition gives beta 0 (vocab saturates at once)") {
    // V is constant 1 across all prefixes -> y constant -> slope 0
    val df = Seq((1L, "z"), (2L, "z z"), (3L, "z z z")).toDF("doc_id", "text")
    val r = Profile.heapsFit(df, "doc_id", "text").head()
    assert(r.getAs[Long]("vocab") === 1L)
    assert(r.getAs[Double]("beta") === 0.0)
    assert(r.getAs[Double]("ln_k") === 0.0) // ln V = ln 1 = 0
  }

  test("heapsFit: all-new tokens fit beta 1") {
    // V(n) = n exactly -> y = x -> slope 1, intercept 0
    val df = Seq((1L, "t1"), (2L, "t2 t3"), (3L, "t4 t5 t6")).toDF("doc_id", "text")
    val r = Profile.heapsFit(df, "doc_id", "text").head()
    assert(math.abs(r.getAs[Double]("beta") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("ln_k")) < 1e-9)
  }

  test("heapsFit: single distinct x yields NULL fit, counts still exact") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    val r = Profile.heapsFit(df, "doc_id", "text").head()
    assert(r.getAs[Long]("n_points") === 1L)
    assert(r.isNullAt(r.fieldIndex("beta")))
    assert(r.isNullAt(r.fieldIndex("ln_k")))
  }

  // --- diversity indices ------------------------------------------------------

  test("diversityByGroup: uniform mix maximizes evenness, monoculture zeroes it") {
    val df = Seq(
      ("even", "en"), ("even", "fr"), ("even", "de"),
      ("mono", "en"), ("mono", "en"), ("mono", "en")).toDF("src", "lang")
    val m = Profile.diversityByGroup(df, "src", "lang").collect()
      .map(r => r.getAs[String]("src") -> r).toMap
    // uniform over 3: H = ln 3, J = 1, simpson = 3*(1/9) = 1/3
    assert(math.abs(m("even").getAs[Double]("shannon") - math.log(3)) < 1e-8)
    assert(m("even").getAs[Double]("evenness") === 1.0)
    assert(math.abs(m("even").getAs[Double]("simpson") - 1.0 / 3.0) < 1e-15)
    // monoculture: H = 0, simpson = 1, evenness undefined (richness 1)
    assert(m("mono").getAs[Double]("shannon") === 0.0)
    assert(m("mono").getAs[Double]("simpson") === 1.0)
    assert(m("mono").isNullAt(m("mono").fieldIndex("evenness")))
  }

  test("diversityByGroup: hand-computed skewed mix") {
    // 3 en + 1 fr: simpson = (9 + 1)/16 = 0.625; richness 2
    val df = (Seq.fill(3)("en") :+ "fr").map(("s", _)).toDF("src", "lang")
    val r = Profile.diversityByGroup(df, "src", "lang").head()
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Long]("richness") === 2L)
    assert(r.getAs[Double]("simpson") === 0.625)
    val h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(r.getAs[Double]("shannon") - h) < 1e-8)
  }

  test("diversityByGroup: NULL keys drop, NULL groups drop") {
    val df = Seq(
      (Some("s"), Some("en")), (Some("s"), None), (None, Some("fr")))
      .toDF("src", "lang")
    val rows = Profile.diversityByGroup(df, "src", "lang").collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[Long]("n") === 1L)
  }

  test("quantilesByGroup: exact nearest-rank on 1..100 and on tied values") {
    val a = (1 to 100).map(i => ("a", i.toLong))
    val b = Seq(("b", 1L), ("b", 1L), ("b", 1L), ("b", 2L))
    val out = Profile.quantilesByGroup((a ++ b).toDF("g", "v"), "g", "v",
      Seq(0.25, 0.5, 0.9, 0.99)).orderBy("g").collect()
    val ra = out(0)
    assert(ra.getAs[Long]("n") === 100L && ra.getAs[Long]("v_min") === 1L)
    assert(ra.getAs[Long]("q25") === 25L && ra.getAs[Long]("q50") === 50L)
    assert(ra.getAs[Long]("q90") === 90L && ra.getAs[Long]("q99") === 99L)
    val rb = out(1) // n=4: q50 rank 2 -> 1, q99 rank 4 -> 2
    assert(rb.getAs[Long]("q50") === 1L && rb.getAs[Long]("q99") === 2L)
    assert(rb.getAs[Long]("v_max") === 2L)
  }

  test("quantilesByGroup: NULLs drop; non-whole-percent probabilities refuse") {
    val df = Seq(("a", Some(1L)), ("a", None), (null, Some(5L)))
      .toDF("g", "v")
    val r = Profile.quantilesByGroup(df, "g", "v", Seq(0.5)).collect()
    assert(r.length === 1 && r(0).getAs[Long]("n") === 1L)
    intercept[IllegalArgumentException] {
      Profile.quantilesByGroup(df, "g", "v", Seq(0.505))
    }
  }

  test("fdStrength: g3 error is the minimal deletion fraction") {
    // a=1 -> {x:3, y:1}; a=2 -> {z:2}: violations = 1, n = 6
    val df = Seq((1, "x"), (1, "x"), (1, "x"), (1, "y"), (2, "z"), (2, "z"))
      .toDF("a", "b")
    val r = Profile.fdStrength(df, "a", "b").head()
    assert(r.getAs[Long]("n") === 6L)
    assert(r.getAs[Long]("n_a_values") === 2L)
    assert(r.getAs[Long]("n_violations") === 1L)
    assert(r.getAs[Double]("g3_error") === 1.0 / 6.0)
    assert(r.getAs[Double]("fd_strength") === 5.0 / 6.0)
  }

  test("fdStrength: a perfect dependency scores 1.0; empty input is NULL-scored") {
    val perfect = Seq((1, "x"), (2, "y"), (2, "y")).toDF("a", "b")
    assert(Profile.fdStrength(perfect, "a", "b").head()
      .getAs[Double]("fd_strength") === 1.0)
    val empty = Seq.empty[(Int, String)].toDF("a", "b")
    val r = Profile.fdStrength(empty, "a", "b").head()
    assert(r.getAs[Long]("n") === 0L)
    assert(r.isNullAt(r.fieldIndex("g3_error")))
  }

  test("keyOverlap: containments and jaccard on hand sets; FK direction reads") {
    val a = Seq(1, 2, 3, 4, 2, 3).toDF("ka") // distinct {1,2,3,4}
    val b = Seq(3, 4, 5).toDF("kb")          // distinct {3,4,5}
    val r = Profile.keyOverlap(a, "ka", b, "kb").head()
    assert(r.getAs[Long]("n_a") === 4L && r.getAs[Long]("n_b") === 3L)
    assert(r.getAs[Long]("n_shared") === 2L)
    assert(r.getAs[Double]("containment_a") === 0.5)
    assert(r.getAs[Double]("containment_b") === 2.0 / 3.0)
    assert(r.getAs[Double]("jaccard") === 0.4)
    // perfect FK: every fact key exists in the dim
    val fk = Profile.keyOverlap(Seq(1, 1, 2).toDF("k"), "k",
      Seq(1, 2, 3).toDF("k"), "k").head()
    assert(fk.getAs[Double]("containment_a") === 1.0)
    assert(fk.getAs[Double]("containment_b") < 1.0)
  }

  test("schemaProfile: one row per column with exact null/distinct/top stats") {
    val df = Seq(
      (Some("a"), 1L), (Some("a"), 2L), (Some("b"), 2L), (None, 3L))
      .toDF("s", "k")
    val rows = Profile.schemaProfile(df, Seq("s", "k"))
      .orderBy("column").collect()
      .map(r => r.getAs[String]("column") -> r).toMap
    val s = rows("s")
    assert(s.getAs[Long]("n_rows") === 4L && s.getAs[Long]("n_null") === 1L)
    assert(s.getAs[Long]("n_distinct") === 2L)
    assert(s.getAs[String]("min_value") === "a" &&
      s.getAs[String]("max_value") === "b")
    assert(s.getAs[String]("top_value") === "a" &&
      s.getAs[Long]("top_count") === 2L)
    val k = rows("k")
    assert(k.getAs[Long]("n_null") === 0L && k.getAs[Long]("n_distinct") === 3L)
    // top tie (1:1, 2:2, 3:1) -> 2 wins by count; min/max are STRING order
    assert(k.getAs[String]("top_value") === "2")
    assert(k.getAs[String]("min_value") === "1" &&
      k.getAs[String]("max_value") === "3")
  }

  test("schemaProfile: all-null column keeps NULL top and n_distinct 0") {
    val df = Seq((Option.empty[String], 1), (Option.empty[String], 2))
      .toDF("s", "k")
    val r = Profile.schemaProfile(df, Seq("s")).head()
    assert(r.getAs[Long]("n_null") === 2L && r.getAs[Long]("n_distinct") === 0L)
    assert(r.isNullAt(r.fieldIndex("top_value")))
    assert(r.isNullAt(r.fieldIndex("min_value")))
  }

  test("quantileBinsByGroup: value-atomic bins, ties never split") {
    // g: values 1..8 once each, 4 bins -> 2 per bin
    val a = (1 to 8).map(i => ("g", i.toLong))
    // h: value 7 appears 5 times of 6 rows -> its whole block lands in
    // one bin (ceil(6*4/6)=4), the lone 1 in bin 1
    val b = Seq(("h", 1L)) ++ Seq.fill(5)(("h", 7L))
    val rows = graft.operators.Profile.quantileBinsByGroup(
      (a ++ b).toDF("g", "v"), "g", "v", nBins = 4).collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("v")) -> r.getAs[Int]("bin"))
    val m = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
    (1 to 8).foreach { i =>
      assert(m(("g", i.toLong)) === Seq((i + 1) / 2), s"value $i") }
    assert(m(("h", 1L)) === Seq(1))
    assert(m(("h", 7L)) === Seq(4))
    assert(rows.count(_._1._1 == "h") === 6, "row-level output keeps duplicates")
  }

  test("giniByGroup: hand-computed coefficients, tie-exact, constant group is 0") {
    import graft.operators.Profile
    // a: 1,2,3,4 -> G = Sum((2i-n-1)x)/(n*Sumx) = (-3-2+3+12)/40 = 0.25
    // b: constant -> 0; c: 1,1,2 (ties) -> 2/12 = 0.166666667
    // d: a negative value -> gini NULL, rows stay visible in n/total
    val df = (Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 5L), ("b", 5L), ("b", 5L),
      ("c", 1L), ("c", 1L), ("c", 2L),
      ("d", -7L), ("d", 1L), ("d", 3L))).toDF("g", "v")
    val got = Profile.giniByGroup(df, "g", "v")
      .select("g", "n", "total", "gini")
      .as[(String, Long, Double, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") === ((4L, 10.0, Some(0.25))))
    assert(got("b") === ((3L, 15.0, Some(0.0))))
    assert(got("c") === ((3L, 4.0, Some(0.166666667))))
    assert(got("d") === ((3L, -3.0, None)))
    // all-zero group: total 0 -> gini NULL
    val z = Profile.giniByGroup(Seq(("z", 0L)).toDF("g", "v"), "g", "v").head()
    assert(z.isNullAt(z.fieldIndex("gini")))
  }

  test("weightedQuantilesByGroup: mass-weighted picks; unit weights equal quantilesByGroup") {
    import graft.operators.Profile
    val df = Seq(("g", 1L, 1.0), ("g", 2L, 1.0), ("g", 3L, 8.0))
      .toDF("g", "v", "w")
    val r = Profile.weightedQuantilesByGroup(df, "g", "v", "w", Seq(0.5, 0.9))
      .head()
    assert(r.getAs[Long]("n") === 3L && r.getAs[Double]("w_total") === 10.0)
    assert(r.getAs[Long]("q50") === 3L && r.getAs[Long]("q90") === 3L)
    // q10 lands on the first value: cum 1*1e6 >= 10*1e5
    val r2 = Profile.weightedQuantilesByGroup(df, "g", "v", "w", Seq(0.1))
      .head()
    assert(r2.getAs[Long]("q10") === 1L)
    // unit weights reduce to the unweighted nearest-rank quantiles
    val u = (1 to 10).map(i => ("g", i.toLong, 1.0)).toDF("g", "v", "w")
    val wq = Profile.weightedQuantilesByGroup(u, "g", "v", "w", Seq(0.5, 0.99))
      .select("g", "q50", "q99").as[(String, Long, Long)].head()
    val eq = Profile.quantilesByGroup(u, "g", "v", Seq(0.5, 0.99))
      .select("g", "q50", "q99").as[(String, Long, Long)].head()
    assert(wq === eq)
    // zero/negative/null-weight rows carry no mass
    val dirty = Seq(("g", 1L, Some(0.0)), ("g", 2L, Some(-1.0)),
      ("g", 3L, None), ("g", 4L, Some(2.0))).toDF("g", "v", "w")
    val d = Profile.weightedQuantilesByGroup(dirty, "g", "v", "w", Seq(0.5))
      .head()
    assert(d.getAs[Long]("n") === 1L && d.getAs[Long]("q50") === 4L)
  }

  test("hillTailIndex: hand-computed H over top-k logs; tie/short-group guards") {
    import graft.operators.Profile
    def l9(x: Double): Double = BigDecimal(math.log(x))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val df = ((1 to 10).map(i => ("g", i.toLong)) ++
      (1 to 4).map(_ => ("tie", 7L)) ++
      (1 to 3).map(i => ("short", i.toLong))).toDF("g", "v")
    val got = Profile.hillTailIndex(df, "g", "v", k = 3)
      .collect().map(r => r.getString(0) -> r).toMap
    // g: top 3 = 10,9,8 | ref 7; per-term (ln xi - ln ref) quantized 9dp
    def t9(x: Double): Double = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val h = (t9(l9(10) - l9(7)) + t9(l9(9) - l9(7)) + t9(l9(8) - l9(7))) / 3.0
    val rg = got("g")
    assert(rg.getAs[Long]("n") === 10L && rg.getAs[Int]("k") === 3)
    assert(math.abs(rg.getAs[Double]("h_mean") - h) < 1e-12)
    assert(math.abs(rg.getAs[Double]("hill_alpha") - 1.0 / h) < 1e-9)
    // all-tied top: H = 0 -> alpha NULL
    val rt = got("tie")
    assert(rt.getAs[Double]("h_mean") === 0.0)
    assert(rt.isNullAt(rt.fieldIndex("hill_alpha")))
    // fewer than k+1 positive rows: no row at all
    assert(!got.contains("short"))
  }

  test("weightedStatsByGroup: hand-computed mean and Kish ESS") {
    import graft.operators.Profile
    val df = Seq(("g", 10.0, 1.0), ("g", 20.0, 3.0),
      ("h", 5.0, 2.0), ("h", 7.0, 2.0)).toDF("g", "v", "w")
    val got = Profile.weightedStatsByGroup(df, "g", "v", "w")
      .select("g", "n", "w_total", "mean_w", "ess")
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // g: sw=4, swv=70 -> mean 17.5; ess = 16/10 = 1.6
    assert(got("g") === ((2L, 4.0, 17.5, 1.6)))
    // equal weights: ess == n exactly
    assert(got("h") === ((2L, 4.0, 6.0, 2.0)))
  }

  test("benfordByGroup: string-sliced digits (1000 is a 1), zeros drop, hand chi2/mad") {
    import graft.operators.Profile
    val df = Seq(
      // the floor(log10) trap values: every power of ten is digit 1
      ("g", 1000L), ("g", 10L), ("g", 1L),
      ("g", -2000L), // negatives audit by |v|: digit 2
      ("g", 0L), // zero drops
      ("h", 999L), ("h", 9L))
      .toDF("g", "v")
      .unionByName(Seq((null.asInstanceOf[String], 5L)).toDF("g", "v"))
    val got = Profile.benfordByGroup(df, "g", "v").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size === 2, "NULL groups drop")
    val rg = got("g")
    assert(rg.getAs[Long]("n") === 4L, "zero contributed no digit")
    assert(rg.getAs[Long]("d1") === 3L && rg.getAs[Long]("d2") === 1L)
    assert((3 to 9).forall(d => rg.getAs[Long](s"d$d") === 0L))
    // hand chi2 with the operator's own 9-dp literals
    val p = Profile.benfordProbs
    def q9(x: Double): Double = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val obs = Array(3L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    val chi = (0 until 9).map { i =>
      val e = 4.0 * p(i); q9((obs(i) - e) * (obs(i) - e) / e)
    }.sum
    val mad = (0 until 9).map(i => q9(math.abs(obs(i) / 4.0 - p(i)))).sum / 9.0
    assert(math.abs(rg.getAs[Double]("chi2") - chi) < 1e-9)
    assert(math.abs(rg.getAs[Double]("mad") - mad) < 1e-12)
    val rh = got("h")
    assert(rh.getAs[Long]("d9") === 2L && rh.getAs[Long]("n") === 2L)
  }
}
