package graft

import graft.operators.Drift
import org.apache.spark.sql.functions._

class DriftSpec extends SparkSpecBase {
  import spark.implicits._

  // --- PSI -----------------------------------------------------------------

  test("psi: identical mixes score zero") {
    val a = Seq("x", "x", "y", "z").toDF("k")
    val b = Seq("x", "x", "y", "z").toDF("k")
    val r = Drift.psi(a, b, "k", None).head()
    assert(r.getAs[Long]("n_a") === 4L)
    assert(r.getAs[Long]("n_b") === 4L)
    assert(r.getAs[Long]("n_values") === 3L)
    assert(r.getAs[Long]("n_only_a") === 0L)
    assert(r.getAs[Long]("n_only_b") === 0L)
    assert(r.getAs[Double]("psi") === 0.0)
  }

  test("psi: hand-computed two-value shift") {
    // a: x 80% / y 20%; b: x 50% / y 50%
    val a = Seq.fill(8)("x").map(Tuple1(_)).toDF("k")
      .union(Seq.fill(2)("y").map(Tuple1(_)).toDF("k"))
    val b = Seq.fill(5)("x").map(Tuple1(_)).toDF("k")
      .union(Seq.fill(5)("y").map(Tuple1(_)).toDF("k"))
    val got = Drift.psi(a, b, "k", None).head().getAs[Double]("psi")
    def t9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def ln9(x: Double) =
      BigDecimal(math.log(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected =
      (t9((0.8 - 0.5) * ln9(0.8 / 0.5)) + t9((0.2 - 0.5) * ln9(0.2 / 0.5))).toDouble
    assert(got === expected)
  }

  test("psi: one-sided values clamp to eps and stay finite") {
    val a = Seq("x", "x", "x", "w").toDF("k")
    val b = Seq("x", "x", "v", "v").toDF("k")
    val r = Drift.psi(a, b, "k", None).head()
    assert(r.getAs[Long]("n_only_a") === 1L) // w
    assert(r.getAs[Long]("n_only_b") === 1L) // v
    val psi = r.getAs[Double]("psi")
    assert(!psi.isNaN && !psi.isInfinite && psi > 0.0)
  }

  test("psi: NULL keys drop; empty side yields NULL psi with zero total") {
    val a = Seq(Some("x"), None, Some("y")).toDF("k")
    val b = Seq(Option.empty[String]).toDF("k")
    val r = Drift.psi(a, b, "k", None).head()
    assert(r.getAs[Long]("n_a") === 2L)
    assert(r.getAs[Long]("n_b") === 0L)
    assert(r.isNullAt(r.fieldIndex("psi")))
  }

  // --- chi-squared ---------------------------------------------------------

  test("chiSquare: perfectly independent 2x2 grid scores zero") {
    // 10 rows in each of the 4 cells: expected == observed everywhere
    val rows = for { a <- Seq("p", "q"); b <- Seq("u", "v"); _ <- 1 to 10 }
      yield (a, b)
    val r = Drift.chiSquare(rows.toDF("a", "b"), "a", "b", None).head()
    assert(r.getAs[Long]("n") === 40L)
    assert(r.getAs[Long]("dof") === 1L)
    assert(r.getAs[Double]("chi2") === 0.0)
    assert(r.getAs[Double]("cramers_v") === 0.0)
  }

  test("chiSquare: hand-computed 2x2 with a ZERO-observed cell included") {
    // cells: (p,u)=8, (p,v)=2, (q,u)=0 <- zero-observed, (q,v)=6; n=16
    val rows = Seq.fill(8)(("p", "u")) ++ Seq.fill(2)(("p", "v")) ++
      Seq.fill(6)(("q", "v"))
    val r = Drift.chiSquare(rows.toDF("a", "b"), "a", "b", None).head()
    def term(o: Double, rt: Double, ct: Double, n: Double) = {
      val d = o * n - rt * ct
      BigDecimal(d * d / (rt * ct * n))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    }
    val n = 16.0
    val expected = (term(8, 10, 8, n) + term(2, 10, 8, n) +
      term(0, 6, 8, n) + term(6, 6, 8, n)).toDouble
    assert(r.getAs[Double]("chi2") === expected)
    assert(r.getAs[Double]("cramers_v") ===
      math.sqrt(expected / (16.0 * 1.0)))
    assert(r.getAs[Long]("dof") === 1L)
  }

  test("chiSquare: single-valued column yields dof 0 and NULL statistics") {
    val rows = Seq(("p", "u"), ("p", "v"), ("p", "u"))
    val r = Drift.chiSquare(rows.toDF("a", "b"), "a", "b", None).head()
    assert(r.getAs[Long]("dof") === 0L)
    assert(r.isNullAt(r.fieldIndex("chi2")))
    assert(r.isNullAt(r.fieldIndex("cramers_v")))
  }

  test("chiSquare: rows with a NULL on either side drop from n") {
    val rows = Seq((Some("p"), Some("u")), (None, Some("v")),
      (Some("q"), None), (Some("q"), Some("v")))
    val r = Drift.chiSquare(rows.toDF("a", "b"), "a", "b", None).head()
    assert(r.getAs[Long]("n") === 2L)
  }

  // --- Theil's U -----------------------------------------------------------

  test("theilsU: perfect dependence scores 1 in both directions") {
    val rows = Seq.fill(5)(("x", "u")) ++ Seq.fill(3)(("y", "v")) ++
      Seq.fill(2)(("z", "w"))
    val r = Drift.theilsU(rows.toDF("a", "b"), "a", "b").head()
    assert(math.abs(r.getAs[Double]("u_a_given_b") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("u_b_given_a") - 1.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("h_a") - r.getAs[Double]("h_ab")) < 1e-9)
  }

  test("theilsU: independent columns score ~0; constant target is NULL") {
    val rows = for { a <- Seq("x", "y"); b <- Seq("u", "v"); _ <- 1 to 10 }
      yield (a, b)
    val r = Drift.theilsU(rows.toDF("a", "b"), "a", "b").head()
    // the 9-dp ln quantization leaves ~1e-9 residue per entropy term
    assert(math.abs(r.getAs[Double]("u_a_given_b")) < 1e-8)
    assert(math.abs(r.getAs[Double]("u_b_given_a")) < 1e-8)
    val const = Seq(("x", "u"), ("x", "v"), ("x", "u")).toDF("a", "b")
    val c = Drift.theilsU(const, "a", "b").head()
    assert(c.isNullAt(c.fieldIndex("u_a_given_b")), "constant A is undefined")
    assert(!c.isNullAt(c.fieldIndex("u_b_given_a")))
  }

  test("theilsU: asymmetry — B determines A but not vice versa") {
    // b=u -> always a=x; b=v -> always a=x; b=w -> a=y:
    // knowing b pins a (U(a|b)=1), knowing a=x leaves b ambiguous
    val rows = Seq(("x", "u"), ("x", "u"), ("x", "v"), ("y", "w"))
    val r = Drift.theilsU(rows.toDF("a", "b"), "a", "b").head()
    assert(math.abs(r.getAs[Double]("u_a_given_b") - 1.0) < 1e-9)
    assert(r.getAs[Double]("u_b_given_a") < 0.9)
  }

  // --- quantile shift ------------------------------------------------------

  test("quantileShift: a constant location shift shows at every quantile") {
    val a = (1L to 100L).toDF("v")
    val b = (1L to 100L).map(_ + 10L).toDF("v")
    val rows = Drift.quantileShift(a, b, "v").orderBy("q_micro").collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getAs[Double]("shift") === 10.0, s"q ${r.getLong(0)}")
    }
    // nearest-rank check: median of 1..100 at rank ceil(50.0) = 50
    val med = rows.find(_.getLong(0) == 500000L).get
    assert(med.getAs[Double]("v_a") === 50.0)
    assert(med.getAs[Double]("v_b") === 60.0)
  }

  test("quantileShift: empty side yields NULL picks; bad q rejected") {
    val a = (1L to 10L).toDF("v")
    val b = Seq.empty[Long].toDF("v")
    val rows = Drift.quantileShift(a, b, "v").collect()
    rows.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("v_a")))
      assert(r.isNullAt(r.fieldIndex("v_b")))
      assert(r.isNullAt(r.fieldIndex("shift")))
    }
    intercept[IllegalArgumentException] {
      Drift.quantileShift(a, b, "v", Seq(0L))
    }
    intercept[IllegalArgumentException] {
      Drift.quantileShift(a, b, "v", Seq(100L, 100L))
    }
  }

  // --- Mann-Whitney U ------------------------------------------------------

  test("mannWhitneyU: textbook no-tie case") {
    // a = {1,2,3}, b = {4,5,6}: ranks a = 1,2,3 so U_a = 6 - 6 = 0
    val a = Seq(1L, 2L, 3L).toDF("v")
    val b = Seq(4L, 5L, 6L).toDF("v")
    val r = Drift.mannWhitneyU(a, b, "v", None).head()
    assert(r.getAs[Double]("u_a") === 0.0)
    assert(r.getAs[Double]("u_b") === 9.0)
    assert(r.getAs[Double]("rank_biserial") === -1.0)
    // z = (0 - 4.5)/sqrt(9*7/12) = -4.5/sqrt(5.25)
    assert(math.abs(r.getAs[Double]("z") - (-4.5 / math.sqrt(5.25))) < 1e-12)
  }

  test("mannWhitneyU: midranks and tie correction are exact") {
    // a = {1,2,2}, b = {2,3}: value 2 has t=3, midrank (2+3+4)/3 = 3
    // R_a = 1 + 3 + 3 = 7, U_a = 7 - 6 = 1
    val a = Seq(1L, 2L, 2L).toDF("v")
    val b = Seq(2L, 3L).toDF("v")
    val r = Drift.mannWhitneyU(a, b, "v", None).head()
    assert(r.getAs[Double]("u_a") === 1.0)
    assert(r.getAs[Double]("u_b") === 5.0)
    // sigma^2 = (6/12) * (6 - 24/20) = 0.5 * 4.8 = 2.4
    val z = (1.0 - 3.0) / math.sqrt(
      (3.0 * 2.0 / 12.0) * ((5.0 + 1.0) - 24.0 / (5.0 * 4.0)))
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-12)
  }

  test("mannWhitneyU: identical samples give centered U and NULL-safe z") {
    val a = Seq(5L, 5L, 5L).toDF("v")
    val b = Seq(5L, 5L, 5L).toDF("v")
    val r = Drift.mannWhitneyU(a, b, "v", None).head()
    assert(r.getAs[Double]("u_a") === 4.5) // n1*n2/2, a half-integer
    // all values tie -> variance 0 -> z undefined
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("mannWhitneyU: u_a + u_b = n_a * n_b on a mixed fixture") {
    val a = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L).toDF("v")
    val b = Seq(2L, 7L, 1L, 8L, 2L, 8L).toDF("v")
    val r = Drift.mannWhitneyU(a, b, "v", None).head()
    assert(r.getAs[Double]("u_a") + r.getAs[Double]("u_b") === 48.0)
  }

  test("mannWhitneyU: empty side yields NULL statistics") {
    val a = Seq(1L, 2L).toDF("v")
    val b = Seq.empty[Long].toDF("v")
    val r = Drift.mannWhitneyU(a, b, "v", None).head()
    assert(r.getAs[Long]("n_b") === 0L)
    assert(r.isNullAt(r.fieldIndex("u_a")))
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  // --- Wasserstein-1 ---------------------------------------------------------

  test("wasserstein1: pure shift of equal-size samples is the shift") {
    val a = Seq(1L, 2L, 3L).toDF("v")
    val b = Seq(4L, 5L, 6L).toDF("v")
    val r = Drift.wasserstein1(a, b, "v", None).head()
    assert(r.getAs[Long]("n_a") === 3L)
    assert(r.getAs[Long]("n_b") === 3L)
    assert(r.getAs[Long]("n_values") === 6L)
    assert(r.getAs[Double]("w1") === 3.0)
  }

  test("wasserstein1: identical distributions score zero") {
    val a = Seq(1L, 5L, 5L, 9L).toDF("v")
    val b = Seq(1L, 5L, 5L, 9L).toDF("v")
    assert(Drift.wasserstein1(a, b, "v", None).head().getAs[Double]("w1") === 0.0)
  }

  test("wasserstein1: two-point unequal masses, hand-computed") {
    // F_a(0)=3/4, F_b(0)=1/4 over segment [0,10): W1 = (1/2)*10 = 5
    val a = Seq(0L, 0L, 0L, 10L).toDF("v")
    val b = Seq(0L, 10L, 10L, 10L).toDF("v")
    assert(Drift.wasserstein1(a, b, "v", None).head().getAs[Double]("w1") === 5.0)
  }

  test("wasserstein1: single shared value gives zero (no segments)") {
    val a = Seq(7L, 7L).toDF("v")
    val b = Seq(7L).toDF("v")
    val r = Drift.wasserstein1(a, b, "v", None).head()
    assert(r.getAs[Long]("n_values") === 1L)
    assert(r.getAs[Double]("w1") === 0.0)
  }

  test("wasserstein1: empty side yields NULL; NULL values drop") {
    val a = Seq[Option[Long]](Some(1L), None).toDF("v")
    val b = Seq.empty[Long].toDF("v")
    val r = Drift.wasserstein1(a, b, "v", None).head()
    assert(r.getAs[Long]("n_a") === 1L)
    assert(r.getAs[Long]("n_b") === 0L)
    assert(r.isNullAt(r.fieldIndex("w1")))
  }

  // --- binary changepoint ------------------------------------------------------

  test("changepointBinary: finds a clean level shift exactly") {
    // g: 5,5,5 then 20,20,20 -> split after position 3 (x=3)
    val df = Seq(
      ("g", 1L, 5L), ("g", 2L, 5L), ("g", 3L, 5L),
      ("g", 4L, 20L), ("g", 5L, 20L), ("g", 6L, 20L)).toDF("grp", "x", "y")
    val r = Drift.changepointBinary(df, "grp", "x", "y").head()
    assert(r.getAs[Long]("n") === 6L)
    assert(r.getAs[Long]("t_split") === 3L)
    assert(r.getAs[Long]("n_left") === 3L && r.getAs[Long]("n_right") === 3L)
    assert(r.getAs[Double]("mean_left") === 5.0)
    assert(r.getAs[Double]("mean_right") === 20.0)
    // SSE with no split: sum y^2 - T^2/n = (75 + 1200) - 75^2/6 = 337.5;
    // with the true split both segments are constant -> reduction = 337.5
    assert(math.abs(r.getAs[Double]("sse_reduction") - 337.5) < 1e-9)
  }

  test("changepointBinary: constant series reports zero reduction, earliest tie") {
    val df = (1L to 4L).map(("g", _, 7L)).toDF("grp", "x", "y")
    val r = Drift.changepointBinary(df, "grp", "x", "y").head()
    assert(r.getAs[Long]("t_split") === 1L) // all splits tie at 0 -> earliest
    assert(r.getAs[Double]("sse_reduction") === 0.0)
  }

  test("changepointBinary: single-point groups report NULL split columns") {
    val df = Seq(("a", 1L, 5L), ("b", 1L, 3L), ("b", 2L, 9L)).toDF("grp", "x", "y")
    val rows = Drift.changepointBinary(df, "grp", "x", "y")
      .orderBy(col("grp")).collect()
    assert(rows(0).getAs[Long]("n") === 1L)
    assert(rows(0).isNullAt(rows(0).fieldIndex("t_split")))
    assert(rows(1).getAs[Long]("t_split") === 1L)
  }

  // --- quantile normalization ----------------------------------------------------

  test("quantileNormalize: maps b's quantiles onto a's values by nearest rank") {
    // a = 10,20,30,40 (n_a=4); b = 1,2 (n_b=2).
    // b=1: cum 1 -> rank ceil(4/2)=2 -> 20; b=2: cum 2 -> rank 4 -> 40
    val a = Seq(10L, 20L, 30L, 40L).toDF("v")
    val b = Seq(1L, 2L).toDF("v")
    val m = Drift.quantileNormalize(a, b, "v").collect()
      .map(r => r.getAs[Long]("value") ->
        (r.getAs[Long]("target_rank"), r.getAs[Long]("normalized"))).toMap
    assert(m(1L) === ((2L, 20L)))
    assert(m(2L) === ((4L, 40L)))
  }

  test("quantileNormalize: identical distributions map to themselves") {
    val a = Seq(5L, 7L, 7L, 9L).toDF("v")
    val b = Seq(5L, 7L, 7L, 9L).toDF("v")
    val rows = Drift.quantileNormalize(a, b, "v").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("normalized") === r.getAs[Long]("value"))
    }
  }

  test("quantileNormalize: empty reference yields NULL normalized values") {
    val a = Seq.empty[Long].toDF("v")
    val b = Seq(1L, 2L).toDF("v")
    val rows = Drift.quantileNormalize(a, b, "v").collect()
    assert(rows.length === 2)
    rows.foreach(r => assert(r.isNullAt(r.fieldIndex("normalized"))))
  }

  test("cramerVonMises: identical samples score 0; hand-computed disjoint pair") {
    import spark.implicits._
    val a = Seq(1L, 2L, 3L).toDF("v")
    assert(Drift.cramerVonMises(a, a, "v").head().getAs[Double]("cvm") === 0.0)
    // a=[1], b=[2]: DF at v=1 is 1, at v=2 is 0; T = (1*1/4)*(1*1) = 0.25
    val r = Drift.cramerVonMises(Seq(1L).toDF("v"), Seq(2L).toDF("v"), "v").head()
    assert(r.getAs[Long]("n_a") === 1L && r.getAs[Long]("n_b") === 1L)
    assert(r.getAs[Double]("cvm") === 0.25)
  }

  test("cramerVonMises: accumulates distributed drift KS underweights") {
    import spark.implicits._
    // small shift everywhere vs one-point spike with same KS-ish sup
    val base = (1 to 100).map(_.toLong)
    val shifted = base.map(_ + 1L)
    val cvmShift = Drift.cramerVonMises(base.toDF("v"), shifted.toDF("v"), "v")
      .head().getAs[Double]("cvm")
    assert(cvmShift > 0.0)
  }

  test("ksByGroup: equals the global ksStatistic run per group") {
    import spark.implicits._
    val a = (Seq.fill(30)("g1").zip(1 to 30) ++ Seq.fill(20)("g2").zip(5 to 24))
      .map { case (g, v) => (g, v.toLong) }.toDF("g", "v")
    val b = (Seq.fill(25)("g1").zip(11 to 35) ++ Seq.fill(20)("g2").zip(5 to 24))
      .map { case (g, v) => (g, v.toLong) }.toDF("g", "v")
    val grouped = Drift.ksByGroup(a, b, "g", "v").collect()
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Double]("ks"), r.getAs[Long]("ks_at"))).toMap
    for (g <- Seq("g1", "g2")) {
      val ref = graft.operators.Profile.ksStatistic(
        a.filter(col("g") === g).select("v"),
        b.filter(col("g") === g).select("v"), "v").head()
      assert(grouped(g)._1 === ref.getAs[Double]("ks"), s"ks $g")
      assert(grouped(g)._2 === ref.getAs[Long]("ks_at"), s"ks_at $g")
    }
    assert(grouped("g2")._1 === 0.0)
  }

  test("ksByGroup: a group missing one side reports NULL ks") {
    import spark.implicits._
    val a = Seq(("only_a", 1L), ("both", 1L)).toDF("g", "v")
    val b = Seq(("both", 2L)).toDF("g", "v")
    val rows = Drift.ksByGroup(a, b, "g", "v").collect()
      .map(r => r.getAs[String]("g") -> r.isNullAt(r.fieldIndex("ks"))).toMap
    assert(rows("only_a") === true && rows("both") === false)
  }

  test("mannWhitneyByGroup equals the global mannWhitneyU per group") {
    import spark.implicits._
    val a = (Seq.fill(20)("g1").zip(1 to 20) ++ Seq.fill(15)("g2").zip(1 to 15))
      .map { case (g, v) => (g, v.toLong) }.toDF("g", "v")
    val b = (Seq.fill(20)("g1").zip(6 to 25) ++ Seq.fill(15)("g2").zip(1 to 15))
      .map { case (g, v) => (g, v.toLong) }.toDF("g", "v")
    val grouped = Drift.mannWhitneyU(a, b, "v", Some("g")).collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    for (g <- Seq("g1", "g2")) {
      val ref = Drift.mannWhitneyU(
        a.filter(col("g") === g).select("v"),
        b.filter(col("g") === g).select("v"), "v", None).head()
      for (c <- Seq("u_a", "u_b", "z", "rank_biserial")) {
        val (x, y) = (grouped(g), ref)
        assert(x.isNullAt(x.fieldIndex(c)) === y.isNullAt(y.fieldIndex(c)), s"$g.$c null")
        if (!x.isNullAt(x.fieldIndex(c)))
          assert(x.getAs[Double](c) === y.getAs[Double](c), s"$g.$c")
      }
    }
  }

  test("wasserstein1ByGroup equals the global wasserstein1 per group") {
    import spark.implicits._
    val a = (Seq.fill(10)("g1").zip(1 to 10) ++ Seq.fill(8)("g2").zip(3 to 10))
      .map { case (g, v) => (g, v.toLong) }.toDF("g", "v")
    val b = (Seq.fill(10)("g1").zip(4 to 13) ++ Seq.fill(8)("g2").zip(3 to 10))
      .map { case (g, v) => (g, v.toLong) }.toDF("g", "v")
    val grouped = Drift.wasserstein1(a, b, "v", Some("g")).collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Double]("w1")).toMap
    for (g <- Seq("g1", "g2")) {
      val ref = Drift.wasserstein1(
        a.filter(col("g") === g).select("v"),
        b.filter(col("g") === g).select("v"), "v", None).head().getAs[Double]("w1")
      assert(grouped(g) === ref, s"w1 $g")
    }
    assert(grouped("g2") === 0.0)
  }

  test("psiByGroup equals the global psi per group; one-sided group is NULL") {
    import spark.implicits._
    val a = (Seq.fill(30)(("g1", "en")) ++ Seq.fill(10)(("g1", "de")) ++
      Seq.fill(5)(("g2", "fr")) ++ Seq(("solo", "en"))).toDF("g", "k")
    val b = (Seq.fill(10)(("g1", "en")) ++ Seq.fill(30)(("g1", "de")) ++
      Seq.fill(5)(("g2", "fr"))).toDF("g", "k")
    val grouped = Drift.psi(a, b, "k", Some("g")).collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    for (g <- Seq("g1", "g2")) {
      val ref = Drift.psi(a.filter(col("g") === g).select("k"),
        b.filter(col("g") === g).select("k"), "k", None).head()
      assert(grouped(g).getAs[Double]("psi") === ref.getAs[Double]("psi"), g)
    }
    assert(grouped("solo").isNullAt(grouped("solo").fieldIndex("psi")))
    assert(grouped("g1").getAs[Double]("psi") > grouped("g2").getAs[Double]("psi"))
  }

  test("trailingStats: value-based RANGE window respects grid gaps") {
    import spark.implicits._
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 5L, 30L),
      ("b", 1L, 100L)).toDF("g", "x", "y")
    val rows = Drift.trailingStats(df, "g", "x", "y", window = 2L)
      .orderBy("g", "x").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Long]("x")) ->
        (r.getAs[Long]("trail_n"), r.getAs[Double]("trail_mean"))).toMap
    assert(rows(("a", 1L)) === ((1L, 10.0)))
    assert(rows(("a", 2L)) === ((2L, 15.0)))
    // x=5 looks back to x>=4: the gap means only itself
    assert(rows(("a", 5L)) === ((1L, 30.0)))
    assert(rows(("b", 1L)) === ((1L, 100.0)))
  }

  test("chiSquareByGroup equals the global chiSquare per group") {
    import spark.implicits._
    val df = (Seq.fill(40)(("g1", "en", "x")) ++ Seq.fill(10)(("g1", "en", "y")) ++
      Seq.fill(10)(("g1", "de", "x")) ++ Seq.fill(40)(("g1", "de", "y")) ++
      Seq.fill(20)(("g2", "en", "x")) ++ Seq.fill(20)(("g2", "de", "y"))
      ).toDF("g", "a", "b")
    val grouped = Drift.chiSquare(df, "a", "b", Some("g")).collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    for (g <- Seq("g1", "g2")) {
      val ref = Drift.chiSquare(df.filter(col("g") === g), "a", "b", None).head()
      assert(grouped(g).getAs[Long]("n") === ref.getAs[Long]("n"), g)
      assert(grouped(g).getAs[Double]("chi2") === ref.getAs[Double]("chi2"), g)
      assert(grouped(g).getAs[Double]("cramers_v") ===
        ref.getAs[Double]("cramers_v"), g)
    }
  }

  test("welchTByGroup: hand-computed t, Welch df and Cohen's d; degenerate guards") {
    // a = {1,2,3}: mean 2, var 1; b = {4,6}: mean 5, var 2
    // se2 = 1/3 + 1 = 4/3; t = -3/sqrt(4/3); df = (16/9)/(19/18) = 32/19
    // pooled = (2*1 + 1*2)/3 = 4/3; d = -3/sqrt(4/3)
    val a = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("c", 5.0), ("c", 5.0),
      ("one", 1.0)).toDF("g", "v")
    val b = Seq(("g", 4.0), ("g", 6.0), ("c", 5.0), ("c", 5.0),
      ("one", 2.0), ("one", 3.0)).toDF("g", "v")
    val got = Drift.welchTByGroup(a, b, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val rg = got("g")
    assert(rg.getAs[Long]("n_a") === 3L && rg.getAs[Long]("n_b") === 2L)
    assert(rg.getAs[Double]("mean_a") === 2.0 && rg.getAs[Double]("mean_b") === 5.0)
    assert(math.abs(rg.getAs[Double]("t") - (-3.0 / math.sqrt(4.0 / 3.0))) < 1e-9)
    assert(math.abs(rg.getAs[Double]("df") - 32.0 / 19.0) < 1e-9)
    assert(math.abs(rg.getAs[Double]("cohens_d") -
      (-3.0 / math.sqrt(4.0 / 3.0))) < 1e-9)
    // both sides constant and equal: se2 = 0 -> t NULL, pooled 0 -> d NULL
    val rc = got("c")
    assert(rc.isNullAt(rc.fieldIndex("t")) && rc.isNullAt(rc.fieldIndex("cohens_d")))
    // a 1-row side: t/df NULL (no variance estimate)
    val r1 = got("one")
    assert(r1.isNullAt(r1.fieldIndex("t")) && r1.isNullAt(r1.fieldIndex("df")))
  }

  test("brownForsytheByGroup: hand-computed W off median deviations; guards") {
    // a = {1,2,3,4}: med 2 (rank ceil(2)), z = {1,0,1,2}
    // b = {10,20,30}: med 20, z = {10,0,10}
    val a = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L),
      ("c", 5L), ("c", 5L), ("one", 1L)).toDF("g", "v")
    val b = Seq(("g", 10L), ("g", 20L), ("g", 30L),
      ("c", 5L), ("c", 5L), ("one", 2L), ("one", 3L)).toDF("g", "v")
    val got = Drift.brownForsytheByGroup(a, b, "g", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val rg = got("g")
    assert(rg.getAs[Double]("med_a") === 2.0 && rg.getAs[Double]("med_b") === 20.0)
    assert(rg.getAs[Double]("mad_mean_a") === 1.0)
    assert(math.abs(rg.getAs[Double]("mad_mean_b") - 20.0 / 3.0) < 1e-12)
    assert(rg.getAs[Long]("dof2") === 5L)
    // replicate the IEEE tree
    val za = 1.0; val zb = 20.0 / 3.0; val zz = 24.0 / 7.0
    val wa = 6.0 - 4.0 * za * za; val wb = 200.0 - 3.0 * zb * zb
    val w = (7.0 - 2.0) * (4.0 * (za - zz) * (za - zz) +
      3.0 * (zb - zz) * (zb - zz)) / (wa + wb)
    assert(math.abs(rg.getAs[Double]("bf_stat") - w) < 1e-9, s"$w")
    // both sides constant: every z = 0 -> SSW 0 -> NULL
    val rc = got("c")
    assert(rc.isNullAt(rc.fieldIndex("bf_stat")))
    // a 1-row side: NULL
    assert(got("one").isNullAt(got("one").fieldIndex("bf_stat")))
  }

  test("jsDivergenceByGroup: 0 on identical mixes, ln 2 on disjoint, symmetric, no epsilon") {
    val a = Seq(("g", "x"), ("g", "x"), ("g", "y")).toDF("g", "k")
    val same = Drift.jsDivergenceByGroup(a, a, "g", "k").head()
    assert(same.getAs[Double]("js") === 0.0)
    // fully disjoint supports: p-side and q-side each contribute
    // 0.5 * ln9(2) -> js = ln9(2) = 0.693147181, the exact upper bound
    val b = Seq(("g", "z"), ("g", "z")).toDF("g", "k")
    val dis = Drift.jsDivergenceByGroup(a, b, "g", "k").head()
    assert(dis.getAs[Double]("js") === 0.693147181)
    assert(dis.getAs[Long]("n_values") === 3L)
    // symmetry (PSI is too, but JS gets it without the eps floor)
    val ab = Drift.jsDivergenceByGroup(a, b, "g", "k").head().getAs[Double]("js")
    val ba = Drift.jsDivergenceByGroup(b, a, "g", "k").head().getAs[Double]("js")
    assert(ab === ba)
    // hand case: a = {x:1, y:1}, b = {x:1} -> p_x=.5 q_x=1 m_x=.75;
    // p_y=.5 q_y=0 m_y=.25 ->
    // js = .5(.5 ln(2/3)) + .5(1 ln(4/3)) + .5(.5 ln 2)
    val a2 = Seq(("g", "x"), ("g", "y")).toDF("g", "k")
    val b2 = Seq(("g", "x")).toDF("g", "k")
    val got = Drift.jsDivergenceByGroup(a2, b2, "g", "k").head().getAs[Double]("js")
    def ln9(x: Double) = BigDecimal(math.log(x))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = BigDecimal(0.5 * (0.5 * ln9(0.5 / 0.75)) +
        0.5 * (1.0 * ln9(1.0 / 0.75)) + 0.5 * (0.5 * ln9(0.5 / 0.25)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got - want) < 2e-9, s"$got vs $want")
  }

  test("cusumByGroup: hand-computed reset recursion via prefix sums; level shift alarms") {
    // y = 0,0,0,5,5,5 -> mu = 2.5, k = 0.5: dp = y - 3 -> P = -3,-6,-9,-7,-5,-3,
    // runmin = -3..-9 -> S+ = 0,0,0,2,4,6; dn = 2 - y -> Q = 2,4,6,3,0,-3,
    // min(0, runmin) = 0,0,0,0,0,-3 -> S- = 2,4,6,3,0,0
    val df = (0 to 5).map(i => ("g", i.toLong, if (i < 3) 0.0 else 5.0))
      .toDF("g", "x", "y")
    val got = Drift.cusumByGroup(df, "g", "x", "y", h = 5.0, k = 0.5)
      .select("x", "cusum_pos", "cusum_neg", "alarm_pos", "alarm_neg")
      .as[(Long, Double, Double, Boolean, Boolean)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq === Seq(0.0, 0.0, 0.0, 2.0, 4.0, 6.0))
    assert(got.map(_._3).toSeq === Seq(2.0, 4.0, 6.0, 3.0, 0.0, 0.0))
    assert(got.map(_._4).toSeq === Seq(false, false, false, false, false, true),
      "the up-shift alarms once S+ crosses h")
    assert(got.map(_._5).toSeq === Seq(false, false, true, false, false, false),
      "the pre-shift low stretch alarms S- once it crosses h")
    // a flat series never alarms and both cusums stay at 0
    val flat = Drift.cusumByGroup(
        (0 to 4).map(i => ("f", i.toLong, 3.0)).toDF("g", "x", "y"),
        "g", "x", "y", h = 1.0, k = 0.0)
      .select("cusum_pos", "cusum_neg").as[(Double, Double)].collect()
    assert(flat.forall(r => r._1 === 0.0 && r._2 === 0.0))
  }

  test("fightinWords: hand-computed Dirichlet log-odds z; A-heavy terms score positive") {
    def ln9(x: Double) = BigDecimal(math.log(x))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val a = Seq("x x x y", "x y").toDF("text")   // x:4 y:2, A=6
    val b = Seq("y y y z", "y z").toDF("text")   // y:4 z:2, B=6
    val got = Drift.fightinWords(a, b, "text", alpha0 = 10.0, k = 10)
      .select("term", "count_a", "count_b", "delta", "z", "rank")
      .as[(String, Long, Long, Double, Double, Int)].collect()
      .map(r => r._1 -> r).toMap
    def ref(ca: Long, cb: Long): (Double, Double) = {
      val aw = 10.0 * (ca + cb).toDouble / 12.0
      val da = 6.0 + 10.0 - ca.toDouble - aw
      val db = 6.0 + 10.0 - cb.toDouble - aw
      val delta = ln9((ca.toDouble + aw) / da) - ln9((cb.toDouble + aw) / db)
      (delta, delta / math.sqrt(1.0 / (ca + aw) + 1.0 / (cb + aw)))
    }
    for ((term, ca, cb) <- Seq(("x", 4L, 0L), ("y", 2L, 4L), ("z", 0L, 2L))) {
      val (d, z) = ref(ca, cb)
      assert(got(term)._4 === d, s"delta($term)")
      assert(got(term)._5 === z, s"z($term)")
    }
    assert(got("x")._5 > 0, "A-exclusive term scores positive")
    assert(got("z")._5 < 0, "B-exclusive term scores negative")
    // ranks follow |z| desc with the term tiebreak
    val byRank = got.values.toSeq.sortBy(_._6).map(r => math.abs(r._5))
    assert(byRank.zip(byRank.tail).forall { case (p, q) => p >= q })
  }

  test("mannKendallByGroup: hand-computed S, tie correction, continuity-corrected z") {
    // up: strictly increasing, n=4 -> S = 6, no ties,
    // var = 4*3*13/18 = 26/3, z = (6-1)/sqrt(26/3)
    // tie: y = (1, 2, 2, 3) -> S = 5, tie term for t=2: 2*1*9 = 18,
    // n(n-1)(2n+5) = 156 -> var = (156 - 18)/18 = 23/3, z = 4/sqrt(23/3)
    // flat: all equal -> S = 0, tie term 4*3*13 = 156 -> var 0 -> z NULL
    // solo: n = 1 -> var/z NULL
    val df = Seq(
      ("up", 0L, 1.0), ("up", 1L, 3.0), ("up", 2L, 4.0), ("up", 3L, 9.0),
      ("tie", 0L, 1.0), ("tie", 1L, 2.0), ("tie", 2L, 2.0), ("tie", 3L, 3.0),
      ("flat", 0L, 5.0), ("flat", 1L, 5.0), ("flat", 2L, 5.0), ("flat", 3L, 5.0),
      ("solo", 0L, 7.0)).toDF("g", "x", "y")
    val got = Drift.mannKendallByGroup(df, "g", "x", "y")
      .select("g", "n", "s", "var_s", "z")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("up") === (("up", 4L, 6L, Some(26.0 / 3.0),
      Some(5.0 / math.sqrt(26.0 / 3.0)))))
    assert(got("tie") === (("tie", 4L, 5L, Some(138.0 / 18.0),
      Some(4.0 / math.sqrt(138.0 / 18.0)))))
    assert(got("flat") === (("flat", 4L, 0L, Some(0.0), None)))
    assert(got("solo") === (("solo", 1L, 0L, None, None)))
  }

  test("theilSenByGroup: the median slope shrugs off an outlier point; lower-median rule") {
    // (0,0),(1,1),(2,2),(3,10): slopes sorted [1,1,1,10/3,4.5,8] ->
    // lower median (rank 3 of 6) = 1.0; residuals y - 1*x = [0,0,0,7]
    // -> lower median (rank 2 of 4) = 0.0
    val df = Seq(
      ("g", 0L, 0.0), ("g", 1L, 1.0), ("g", 2L, 2.0), ("g", 3L, 10.0),
      ("solo", 5L, 3.0)).toDF("g", "x", "y")
    val got = Drift.theilSenByGroup(df, "g", "x", "y")
      .select("g", "n", "n_slopes", "slope", "intercept")
      .as[(String, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("g") === (("g", 4L, 6L, Some(1.0), Some(0.0))))
    assert(got("solo") === (("solo", 1L, 0L, None, None)))
    // differential vs an in-memory reference on a seeded series
    val rnd = new scala.util.Random(7)
    val pts = (0 until 40).map(i => ("r", i.toLong,
      0.7 * i + rnd.nextInt(20).toDouble))
    val r = Drift.theilSenByGroup(pts.toDF("g", "x", "y"), "g", "x", "y")
      .head()
    val slopes = (for {
      i <- pts.indices; j <- pts.indices if pts(i)._2 < pts(j)._2
    } yield (pts(j)._3 - pts(i)._3) / (pts(j)._2 - pts(i)._2).toDouble)
      .sorted
    val wantSlope = slopes((slopes.size + 1) / 2 - 1)
    val resid = pts.map(p => p._3 - wantSlope * p._2.toDouble).sorted
    val wantIcpt = resid((resid.size + 1) / 2 - 1)
    assert(r.getAs[Double]("slope") === wantSlope)
    assert(r.getAs[Double]("intercept") === wantIcpt)
  }

  test("burrowsDelta: constant words carry no signal; symmetric planted styles") {
    import graft.operators.Drift
    // three "sources": x and y share style (same relative rates), z differs
    val docs = Seq(
      ("x", "aa aa aa bb"), ("x", "aa aa aa bb"),
      ("y", "aa aa aa bb"),
      ("z", "bb bb bb aa"))
      .toDF("src", "text")
    val out = Drift.burrowsDelta(docs, "src", "text", topN = 10)
      .select("g_a", "g_b", "n_terms", "delta")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out.size === 3, "all unordered pairs of 3 groups")
    // x and y have IDENTICAL rates -> identical z -> delta exactly 0
    assert(out(("x", "y"))._2 === 0.0)
    // both words vary across groups -> n_terms = 2 everywhere
    assert(out.values.forall(_._1 === 2L))
    // z is equidistant from x and y (same profiles) and far from both
    assert(out(("x", "z"))._2 === out(("y", "z"))._2)
    assert(out(("x", "z"))._2 > 1.0)
  }
}
