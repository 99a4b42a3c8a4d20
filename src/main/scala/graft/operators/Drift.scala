package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution-drift and association statistics — the monitoring battery
  * a training-data pipeline runs between crawl snapshots and across
  * sources: PSI (the banking-world drift score over categorical mixes),
  * the chi-squared independence test with Cramér's V (is `lang`
  * associated with `source`?), and the Mann–Whitney U rank-sum test (did
  * this score distribution shift? — the non-parametric complement to
  * [[Profile.ksStatistic]], sensitive to location where KS is sensitive
  * to shape).
  *
  * [[psi]], [[chiSquare]], [[mannWhitneyU]] and [[wasserstein1]] each
  * take `groupCol: Option[String]`: `None` reports over the whole frames,
  * `Some(g)` reports every group in one job. One body serves both — the
  * global form is the grouped form over no keys. KS keeps two bodies
  * ([[Profile.ksStatistic]], [[ksByGroup]]): the grouped body ends in an
  * aggregate by group, which over no keys reports one all-NULL row on
  * empty input, where the global body (an argmax join) reports none.
  *
  * The reference (magictables) delegates all statistics to Polars
  * expressions behind its blanket wrapper
  * (/root/reference/magictables/magictable.py:28-36); these are the
  * corpus-monitoring statistics a Spark-native engine needs at scale,
  * implemented with the repo-wide exactness contracts (integer/decimal
  * accumulation, the 9-dp decimal ln, IEEE-only final arithmetic).
  */
object Drift {
  private val dec38 = DecimalType(38, 0)
  private val dec25_9 = DecimalType(25, 9)

  /** ln rounded through the 9-dp decimal contract (p86 recipe): JVM and
    * libm logs differ at 1 ulp; rounding the decimal rendering to 9 dp
    * makes both engines agree. */
  private def ln9(c: Column): Column =
    round(log(c).cast(DecimalType(25, 12)), 9).cast("double")

  /** The internal group key of a report over `groupCol`: `__g`, or no
    * key at all for the global form. */
  private def groupKey(groupCol: Option[String]): Seq[String] =
    groupCol.map(_ => "__g").toSeq

  /** Both sides' row counts per (group, value), one row per pair present
    * on either side: `__g` (when `groupCol` is set), `__v`, `__na`,
    * `__nb` (0 where a side lacks the pair). Rows with a NULL group or
    * value drop; `asKey` maps the value to the key it is counted under.
    * The shared first step of every two-sample drift statistic:
    * map-side-combinable counts, one full-outer merge. */
  private[operators] def pairCounts(a: DataFrame, b: DataFrame, groupCol: Option[String],
      v: Column, asKey: Column => Column = c => c): DataFrame = {
    val g = groupCol.map(c => col(s"`$c`")).toSeq
    def counts(df: DataFrame, out: String) = df
      .filter((g :+ v).map(_.isNotNull).reduce(_ && _))
      .groupBy(g.map(_.as("__g")) :+ asKey(v).as("__v"): _*)
      .agg(count(lit(1)).as(out))
    val keys = groupKey(groupCol)
    counts(a, "__na").join(counts(b, "__nb"), keys :+ "__v", "full_outer")
      .select(keys.map(col) ++ Seq(col("__v"),
        coalesce(col("__na"), lit(0L)).as("__na"),
        coalesce(col("__nb"), lit(0L)).as("__nb")): _*)
  }

  /** The group key column of a report, under the caller's name — none
    * over no keys. */
  private def groupOut(groupCol: Option[String]): Seq[Column] =
    groupCol.map(g => col("__g").as(g)).toSeq

  /** A count column of a report. Over no keys the aggregate still emits
    * its one row when no value survives, and the count there is 0, not
    * NULL. */
  private def countOut(groupCol: Option[String], c: String): Column =
    if (groupCol.isEmpty) coalesce(col(c), lit(0L)).as(c) else col(c)

  /** Population Stability Index between the `keyCol` value mixes of
    * frames `a` and `b` — PSI = Σ_v (p_v − q_v)·ln(p_v/q_v) over the
    * union of observed values, the standard drift score for categorical
    * mixes (language mix, source mix, top-level-domain mix) — over the
    * whole frames (`groupCol` None: one row) or for every group in one
    * job (`Some(g)`: one row per group present on either side, e.g.
    * "which sources' language mixes moved between snapshots"). Output:
    * (groupCol when grouped, n_a, n_b, n_values longs — totals and
    * distinct union values, n_only_a, n_only_b longs — values seen on
    * one side only, psi double). Conventional reading: < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 shifted. NULL groups and keys drop (count
    * the NULL mix upstream if it matters); an empty side yields psi
    * NULL, and an empty global input n_a = n_b = n_values = 0.
    *
    * Zero cells: a value unseen on one side has share 0 and an infinite
    * log ratio — both shares clamp to `eps` (share = max(n/N, eps),
    * standard PSI practice), so one-sided values contribute a large
    * finite term and the score stays defined.
    *
    * Exactness: counts and totals are exact integers; each share is ONE
    * IEEE division (clamped by GREATEST against the eps literal — no
    * libm); each ln rounds through the 9-dp decimal contract; terms
    * quantize to DECIMAL(25,9) and sum order-independently; only the
    * reported psi casts back to double.
    *
    * 100 TB shape: each side collapses to per-(group, value) counts
    * (map-side combinable), one full-outer merge, a |groups|-row totals
    * broadcast, then one grouped aggregate over the value-cardinality
    * frame — nothing row-sized ever shuffles twice. Categorical
    * contract: value cardinality ≪ row count. */
  def psi(a: DataFrame, b: DataFrame, keyCol: String, groupCol: Option[String],
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0.0 && eps < 1.0, s"eps must be in (0,1), got $eps")
    val by = groupKey(groupCol)
    val keys = by.map(col)
    val k = col(s"`$keyCol`")
    // staged: the merged count frame feeds the totals AND the term sum —
    // unstaged, both corpus-sized count shuffles re-run per consumer
    val merged = Stager.stage(
      pairCounts(a, b, groupCol, k),
      s"psi_counts_${java.util.UUID.randomUUID().toString.take(8)}")
    val totals = merged.groupBy(keys: _*).agg(
      sum(col("__na")).as("__ta"), sum(col("__nb")).as("__tb"))
    val shares = merged.join(broadcast(totals), by)
      .withColumn("__p", greatest(
        col("__na").cast("double") / col("__ta").cast("double"), lit(eps)))
      .withColumn("__q", greatest(
        col("__nb").cast("double") / col("__tb").cast("double"), lit(eps)))
    shares.groupBy(keys: _*).agg(
        max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        count(lit(1)).as("n_values"),
        sum(when(col("__nb") === 0L, 1L).otherwise(0L)).as("n_only_a"),
        sum(when(col("__na") === 0L, 1L).otherwise(0L)).as("n_only_b"),
        sum(((col("__p") - col("__q")) * ln9(col("__p") / col("__q")))
          .cast(dec25_9)).as("__psi"))
      .select(groupOut(groupCol) ++ Seq(countOut(groupCol, "n_a"),
        countOut(groupCol, "n_b"), col("n_values"), col("n_only_a"),
        col("n_only_b"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          col("__psi").cast("double")).as("psi")): _*)
  }

  /** Pearson chi-squared test of independence between two categorical
    * columns, with Cramér's V effect size — the "is language associated
    * with source?" audit that catches a crawler whose language mix is
    * collapsing onto a few domains — over the whole frame (`groupCol`
    * None: one row) or per group in one job (`Some(g)`: "is language
    * associated with snapshot half, per source"). Output: (groupCol when
    * grouped, n long — rows with both values present, n_a, n_b longs —
    * distinct values per column, dof long — (n_a−1)(n_b−1), chi2 double,
    * cramers_v double — √(χ²/(n·min(n_a−1, n_b−1))), NULL when dof = 0
    * or n = 0). An empty global input reports n = n_a = n_b = 0.
    *
    * The full n_a × n_b grid of each group is materialized (row-marginal
    * × col-marginal join on the group key) so ZERO-observed cells still
    * contribute their expected-count term — dropping them understates
    * χ², the classic implementation bug.
    *
    * Exactness: observed counts and marginals are exact integers; each
    * cell term (o·n − r·c)²/(r·c·n) is a fixed IEEE tree over
    * correctly-rounded integer→double casts (no libm), identical in
    * both engines; terms quantize to DECIMAL(25,9) and sum order-
    * independently; √ is IEEE-correctly-rounded on both engines.
    *
    * 100 TB shape: one hash shuffle to (group, a, b) cell counts
    * (map-side combinable); everything after runs on the cell grid,
    * bounded by the value-cardinality product per group, never rows.
    * Categorical contract: n_a·n_b ≪ row count. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String,
      groupCol: Option[String]): DataFrame = {
    val by = groupKey(groupCol)
    val keys = by.map(col)
    val g = groupCol.toSeq.map(c => col(s"`$c`"))
    val a = col(s"`$aCol`")
    val b = col(s"`$bCol`")
    // staged: the cell frame feeds row totals, col totals, and the grid
    // join — unstaged, the corpus-sized cell shuffle re-runs per consumer
    val cells = Stager.stage(
      df.filter((g ++ Seq(a, b)).map(_.isNotNull).reduce(_ && _))
        .groupBy(g.map(_.as("__g")) ++ Seq(a.as("__a"), b.as("__b")): _*)
        .agg(count(lit(1)).as("__o")),
      s"chi2_cells_${java.util.UUID.randomUUID().toString.take(8)}")
    val rowT = cells.groupBy(keys :+ col("__a"): _*).agg(sum(col("__o")).as("__r"))
    val colT = cells.groupBy(keys :+ col("__b"): _*).agg(sum(col("__o")).as("__c"))
    val totN = cells.groupBy(keys: _*).agg(sum(col("__o")).as("n"),
      countDistinct(col("__a")).as("n_a"), countDistinct(col("__b")).as("n_b"))
    val grid = rowT.join(colT, by)
      .join(cells, by ++ Seq("__a", "__b"), "left")
      .withColumn("__o", coalesce(col("__o"), lit(0L)))
      .join(broadcast(totN), by)
    val on = col("__o").cast("double") * col("n").cast("double")
    val rc = col("__r").cast("double") * col("__c").cast("double")
    val d = on - rc
    val chi = grid.groupBy(keys: _*)
      .agg(sum((d * d / (rc * col("n").cast("double"))).cast(dec25_9))
        .as("__chi2"))
    totN.join(chi, by, "left")
      .select(groupOut(groupCol) ++ Seq(countOut(groupCol, "n"),
        col("n_a"), col("n_b"),
        ((col("n_a") - 1L) * (col("n_b") - 1L)).as("dof"),
        when(col("n") > 0L && col("n_a") > 1L && col("n_b") > 1L,
          col("__chi2").cast("double")).as("chi2"),
        when(col("n") > 0L && col("n_a") > 1L && col("n_b") > 1L,
          sqrt(col("__chi2").cast("double") / (col("n").cast("double") *
            least(col("n_a") - 1L, col("n_b") - 1L).cast("double"))))
          .as("cramers_v")): _*)
  }

  /** Theil's uncertainty coefficient between two categorical columns —
    * the ASYMMETRIC "how much does knowing B tell you about A?"
    * association measure (Theil 1970), the directional complement to
    * [[chiSquare]]'s symmetric Cramér's V: U(A|B) =
    * (H(A) − H(A|B)) / H(A) ∈ [0, 1], with H(A|B) = H(A,B) − H(B).
    * One row: (n long, h_a, h_b, h_ab doubles — marginal and joint
    * Shannon entropies in nats, u_a_given_b, u_b_given_a doubles —
    * NULL when the target column is constant (single distinct value:
    * its entropy is 0 and the ratio is undefined)). Rows with a NULL
    * on either side drop.
    *
    * Exactness: every entropy is the [[Profile.tokenEntropy]] recipe —
    * ln N − Σ c·ln c / N with exact integer counts, each ln through
    * the 9-dp decimal contract, DECIMAL(25,9) term accumulation, one
    * IEEE subtraction/division each; the coefficients are fixed IEEE
    * trees over the three entropies.
    *
    * 100 TB shape: one hash shuffle to (a,b) cell counts (map-side
    * combinable); marginals and entropies run on the cell grid,
    * bounded by value-cardinality product. */
  def theilsU(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(s"`$aCol`")
    val b = col(s"`$bCol`")
    def clnc(c: Column): Column =
      (c.cast("double") * ln9(c.cast("double"))).cast(dec25_9)
    // staged: the cell frame feeds both marginals and the joint term
    val cells = Stager.stage(
      df.filter(a.isNotNull && b.isNotNull)
        .groupBy(a.as("__a"), b.as("__b")).agg(count(lit(1)).as("__o")),
      s"theil_cells_${java.util.UUID.randomUUID().toString.take(8)}")
    def entropy(counts: DataFrame, cnt: Column): DataFrame = counts.agg(
      coalesce(sum(cnt), lit(0L)).as("__n"),
      count(lit(1)).as("__v"),
      sum(clnc(cnt)).as("__s"))
    val ea = entropy(cells.groupBy(col("__a")).agg(sum(col("__o")).as("__c")),
      col("__c")).select(col("__n").as("n"), col("__v").as("__va"),
      (ln9(col("__n").cast("double")) -
        col("__s").cast("double") / col("__n").cast("double")).as("h_a"))
    val eb = entropy(cells.groupBy(col("__b")).agg(sum(col("__o")).as("__c")),
      col("__c")).select(col("__v").as("__vb"),
      (ln9(col("__n").cast("double")) -
        col("__s").cast("double") / col("__n").cast("double")).as("h_b"))
    val eab = entropy(cells, col("__o")).select(
      (ln9(col("__n").cast("double")) -
        col("__s").cast("double") / col("__n").cast("double")).as("h_ab"))
    // undefined-target guard on value CARDINALITY, not on h > 0 — a
    // constant column's entropy is analytically 0 but carries ±1-ulp FP
    // residue from the divided decimal sum, so an h_a > 0 guard flaps
    ea.crossJoin(eb).crossJoin(eab)
      .select(col("n"), col("h_a"), col("h_b"), col("h_ab"),
        when(col("__va") > 1L,
          (col("h_a") - (col("h_ab") - col("h_b"))) / col("h_a"))
          .as("u_a_given_b"),
        when(col("__vb") > 1L,
          (col("h_b") - (col("h_ab") - col("h_a"))) / col("h_b"))
          .as("u_b_given_a"))
  }

  /** Quantile-shift drift profile between the `valueCol` distributions
    * of frames `a` and `b`: the exact nearest-rank quantile of EACH
    * side at every requested probability, side by side — the "WHERE
    * did the distribution move?" diagnostic that complements
    * [[Profile.ksStatistic]] (one max-gap number) and [[psi]] (one
    * mix number). Output, one row per probability: (q_micro long,
    * v_a, v_b doubles — NULL for an empty side, shift double —
    * v_b − v_a). NULL values drop.
    *
    * Exactness: quantiles are exact nearest-rank picks — rank
    * ⌈q·n⌉ by integer-micros arithmetic against a [[PrefixSum]]
    * distributed cumulative count, so both the rank and the pick are
    * FP-free; only the reported shift subtracts once.
    *
    * 100 TB shape: per-distinct-value counts, one full-outer merge,
    * one distributed prefix scan, then a probabilities-sized
    * aggregate — the [[Profile.ksStatistic]] posture. */
  def quantileShift(a: DataFrame, b: DataFrame, valueCol: String,
      qMicros: Seq[Long] = Seq(100000L, 250000L, 500000L, 750000L, 900000L)): DataFrame = {
    require(qMicros.nonEmpty && qMicros.forall(q => q > 0L && q <= 1000000L),
      s"qMicros must be in (0, 1e6], got $qMicros")
    require(qMicros.distinct.size == qMicros.size,
      s"duplicate qMicros: $qMicros")
    val cum = PrefixSum.withKeyedRunningSums(
      pairCounts(a, b, None, col(s"`$valueCol`").cast("double")),
      Nil, Seq("__v"), Seq("__na", "__nb"))
    val totals = cum.agg(sum(col("__na")).as("__ta"), sum(col("__nb")).as("__tb"))
    val aggs = qMicros.flatMap { q =>
      Seq(
        min(when(col("__ta") > 0L && col("cum___na") >=
          expr(s"(__ta * ${q}L + 999999L) div 1000000L"), col("__v")))
          .as(s"__va_$q"),
        min(when(col("__tb") > 0L && col("cum___nb") >=
          expr(s"(__tb * ${q}L + 999999L) div 1000000L"), col("__v")))
          .as(s"__vb_$q"))
    }
    val picks = cum.crossJoin(broadcast(totals)).agg(aggs.head, aggs.tail: _*)
    val rows = qMicros.map { q =>
      struct(lit(q).as("q_micro"), col(s"__va_$q").as("v_a"),
        col(s"__vb_$q").as("v_b"))
    }
    picks.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.q_micro"), col("__r.v_a"), col("__r.v_b"),
        (col("__r.v_b") - col("__r.v_a")).as("shift"))
  }

  /** Two-sample Mann–Whitney U rank-sum test between the `valueCol`
    * distributions of frames `a` and `b` — the non-parametric "did the
    * median shift?" location test (Mann & Whitney 1947), with the
    * normal approximation z under the tie-corrected variance — over the
    * whole frames (`groupCol` None: one row) or for every group in one
    * job (`Some(g)`: one row per group present on either side; the 100 TB
    * question is "which sources shifted", and per-source jobs would
    * rescan the corpus |sources| times). Output: (groupCol when grouped,
    * n_a, n_b longs, u_a, u_b doubles — U statistics, exact
    * half-integers, u_a + u_b = n_a·n_b, z double — (u_a − n_a·n_b/2)/σ
    * with σ² = (n_a·n_b/12)·(n+1 − Σ(t³−t)/(n(n−1))), NULL when either
    * side is empty or all values tie, rank_biserial double —
    * u_a/(n_a·n_b)·2 − 1, the common-language effect size). NULL groups
    * and values drop; an empty global input reports every column NULL.
    *
    * Exactness: ranks ride DOUBLED (2·cum_before + t + 1 — midranks as
    * exact integers); ΣU numerators and the tie sum Σ(t³−t) accumulate
    * in DECIMAL(38,0); u_a is one exact halving; z's variance is a
    * fixed IEEE tree over exact integer casts with one
    * correctly-rounded √ — no libm anywhere.
    *
    * 100 TB shape: each side collapses to per-(group, value) counts, one
    * full-outer merge, then one [[PrefixSum.withKeyedRunningSums]] scan
    * over the DISTINCT-value frame — range-partitioned with broadcast
    * offsets, never a single-reducer or per-group window — and one
    * grouped aggregation. */
  def mannWhitneyU(a: DataFrame, b: DataFrame, valueCol: String,
      groupCol: Option[String]): DataFrame = {
    val by = groupKey(groupCol)
    val keys = by.map(col)
    val merged = pairCounts(a, b, groupCol, col(s"`$valueCol`"))
      .withColumn("__t", col("__na") + col("__nb"))
    // the scan's staged range-partitioned frame serves the one
    // aggregation pass — the corpus-sized count shuffles run once
    val ranked = PrefixSum.withKeyedRunningSums(merged, by, Seq("__v"), Seq("__t"))
      .withColumn("__cb", col("cum___t") - col("__t"))
      .withColumn("__drd", lit(2L) * col("__cb") + col("__t") + 1L)
    val agg = ranked.groupBy(keys: _*).agg(
      sum(col("__na")).as("n_a"), sum(col("__nb")).as("n_b"),
      sum((col("__na").cast(dec38) * col("__drd"))).as("__r1d"),
      sum((col("__t").cast(dec38) * col("__t") * col("__t") -
        col("__t"))).as("__ties"))
    val n1 = col("n_a").cast("double")
    val n2 = col("n_b").cast("double")
    val n = (col("n_a") + col("n_b")).cast("double")
    val ua = (col("__r1d") - col("n_a").cast(dec38) * (col("n_a") + 1L))
      .cast("double") / lit(2.0)
    val varU = (n1 * n2 / lit(12.0)) * ((n + lit(1.0)) -
      col("__ties").cast("double") / (n * (n - lit(1.0))))
    agg.select(groupOut(groupCol) ++ Seq(col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L, ua).as("u_a"),
      when(col("n_a") > 0L && col("n_b") > 0L, n1 * n2 - ua).as("u_b"),
      when(col("n_a") > 0L && col("n_b") > 0L && varU > lit(0.0),
        (ua - n1 * n2 / lit(2.0)) / sqrt(varU)).as("z"),
      when(col("n_a") > 0L && col("n_b") > 0L && n1 * n2 > lit(0.0),
        ua / (n1 * n2) * lit(2.0) - lit(1.0)).as("rank_biserial")): _*)
  }

  /** 1-D Wasserstein-1 (earth-mover) distance between the INTEGRAL
    * `valueCol` distributions of frames `a` and `b` — W₁ = ∫|F_a − F_b| dx,
    * the area between the two empirical CDFs — over the whole frames
    * (`groupCol` None: one row) or for every group in one job (`Some(g)`:
    * one row per group present on either side). The drift score that
    * weighs HOW FAR mass moved: KS ([[Profile.ksStatistic]]) reports only
    * the single worst CDF gap and [[mannWhitneyU]] only the direction of
    * the shift; W₁ is the expected transport cost in the value's own
    * units (chars, tokens, ms). Output: (groupCol when grouped, n_a, n_b,
    * n_values longs, w1 double — NULL when either side is empty). NULL
    * groups and values drop; an empty global input reports n_values 0
    * and every other column NULL.
    *
    * Exactness: `valueCol` must be integral (cast upstream — a double
    * grid would put engine-dependent FP subtraction in the segment
    * widths). Both CDFs are flat between consecutive distinct pooled
    * values x_i < x_{i+1}, so
    * W₁ = Σ_i |cumA_i·n_b − cumB_i·n_a| · (x_{i+1} − x_i) / (n_a·n_b):
    * every summand is a product of exact integers accumulating in
    * DECIMAL(38,0), and w1 is ONE final IEEE division per group.
    *
    * 100 TB shape: each side collapses to per-(group, value) counts
    * (map-side combinable), one full-outer merge, one
    * [[PrefixSum.withKeyedRunningSums]] scan (range exchange + broadcast
    * offsets, never a window) emitting exact ranks as cum-ones, and the
    * consecutive-value adjacency is a (group, rank) EQUI-join (rank i ⋈
    * rank i+1), which shuffles by rank instead of windowing. The totals
    * broadcast is |groups| rows. */
  def wasserstein1(a: DataFrame, b: DataFrame, valueCol: String,
      groupCol: Option[String]): DataFrame = {
    val by = groupKey(groupCol)
    val keys = by.map(col)
    val merged = pairCounts(a, b, groupCol,
        col(s"`$valueCol`"), _.cast("long"))
      .withColumn("__one", lit(1L))
    val ranked = PrefixSum.withKeyedRunningSums(merged, by,
        Seq("__v"), Seq("__one", "__na", "__nb"))
      .select(keys ++ Seq(col("__v"), col("cum___one").as("__rk"),
        col("cum___na").as("__ca"), col("cum___nb").as("__cb")): _*)
    val nxt = ranked.select(keys ++ Seq((col("__rk") - 1L).as("__rk"),
      col("__v").as("__vn")): _*)
    val segs = ranked.join(nxt, by :+ "__rk")
    // totals come off the STAGED scan (last cumulative value = total) —
    // aggregating `merged` again would re-run both corpus-sized counts
    val tot = ranked.groupBy(keys: _*).agg(max(col("__ca")).as("n_a"),
      max(col("__cb")).as("n_b"), max(col("__rk")).as("n_values"))
    val num = segs.join(broadcast(tot), by)
      .groupBy(keys: _*)
      .agg(sum(abs(col("__ca").cast(dec38) * col("n_b") -
          col("__cb").cast(dec38) * col("n_a")) *
        (col("__vn") - col("__v")).cast(dec38)).as("__num"))
    tot.join(num, by, "left")
      .select(groupOut(groupCol) ++ Seq(col("n_a"), col("n_b"),
        countOut(groupCol, "n_values"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          coalesce(col("__num"), lit(0L).cast(dec38)).cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))).as("w1")): _*)
  }

  /** Quantile normalization: map every distinct value of frame `b` onto
    * the value at the SAME quantile of frame `a` (nearest-rank — never
    * interpolated, the p70 contract) — the score-merging step when two
    * classifiers' quality scores must share one threshold scale, or when
    * a new crawl's length distribution is force-matched to a reference
    * before mixture math. For each distinct b-value v with cumulative
    * count cum_b(v), the target rank is ⌈cum_b(v)·n_a / n_b⌉ (exact
    * integer arithmetic) and `normalized` is a's value at that rank.
    * Output per distinct b value: (value, n — b rows at that value,
    * cum_b, target_rank longs, normalized — a's own value type, NULL
    * when a is empty). NULL values drop on both sides.
    *
    * 100 TB shape: both sides collapse to per-distinct-value counts with
    * [[PrefixSum]] scans; the rank lookup is [[AsofJoin]] FORWARD
    * (smallest a-cum ≥ target) over the two DISTINCT-value frames —
    * the categorical/integral contract: distinct-value cardinality ≪
    * row count (bin continuous signals first). */
  def quantileNormalize(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val v = col(s"`$valueCol`")
    def cum(df: DataFrame, cname: String) = PrefixSum.withKeyedRunningSums(
      df.filter(v.isNotNull).groupBy(v.as("__v")).agg(count(lit(1)).as("__c")),
      Nil, Seq("__v"), Seq("__c"))
      .select(col("__v"), col("__c"), col("cum___c").as(cname))
    val ac = cum(a, "__cuma").select(col("__v").as("__av"), col("__cuma"))
    val bc = cum(b, "__cumb")
    // totals off the two STAGED scans (max cumulative = side total) —
    // re-aggregating the raw sides would re-run both corpus counts
    val na = ac.agg(coalesce(max(col("__cuma")), lit(0L)).as("__na"))
    val nb = bc.agg(coalesce(max(col("__cumb")), lit(0L)).as("__nb"))
    val targets = bc.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .withColumn("target_rank",
        expr("(__cumb * __na + __nb - 1) div __nb"))
      .select(col("__v"), col("__c"), col("__cumb"), col("target_rank"))
    AsofJoin(
        targets.withColumn("__k", lit(0)),
        ac.withColumn("__k", lit(0)),
        keyCols = Seq("__k"), leftTsCol = "target_rank",
        rightTsCol = "__cuma", valueCols = Seq("__av"),
        strategy = "forward")
      .select(col("__v").as("value"), col("__c").as("n"),
        col("__cumb").as("cum_b"), col("target_rank"),
        col("asof___av").as("normalized"))
  }

  /** Per-group single-changepoint detection over an INTEGRAL series —
    * the "when did this source's volume shift?" monitor: the split t
    * minimizing the two-segment sum of squared errors, i.e. the first
    * step of binary-segmentation changepoint detection (Scott & Knott
    * 1974). Input rows are one observation each (`orderCol` the series
    * axis, `valueCol` the integral measurement — counts, not rates).
    * Per group: (groupCol, n long, t_split — the orderCol value of the
    * LAST left-segment row, n_left, n_right longs, mean_left,
    * mean_right, sse_reduction doubles — total-SSE drop vs no split;
    * groups with n < 2 report NULL split columns). NULL order/value
    * rows drop.
    *
    * Exactness: with L/R the exact segment sums, the split objective
    * g(t) = (L²·n_R + R²·n_L)/(n_L·n_R) is ONE division of exact
    * DECIMAL(38,0) integers per candidate — identical cross-engine, so
    * the argmax (ties → earliest t) is deterministic; means and the
    * reduction g − T²/n are single divisions / one subtraction of such
    * values. Bound: |value|·n per group must stay < 10¹⁹ so L² fits
    * DECIMAL(38,0).
    *
    * 100 TB shape: one per-group window pass (prefix sum + position +
    * totals share a single partition-by-group sort) and one top-1
    * window — groups parallelize; a group is its own series length,
    * the per-group-window contract (q07). Bin raw event streams to
    * per-bucket counts FIRST ([[graft.operators.Sessionize]]) — the
    * series should be buckets, not rows. */
  def changepointBinary(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df
      .filter(col(s"`$groupCol`").isNotNull && col(s"`$orderCol`").isNotNull &&
        col(s"`$valueCol`").isNotNull)
      .select(col(s"`$groupCol`").as("__g"), col(s"`$orderCol`").as("__x"),
        col(s"`$valueCol`").cast("long").as("__y"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__x"))
    val wg = Window.partitionBy(col("__g"))
    val scanned = base
      .withColumn("__pos", row_number().over(w).cast("long"))
      .withColumn("__L",
        sum(col("__y")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("__T", sum(col("__y")).over(wg))
    val cands = scanned.filter(col("__pos") < col("__n"))
      .withColumn("__R", col("__T") - col("__L"))
      .withColumn("__nl", col("__pos"))
      .withColumn("__nr", col("__n") - col("__pos"))
      .withColumn("__f",
        (col("__L").cast(dec38) * col("__L") * col("__nr") +
         col("__R").cast(dec38) * col("__R") * col("__nl")).cast("double") /
        (col("__nl") * col("__nr")).cast("double"))
    val ranked = cands.withColumn("__rk",
      row_number().over(Window.partitionBy(col("__g"))
        .orderBy(col("__f").desc, col("__pos").asc)))
      .filter(col("__rk") === 1)
    val totals = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("__Tt"))
    totals.join(ranked.select(col("__g"), col("__x").as("t_split"),
        col("__nl").as("n_left"), col("__nr").as("n_right"),
        (col("__L").cast("double") / col("__nl").cast("double")).as("mean_left"),
        (col("__R").cast("double") / col("__nr").cast("double")).as("mean_right"),
        col("__f")), Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"), col("t_split"),
        col("n_left"), col("n_right"), col("mean_left"), col("mean_right"),
        (col("__f") - (col("__Tt").cast(dec38) * col("__Tt")).cast("double") /
          col("n").cast("double")).as("sse_reduction"))
  }

  /** Two-sample Cramér–von Mises drift statistic: T = (n·m/N²) ·
    * Σ_x cnt(x)·(F_a(x) − F_b(x))² over the pooled sample — the
    * INTEGRATED-squared-distance companion to [[Profile.ksStatistic]]'s
    * sup: KS sees the single worst point, CvM accumulates distributed
    * shape drift a narrow spike can hide (Anderson 1962's two-sample
    * form). One row: (n_a, n_b longs, cvm double — NULL when either
    * side is empty). NULL values drop.
    *
    * Determinism contract: each ΔF is two divisions of exact integers;
    * each pooled-weight term cnt·ΔF² (two more IEEE ops) quantizes to
    * DECIMAL(25,12) and sums order-free; the final n·m/N² scaling is a
    * three-op IEEE tree shared verbatim with the oracle; report rounds
    * to 9 dp.
    *
    * 100 TB shape: [[Profile.ksStatistic]]'s exact posture — per-side
    * distinct-value counts, one full-outer merge, one [[PrefixSum]]
    * scan, a 1-row totals broadcast, one final aggregation. */
  def cramerVonMises(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val dec12 = DecimalType(25, 12)
    val cum = PrefixSum.withKeyedRunningSums(
      pairCounts(a, b, None, col(s"`$valueCol`")),
      Nil, Seq("__v"), Seq("__na", "__nb"))
    val totals = cum.agg(sum(col("__na")).as("__ta"),
      sum(col("__nb")).as("__tb"))
    val terms = cum.crossJoin(broadcast(totals))
      .withColumn("__df",
        col("cum___na").cast("double") / col("__ta").cast("double") -
          col("cum___nb").cast("double") / col("__tb").cast("double"))
      .withColumn("__t", ((col("__na") + col("__nb")).cast("double") *
        col("__df") * col("__df")).cast(dec12))
    terms.agg(max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        sum(col("__t")).as("__sum"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          round(col("n_a").cast("double") * col("n_b").cast("double") /
            ((col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b")).cast("double")) *
            col("__sum").cast("double"), 9)).as("cvm"))
  }

  /** PER-GROUP two-sample exact KS: the whole per-source drift panel in
    * ONE job — [[Profile.ksStatistic]] compares two frames globally;
    * at 100 TB the real question is "which SOURCES drifted", and
    * launching |sources| separate KS jobs rescans the corpus |sources|
    * times. Same exactness contract as the global op: the sup is
    * located on scaled integers |cum_a·n_b − cum_b·n_a| (DECIMAL(38,0),
    * no FP at the argmax), one division on report; `ks_at` is the
    * smallest value attaining the sup. Output per group present on
    * either side: (groupCol, n_a, n_b longs, ks double — NULL when a
    * side is empty, ks_at). NULL groups/values drop.
    *
    * 100 TB shape: per-side (group, value) counts (map-side
    * combinable), one full-outer merge, one
    * [[PrefixSum.withKeyedRunningSums]] scan — a giant source's value
    * grid spreads over partitions instead of one reducer — a
    * |groups|-row totals broadcast, and two grid-sized aggregations
    * (max, argmax join). */
  def ksByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val cum = PrefixSum.withKeyedRunningSums(
      pairCounts(a, b, Some(groupCol), col(s"`$valueCol`")),
      Seq("__g"), Seq("__v"), Seq("__na", "__nb"))
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___na")).as("__ta"), max(col("cum___nb")).as("__tb"))
    val scaled = cum.join(broadcast(totals), Seq("__g"))
      .withColumn("__sd", abs(col("cum___na").cast(dec38) * col("__tb") -
        col("cum___nb").cast(dec38) * col("__ta")))
    val sup = scaled.groupBy(col("__g")).agg(max(col("__sd")).as("__msd"))
    scaled.join(broadcast(sup), Seq("__g"))
      .filter(col("__sd") === col("__msd"))
      .groupBy(col("__g"))
      .agg(max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        max(col("__msd")).as("__m"), min(col("__v")).as("ks_at"))
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          col("__m").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double"))).as("ks"),
        col("ks_at"))
  }

  /** Trailing-window statistics over an integer-gridded series per
    * group — the rolling event-rate smoother behind "is this hour's
    * count anomalous vs the trailing day": per (group, x), the count of
    * grid points and decimal-exact mean of `yCol` over x ∈ [x−window+1,
    * x]. Output: (groupCol, xCol, yCol, trail_n long, trail_mean double
    * — decimal sum / count, ONE division). NULL rows drop.
    *
    * GRID CONTRACT (the [[changepointBinary]] posture): the input must
    * already be aggregated to one row per (group, x) — hourly/daily
    * counts, not raw events — so the per-group RANGE window runs over a
    * time-grid frame bounded by (groups × grid span), never row
    * cardinality. For raw-event smoothing aggregate first; that
    * aggregation is the only corpus-sized shuffle. */
  def trailingStats(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, window: Long): DataFrame = {
    require(window >= 1L, s"trailingStats: window must be >= 1, got $window")
    val g = col(s"`$groupCol`")
    val x = col(s"`$xCol`")
    val y = col(s"`$yCol`")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(g)
      .orderBy(x.asc)
      .rangeBetween(-(window - 1L), 0L)
    df.filter(g.isNotNull && x.isNotNull && y.isNotNull)
      .select(g.as(groupCol), x.cast("long").as(xCol), y.as(yCol))
      .withColumn("trail_n", count(lit(1)).over(w))
      .withColumn("trail_mean",
        sum(col(s"`$yCol`").cast(DecimalType(25, 6))).over(w).cast("double") /
          count(lit(1)).over(w).cast("double"))
  }

  /** Welch's unequal-variance t statistic + Cohen's d per group
    * (Welch 1947; Cohen 1988): the PARAMETRIC mean-shift test and its
    * effect size, completing the per-group drift battery's location
    * panel ([[mannWhitneyU]] grouped is the rank twin — Welch answers
    * "did the MEAN move and by how many pooled SDs", which a product
    * decision usually wants next to the nonparametric p-value).
    * Output per group: (groupCol, n_a, n_b longs, mean_a, mean_b,
    * t, df, cohens_d doubles — t/df NULL unless both sides have ≥ 2
    * rows and the standard error is positive; cohens_d NULL when the
    * pooled variance is 0; df is Welch–Satterthwaite). NULL
    * group/value rows drop.
    *
    * Determinism contract: sums and sums-of-squares quantize through
    * DECIMAL(25,9) (v·v is ONE IEEE multiply — exact for
    * integer-valued columns); means, variances (0-clamped against FP
    * residue), t, df and d are fixed IEEE trees mirrored in the
    * oracle; √ is correctly rounded on both engines.
    *
    * 100 TB shape: one map-side-combinable moment aggregation per
    * side, one group-keyed merge join — no window, no prefix scan. */
  def welchTByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`").cast("double")
    def moments(df: DataFrame, suffix: String) = df
      .filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"))
      .agg(count(lit(1)).as(s"n_$suffix"),
        sum(v.cast(dec25_9)).as(s"__s$suffix"),
        sum((v * v).cast(dec25_9)).as(s"__q$suffix"))
    def nD(s: String) = col(s"n_$s").cast("double")
    def mean(s: String) = col(s"__s$s").cast("double") / nD(s)
    def vr(s: String) = greatest(
      (nD(s) * col(s"__q$s").cast("double") -
        col(s"__s$s").cast("double") * col(s"__s$s").cast("double")) /
        (nD(s) * (nD(s) - lit(1.0))), lit(0.0))
    val se2 = vr("a") / nD("a") + vr("b") / nD("b")
    val tOk = col("n_a") > 1L && col("n_b") > 1L && se2 > 0.0
    val pooled = ((nD("a") - lit(1.0)) * vr("a") +
      (nD("b") - lit(1.0)) * vr("b")) /
      (nD("a") + nD("b") - lit(2.0))
    moments(a, "a").join(moments(b, "b"), Seq("__g"))
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
        mean("a").as("mean_a"), mean("b").as("mean_b"),
        when(tOk, (mean("a") - mean("b")) / sqrt(se2)).as("t"),
        when(tOk,
          (se2 * se2) /
            ((vr("a") / nD("a")) * (vr("a") / nD("a")) / (nD("a") - lit(1.0)) +
             (vr("b") / nD("b")) * (vr("b") / nD("b")) / (nD("b") - lit(1.0))))
          .as("df"),
        when(col("n_a") + col("n_b") > 2L && pooled > 0.0,
          (mean("a") - mean("b")) / sqrt(pooled)).as("cohens_d"))
  }

  /** Brown–Forsythe variance-shift test per group (Brown & Forsythe
    * 1974 — Levene's test centered at the MEDIAN, the robust standard):
    * did the SPREAD of this score move between snapshots, independent
    * of the mean shift [[welchTByGroup]] measures? z = |x − med_side|
    * per row; the statistic is the one-way ANOVA F of z over the two
    * sides, W = (N−2)·SSB/SSW with df (1, N−2). Output per group:
    * (groupCol, n_a, n_b longs, med_a, med_b, mad_mean_a, mad_mean_b
    * doubles — the mean absolute deviations being compared, bf_stat
    * double — NULL when either side has < 2 rows or SSW = 0, dof2
    * long — N−2). NULL group/value rows drop.
    *
    * Determinism contract: medians are exact nearest-rank
    * distinct-value picks (the integer-micros rule); z is one subtract
    * + abs on exact inputs; z and z·z quantize to DECIMAL(25,9)
    * (order-independent sums); means are single divisions; SSB/SSW are
    * fixed IEEE trees with per-side 0-clamps, mirrored in the oracle.
    *
    * 100 TB shape: per side, values collapse to per-(group, value)
    * counts and ONE [[PrefixSum.withKeyedRunningSums]] scan picks the
    * median (no per-group sort window); the |groups|-row median tables
    * broadcast back onto the VALUE-count frames (never raw rows — z
    * moments aggregate weighted by the counts), then one merge join of
    * two group-cardinality moment frames. */
  def brownForsytheByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    def sideMoments(df: DataFrame, suffix: String): DataFrame = {
      val counts = df.filter(g.isNotNull && v.isNotNull)
        .groupBy(g.as("__g"), v.as("__v")).agg(count(lit(1)).as("__c"))
      val cum = PrefixSum.withKeyedRunningSums(
        counts, Seq("__g"), Seq("__v"), Seq("__c"))
      val totals = cum.groupBy(col("__g")).agg(max(col("cum___c")).as("__n"))
      val med = cum.join(broadcast(totals), Seq("__g"))
        .filter(col("cum___c") >= expr("(__n * 500000L + 999999L) div 1000000L") &&
          col("cum___c") - col("__c") <
            expr("(__n * 500000L + 999999L) div 1000000L"))
        .select(col("__g"), col("__v").cast("double").as(s"med_$suffix"))
      // z moments off the VALUE-count frame, weighted by counts
      val z = abs(col("__v").cast("double") - col(s"med_$suffix"))
      counts.join(broadcast(med), Seq("__g"))
        .groupBy(col("__g"))
        .agg(sum(col("__c")).as(s"n_$suffix"),
          max(col(s"med_$suffix")).as(s"med_$suffix"),
          sum((col("__c").cast("double") * z).cast(dec25_9)).as(s"__sz$suffix"),
          sum((col("__c").cast("double") * z * z).cast(dec25_9))
            .as(s"__qz$suffix"))
    }
    def nD(s: String) = col(s"n_$s").cast("double")
    def zbar(s: String) = col(s"__sz$s").cast("double") / nD(s)
    def ssw(s: String) = greatest(
      col(s"__qz$s").cast("double") - nD(s) * zbar(s) * zbar(s), lit(0.0))
    val nTot = nD("a") + nD("b")
    val zAll = (col("__sza").cast("double") + col("__szb").cast("double")) / nTot
    val ssb = nD("a") * (zbar("a") - zAll) * (zbar("a") - zAll) +
      nD("b") * (zbar("b") - zAll) * (zbar("b") - zAll)
    val sswTot = ssw("a") + ssw("b")
    sideMoments(a, "a").join(sideMoments(b, "b"), Seq("__g"))
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
        col("med_a"), col("med_b"),
        zbar("a").as("mad_mean_a"), zbar("b").as("mad_mean_b"),
        when(col("n_a") > 1L && col("n_b") > 1L && sswTot > 0.0,
          (nTot - lit(2.0)) * ssb / sswTot).as("bf_stat"),
        (col("n_a") + col("n_b") - 2L).as("dof2"))
  }

  /** Per-group Jensen–Shannon divergence between the `keyCol` value
    * mixes of frames `a` and `b` (Lin 1991): JS = ½·Σ p·ln(p/m) +
    * ½·Σ q·ln(q/m) with m = (p+q)/2 — the bounded (≤ ln 2), symmetric
    * complement of grouped [[psi]]'s unbounded score: zero-probability
    * values need NO epsilon (a p = 0 term is exactly 0 by the x·ln x
    * limit convention), so a value seen on one side only contributes
    * its honest ½·ln 2 mass instead of an epsilon artifact. Output per
    * group: (groupCol, n_a, n_b, n_values longs, js double in
    * [0, ln 2] — NULL when either side is empty). NULL keys drop.
    *
    * Determinism contract: p and q are single divisions of exact
    * integers; m is one add and one divide-by-2 (exact halving); each
    * ln passes the ln9 9-dp decimal rounding (the p86 recipe); each
    * term is a fixed IEEE tree quantized to DECIMAL(25,9) before the
    * order-independent sum — hash-identical cross-engine.
    *
    * 100 TB shape: the grouped [[psi]] plan verbatim — two
    * map-side-combinable (group, value) counts, one full-outer merge,
    * a |groups|-row totals broadcast, one group aggregation. */
  def jsDivergenceByGroup(a: DataFrame, b: DataFrame, groupCol: String,
      keyCol: String): DataFrame = {
    val merged = Stager.stage(
      pairCounts(a, b, Some(groupCol), col(s"`$keyCol`")),
      s"js_grp_${java.util.UUID.randomUUID().toString.take(8)}")
    val totals = merged.groupBy(col("__g")).agg(
      sum(col("__na")).as("__ta"), sum(col("__nb")).as("__tb"))
    val shares = merged.join(broadcast(totals), Seq("__g"))
      .withColumn("__p", col("__na").cast("double") / col("__ta").cast("double"))
      .withColumn("__q", col("__nb").cast("double") / col("__tb").cast("double"))
      .withColumn("__m", (col("__p") + col("__q")) / lit(2.0))
    shares.groupBy(col("__g")).agg(
        max(col("__ta")).as("n_a"), max(col("__tb")).as("n_b"),
        count(lit(1)).as("n_values"),
        sum((when(col("__na") > 0L,
            lit(0.5) * (col("__p") * ln9(col("__p") / col("__m"))))
            .otherwise(lit(0.0)) +
          when(col("__nb") > 0L,
            lit(0.5) * (col("__q") * ln9(col("__q") / col("__m"))))
            .otherwise(lit(0.0))).cast(dec25_9)).as("__js"))
      .select(col("__g").as(groupCol), col("n_a"), col("n_b"),
        col("n_values"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          col("__js").cast("double")).as("js"))
  }

  /** Two-sided CUSUM change detection per group (Page 1954) over a
    * per-(group, x) series: S⁺ tracks upward shifts, S⁻ downward, each
    * resetting at zero — the classic "did the metric step-change"
    * monitor between [[mannKendallByGroup]]'s monotone test and
    * [[changepointBinary]]'s single split. The reference level is the
    * group's own mean (rounded to 9 dp so both engines subtract the
    * same constant); `k` is the slack per step (half the shift you
    * want to detect), `h` the alarm threshold. Output per (group, x):
    * (groupCol, x, y as given, cusum_pos, cusum_neg doubles, alarm_pos,
    * alarm_neg booleans — S > h). NULL group/x/y rows drop.
    *
    * Exactness: the max-reset recursion is rewritten as prefix sums —
    * S⁺_i = P_i − min_{j ≤ i}(0, P_j) with P the running sum of the
    * per-step deviations — and every deviation QUANTIZES to 9 dp
    * decimal before the scans, so the running sum, running min and
    * subtraction are all exact decimal arithmetic (order-robust); only
    * the report casts to double.
    *
    * Contract: one y per (group, x), the [[trailingStats]] grid
    * contract — the per-group running-sum/min windows are GRID-bounded
    * (feed an hourly/daily aggregate, never raw rows). */
  def cusumByGroup(df: DataFrame, groupCol: String, xCol: String,
      valueCol: String, h: Double, k: Double = 0.0): DataFrame = {
    require(h > 0.0, s"h must be positive, got $h")
    require(k >= 0.0, s"k must be >= 0, got $k")
    import org.apache.spark.sql.expressions.Window
    val dec9 = DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val x = col(s"`$xCol`")
    val y = col(s"`$valueCol`")
    val base = df.filter(g.isNotNull && x.isNotNull && y.isNotNull)
      .select(g.as("__g"), x.as("__x"), y.cast("double").as("__y"))
    val mu = base.groupBy(col("__g"))
      .agg(round((sum(col("__y").cast(dec9)).cast("double") /
        count(lit(1)).cast("double")).cast(DecimalType(25, 12)), 9)
        .cast("double").as("__mu"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val scanned = base.join(broadcast(mu), Seq("__g"))
      .withColumn("__dp", (col("__y") - col("__mu") - lit(k)).cast(dec9))
      .withColumn("__dn", (col("__mu") - col("__y") - lit(k)).cast(dec9))
      .withColumn("__pp", sum(col("__dp")).over(w))
      .withColumn("__pn", sum(col("__dn")).over(w))
      .withColumn("__mp", least(lit(0).cast(dec9), min(col("__pp")).over(w)))
      .withColumn("__mn", least(lit(0).cast(dec9), min(col("__pn")).over(w)))
    scanned.select(col("__g").as(groupCol), col("__x").as(xCol),
      col("__y").as(valueCol),
      (col("__pp") - col("__mp")).cast("double").as("cusum_pos"),
      (col("__pn") - col("__mn")).cast("double").as("cusum_neg"),
      ((col("__pp") - col("__mp")).cast("double") > h).as("alarm_pos"),
      ((col("__pn") - col("__mn")).cast("double") > h).as("alarm_neg"))
  }

  /** "Fightin' Words" corpus comparison (Monroe, Colaresi & Quinn 2008):
    * the k terms that most distinguish corpus A from corpus B by the
    * z-scored log-odds ratio under an informative Dirichlet prior drawn
    * from the POOLED corpus — the statistically honest version of the
    * "top distinctive keywords" report (raw log-odds overweights rare
    * terms; PMI overweights hapax; the prior + variance fix both).
    * Per term w with counts a_w/b_w, totals A/B and prior
    * α_w = α0·(a_w+b_w)/(A+B):
    *
    *   δ_w = ln((a_w+α_w)/(A+α0−a_w−α_w)) − ln((b_w+α_w)/(B+α0−b_w−α_w))
    *   z_w = δ_w / sqrt(1/(a_w+α_w) + 1/(b_w+α_w))
    *
    * Output: top `k` by (|z| DESC, term ASC) — (term, count_a, count_b
    * longs, delta, z doubles, rank int). z > 0 marks A-side terms.
    * Tokens are lowercased whitespace splits (the shared toks
    * contract); a degenerate single-term side (log of a non-positive
    * odds denominator) reports NULL delta/z and sorts last.
    *
    * Exactness: counts and the full-join union are exact; each ln rides
    * the 9-dp decimal contract (both engines' libm logs differ at
    * 1 ulp); δ, σ², z are fixed IEEE trees over those — so the |z|
    * RANKING agrees bit-for-bit, the DSIR-gate precedent.
    *
    * 100 TB shape: two map-side-combinable token counts, one full outer
    * join on the term (the only vocabulary-sized shuffle), one broadcast
    * totals row, and a TakeOrderedAndProject k-cut — the final
    * row_number window orders k rows, never the vocabulary. */
  def fightinWords(a: DataFrame, b: DataFrame, textCol: String,
      alpha0: Double = 10.0, k: Int = 50): DataFrame = {
    require(alpha0 > 0.0, s"alpha0 must be positive, got $alpha0")
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    def counts(df: DataFrame, out: String) = df
      .select(explode(split(lower(coalesce(col(s"`$textCol`"), lit(""))),
        "\\s+")).as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__t")).agg(count(lit(1)).as(out))
    val merged = Stager.stage(
      counts(a, "__ca").join(counts(b, "__cb"), Seq("__t"), "full_outer")
        .select(col("__t"),
          coalesce(col("__ca"), lit(0L)).as("__ca"),
          coalesce(col("__cb"), lit(0L)).as("__cb")),
      s"fightin_${java.util.UUID.randomUUID().toString.take(8)}")
    val totals = merged.agg(sum(col("__ca")).as("__A"), sum(col("__cb")).as("__B"))
    val scored = merged.crossJoin(broadcast(totals))
      .withColumn("__aw", lit(alpha0) *
        (col("__ca") + col("__cb")).cast("double") /
        (col("__A") + col("__B")).cast("double"))
      .withColumn("__da",
        col("__A").cast("double") + lit(alpha0) -
          col("__ca").cast("double") - col("__aw"))
      .withColumn("__db",
        col("__B").cast("double") + lit(alpha0) -
          col("__cb").cast("double") - col("__aw"))
      .withColumn("delta", when(col("__da") > 0.0 && col("__db") > 0.0,
        ln9((col("__ca").cast("double") + col("__aw")) / col("__da")) -
          ln9((col("__cb").cast("double") + col("__aw")) / col("__db"))))
      .withColumn("z", col("delta") / sqrt(
        lit(1.0) / (col("__ca").cast("double") + col("__aw")) +
          lit(1.0) / (col("__cb").cast("double") + col("__aw"))))
    scored
      .orderBy(abs(col("z")).desc_nulls_last, col("__t"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(abs(col("z")).desc_nulls_last, col("__t"))))
      .select(col("__t").as("term"), col("__ca").as("count_a"),
        col("__cb").as("count_b"), col("delta"), col("z"), col("rank"))
  }

  /** Per-group Mann–Kendall monotone-trend test (Mann 1945, Kendall
    * 1975) over a per-(group, x) SERIES — the nonparametric companion to
    * [[graft.operators.Profile.trendByGroup]]'s OLS slope: "is this
    * metric trending?" without assuming linearity or normal noise, the
    * standard first question over a per-type hourly event-rate or a
    * per-source daily quality score. S = Σ_{x_i < x_j} sign(y_j − y_i);
    * Var(S) carries the tie correction
    * (n(n−1)(2n+5) − Σ_t t(t−1)(2t+5))/18 over y-tie group sizes t; the
    * reported z applies the ±1 continuity correction (z = 0 when S = 0,
    * NULL when Var = 0 or n < 2). Output: (groupCol, n long, s long,
    * var_s, z doubles).
    *
    * Contract: one y per (group, x) — the [[trailingStats]] grid
    * contract (feed an aggregated hourly/daily grid, not raw rows; the
    * caller owns the aggregation so the trend's time unit is explicit).
    * NULL group/x/y rows drop.
    *
    * Exactness: S and both tie terms are exact integer sums (sign is
    * ±1/0 on exact value comparisons); var_s and z are fixed IEEE trees
    * over the exact integers.
    *
    * 100 TB shape: the pair frame is an equi-join ON THE GROUP of the
    * grid with itself — group-bounded grid² pairs (a 2-year hourly grid
    * is 17k rows → 150M integer pairs per group, map-side summed), never
    * row-cardinality; the tie table is one (group, y) count aggregation.
    * Raw-row trend questions belong to [[Profile.trendByGroup]] /
    * [[Profile.spearmanByGroup]], which never build pairs. */
  def mannKendallByGroup(df: DataFrame, groupCol: String, xCol: String,
      valueCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val x = col(s"`$xCol`")
    val y = col(s"`$valueCol`")
    val base = df.filter(g.isNotNull && x.isNotNull && y.isNotNull)
      .select(g.as("__g"), x.as("__x"), y.as("__y"))
    val a = base.select(col("__g"), col("__x").as("__xa"), col("__y").as("__ya"))
    val b = base.select(col("__g"), col("__x").as("__xb"), col("__y").as("__yb"))
    val s = a.join(b, Seq("__g"))
      .filter(col("__xa") < col("__xb"))
      .groupBy(col("__g"))
      .agg(sum(when(col("__yb") > col("__ya"), 1L)
          .when(col("__yb") < col("__ya"), -1L).otherwise(0L)).as("s"))
    val ties = base.groupBy(col("__g"), col("__y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__g"))
      .agg(sum(col("__t")).as("n"),
        sum(col("__t") * (col("__t") - 1L) * (lit(2L) * col("__t") + 5L))
          .as("__tsum"))
    ties.join(s, Seq("__g"), "left")
      .withColumn("__vs",
        (col("n") * (col("n") - 1L) * (lit(2L) * col("n") + 5L) -
          col("__tsum")).cast("double") / lit(18.0))
      .select(col("__g").as(groupCol), col("n"),
        coalesce(col("s"), lit(0L)).as("s"),
        when(col("n") >= 2L, col("__vs")).as("var_s"),
        when(col("n") >= 2L && col("__vs") > 0.0,
          when(coalesce(col("s"), lit(0L)) > 0L,
            (coalesce(col("s"), lit(0L)) - 1L).cast("double") /
              sqrt(col("__vs")))
          .when(coalesce(col("s"), lit(0L)) < 0L,
            (coalesce(col("s"), lit(0L)) + 1L).cast("double") /
              sqrt(col("__vs")))
          .otherwise(lit(0.0))).as("z"))
  }

  /** Per-group Theil–Sen robust slope (Theil 1950, Sen 1968) over a
    * per-(group, x) series: the MEDIAN of all pairwise slopes
    * (y_j − y_i)/(x_j − x_i), plus the matching intercept
    * median(y − slope·x) — the trend line one corrupted hour can't
    * drag, the robust companion [[mannKendallByGroup]]'s test decides
    * to act on. Output: (groupCol, n long — series points, n_slopes
    * long, slope, intercept doubles — NULL when n < 2).
    *
    * Determinism: medians are LOWER nearest-rank order statistics
    * (rank ⌈m/2⌉ of the sorted multiset — the value at a sorted
    * position is unique regardless of tie order); each slope is ONE
    * IEEE division of exact inputs, so both engines sort identical
    * doubles.
    *
    * Contract: one y per (group, x), the [[trailingStats]] grid
    * contract. NULL group/x/y rows drop.
    *
    * 100 TB shape: group-bounded grid² pair frame (the
    * [[mannKendallByGroup]] cost model) and two bounded per-group rank
    * windows over slopes/residuals — bounded because the GRID is
    * bounded (17k hourly points → 150M slopes per group at the extreme;
    * the window is per-group-bounded by contract, not corpus-sized).
    * Raw-row robust location belongs to [[Profile.robustStats]]. */
  def theilSenByGroup(df: DataFrame, groupCol: String, xCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = col(s"`$groupCol`")
    val x = col(s"`$xCol`")
    val y = col(s"`$valueCol`")
    val base = df.filter(g.isNotNull && x.isNotNull && y.isNotNull)
      .select(g.as("__g"), x.cast("double").as("__x"),
        y.cast("double").as("__y"))
    val a = base.select(col("__g"), col("__x").as("__xa"), col("__y").as("__ya"))
    val b = base.select(col("__g"), col("__x").as("__xb"), col("__y").as("__yb"))
    val slopes = a.join(b, Seq("__g"))
      .filter(col("__xa") < col("__xb"))
      .select(col("__g"),
        ((col("__yb") - col("__ya")) / (col("__xb") - col("__xa"))).as("__sl"))
    val wS = Window.partitionBy(col("__g")).orderBy(col("__sl"))
    val wC = Window.partitionBy(col("__g"))
    val slope = slopes
      .withColumn("__rn", row_number().over(wS))
      .withColumn("__m", count(lit(1)).over(wC))
      .filter(col("__rn") === expr("(__m + 1L) div 2L"))
      .select(col("__g"), col("__m").as("n_slopes"), col("__sl").as("slope"))
    val counts = base.groupBy(col("__g")).agg(count(lit(1)).as("n"))
    val resid = base.join(broadcast(slope), Seq("__g"))
      .select(col("__g"), col("n_slopes"), col("slope"),
        (col("__y") - col("slope") * col("__x")).as("__r"))
    val wR = Window.partitionBy(col("__g")).orderBy(col("__r"))
    val picked = resid
      .withColumn("__rn", row_number().over(wR))
      .withColumn("__m", count(lit(1)).over(wC))
      .filter(col("__rn") === expr("(__m + 1L) div 2L"))
      .select(col("__g"), col("n_slopes"), col("slope"),
        col("__r").as("intercept"))
    counts.join(picked, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n"),
        coalesce(col("n_slopes"), lit(0L)).as("n_slopes"),
        col("slope"), col("intercept"))
  }

  /** Burrows' Delta stylometric distance between groups (Burrows 2002;
    * Evert et al. 2017): over the corpus's `topN` most frequent words,
    * z-score each group's RELATIVE word frequency against the across-
    * group distribution, then Delta(a, b) = mean |z_a − z_b| — the
    * classic authorship/provenance distance that catches "these two
    * sources are the same generator wearing different hats" when
    * document-level near-dup misses it (style lives in function-word
    * RATES, not shared strings). Output one row per unordered group
    * pair (g_a < g_b): (g_a, g_b, n_terms long — words with nonzero
    * across-group variance, delta double, 9 dp). Groups with zero
    * tokens drop; words whose frequency is CONSTANT across groups
    * carry no signal and leave the mean's denominator.
    *
    * Exactness: relative frequencies are single divisions of exact
    * counts quantized to 9 dp; the per-word mean/stddev ride exact
    * decimal sums over the FULL group×word grid (zero cells included —
    * dropping them inflates rare-word variance, the classic bug);
    * stddev is population (÷|G|), one IEEE sqrt; each |z_a − z_b|
    * quantizes to 9 dp before the order-free decimal sum.
    *
    * 100 TB shape: ONE token-count aggregation (map-side) — the
    * group×term count frame is STAGED ([[Stager.stage]]) before the five
    * consumers fan out (topN, per-group totals, the grid join), because
    * without staging Catalyst re-executes the corpus-sized termStream
    * scan once per consumer (the embeddingCovariance staging rationale).
    * After the stage, EVERYTHING runs on the |G|·topN grid and the
    * |G|²·topN pair frame — bounded by group cardinality and the word
    * budget, never corpus-sized. */
  def burrowsDelta(docs: DataFrame, groupCol: String, textCol: String,
      topN: Int = 50): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val g = col(s"`$groupCol`")
    val counts = Stager.stage(
      graft.functions.TextFunctions
        .termStream(docs.filter(g.isNotNull), Seq(g), textCol)
        .groupBy(g.as("__g"), col("__term"))
        .agg(count(lit(1)).as("__c")),
      "burrows_counts")
    val top = counts.groupBy(col("__term"))
      .agg(sum(col("__c")).as("__tot"))
      .orderBy(col("__tot").desc, col("__term"))
      .limit(topN)
      .select(col("__term"))
    val totals = counts.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    // FULL grid: every (group, top word) cell, zero counts included
    val grid = totals.crossJoin(broadcast(top))
      .join(counts, Seq("__g", "__term"), "left")
      .withColumn("__f", round(
        (coalesce(col("__c"), lit(0L)).cast("double") /
          col("__n").cast("double")).cast(DecimalType(25, 12)), 9)
        .cast(dec25_9))
    val nGroups = totals.count() // bounded: group cardinality (0 is fine:
    // every downstream frame is then empty with the right schema)
    val wordStats = grid.groupBy(col("__term"))
      .agg(sum(col("__f")).as("__sf"),
        // f^2 in DOUBLE then 9-dp quantized: a decimal x decimal product
        // at (25,9) overflows precision 38 and the two engines re-round
        // DIFFERENTLY (the p228 class)
        sum(round((col("__f").cast("double") * col("__f").cast("double"))
          .cast(DecimalType(25, 12)), 9).cast(dec25_9)).as("__sff"))
      .withColumn("__mean", col("__sf").cast("double") / lit(nGroups.toDouble))
      .withColumn("__var",
        col("__sff").cast("double") / lit(nGroups.toDouble) -
          col("__mean") * col("__mean"))
      .filter(col("__var") > 0.0)
      .select(col("__term"), col("__mean"), sqrt(col("__var")).as("__sd"))
    val z = grid.join(broadcast(wordStats), Seq("__term"))
      .select(col("__g"), col("__term"),
        ((col("__f").cast("double") - col("__mean")) / col("__sd")).as("__z"))
    val za = z.select(col("__g").as("g_a"), col("__term"), col("__z").as("__za"))
    val zb = z.select(col("__g").as("g_b"), col("__term"), col("__z").as("__zb"))
    za.join(zb, Seq("__term"))
      .filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("n_terms"),
        round((sum(round(abs(col("__za") - col("__zb"))
            .cast(DecimalType(25, 12)), 9).cast(dec25_9)).cast("double") /
          count(lit(1)).cast("double")).cast(DecimalType(25, 12)), 9)
          .cast("double").as("delta"))
  }
}
