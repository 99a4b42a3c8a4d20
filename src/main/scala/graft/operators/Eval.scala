package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Ranking-metric evaluation for corpus filters (beyond-reference per
  * SURVEY.md §2.4): a quality/domain classifier is only trustworthy if
  * its score actually separates the classes, and the metric every
  * filtering pipeline reports is AUC — here the exact Mann–Whitney
  * formulation with the standard midrank tie correction
  * (AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)).
  *
  * Exactness and engine portability: ranks are never materialized per
  * row — scores aggregate per DISTINCT value, the tie block's doubled
  * midrank 2·r̄ = 2·cumBefore + t + 1 is an integer, and
  * AUC = (Σ⁺2r̄ − n⁺(n⁺+1)) / (2·n⁺·n⁻) is ONE division of two exact
  * integers — bit-identical in any engine, no FP accumulation anywhere.
  *
  * 100 TB shape: one (group, score) count aggregation (map-side
  * combinable — raw rows collapse before any sort), one per-group
  * window over the DISTINCT-score frame (a single range exchange +
  * sort of distinct values, not rows), one final aggregation. The
  * integer sums hold exactly to ~2·10⁹ rows per group (2n² < 2⁶³);
  * past that, swap the three sums to DECIMAL(38,0) — same plan, exact
  * to 10³⁸ — at the cost of the decimal→double cast's 1-ulp
  * cross-engine caveat on the final division. */
object Eval {

  /** Per-group AUC of `scoreCol` against boolean `labelCol` (true =
    * positive). Rows with a NULL score or label are dropped — an
    * unlabeled row must not silently count as a negative. Output:
    * (groupCol, n_pos long, n_neg long, auc double — NULL when either
    * class is empty, where AUC is undefined). */
  def aucByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val s = col(s"`$scoreCol`")
    val lbl = col(s"`$labelCol`")
    val perScore = df
      .filter(s.isNotNull && lbl.isNotNull)
      .groupBy(g, s.as("__s"))
      .agg(count(lit(1)).as("__t"),
        sum(when(lbl, 1L).otherwise(0L)).as("__p"))
    val w = Window.partitionBy(g).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("__cb", coalesce(sum(col("__t")).over(w), lit(0L)))
      .groupBy(g)
      .agg(
        sum(col("__p")).as("n_pos"),
        sum(col("__t") - col("__p")).as("n_neg"),
        sum(col("__p") * (col("__cb") * 2L + col("__t") + 1L)).as("__r2"))
      .withColumn("auc",
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          (col("__r2") - col("n_pos") * (col("n_pos") + 1L)).cast("double") /
            (col("n_pos") * col("n_neg") * 2L).cast("double")))
      .select(g, col("n_pos"), col("n_neg"), col("auc"))
  }

  /** Recall/precision of an approximate PAIR set against an exact
    * reference pair set — the blocking-quality audit for any candidate
    * generator (MinHash-LSH vs the exact prefix join, SimHash blocking
    * vs brute force): [[graft.operators.Similarity.recallAtK]]'s dedup
    * counterpart. Pairs match UNORDERED (each side canonicalizes to
    * (min, max) and dedups), so emit order never matters. One row:
    * (n_approx, n_exact, n_hit long, recall, precision double — NULL
    * where the denominator set is empty). Exact integer counts, one
    * IEEE division each.
    *
    * 100 TB shape: two distinct-pair aggregations + one equi-join on
    * the canonical pair key; three 1-row aggregates cross-join at the
    * end. Nothing besides pair ids ever shuffles. */
  def pairRecall(approx: DataFrame, exact: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    def canon(df: DataFrame): DataFrame = df.select(
        least(col(s"`$aCol`"), col(s"`$bCol`")).as("__pa"),
        greatest(col(s"`$aCol`"), col(s"`$bCol`")).as("__pb"))
      .filter(col("__pa").isNotNull && col("__pb").isNotNull)
      .distinct()
    val ap = canon(approx)
    val ex = canon(exact)
    ap.agg(count(lit(1)).as("n_approx"))
      .crossJoin(ex.agg(count(lit(1)).as("n_exact")))
      .crossJoin(ap.join(ex, Seq("__pa", "__pb")).agg(count(lit(1)).as("n_hit")))
      .select(col("n_approx"), col("n_exact"), col("n_hit"),
        when(col("n_exact") > 0L,
          col("n_hit").cast("double") / col("n_exact").cast("double")).as("recall"),
        when(col("n_approx") > 0L,
          col("n_hit").cast("double") / col("n_approx").cast("double")).as("precision"))
  }

  /** Cohen's kappa inter-annotator agreement (Cohen 1960) over two
    * categorical label columns — the labeled-data QA gate run before any
    * human- or model-annotated corpus is trusted: raw agreement p_o
    * corrected for the agreement p_e two independent annotators with
    * these marginals would reach by chance. One row: (n, n_agree long,
    * po, pe, kappa double — (p_o − p_e)/(1 − p_e), NULL when n = 0 or
    * p_e = 1, i.e. both raters constant). Rows where either label is
    * NULL drop (unlabeled, not a disagreement).
    *
    * Exactness: agreement and the marginal cross products Σ n_a·n_b are
    * exact integers (DECIMAL(38,0)-accumulated); p_o, p_e, kappa are a
    * fixed IEEE tree over them.
    *
    * 100 TB shape: one pass for totals, two marginal aggregations over
    * label cardinality, one category-keyed equi-join of the (tiny)
    * marginal frames; the staged base feeds all three. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = Stager.stage(
      df.filter(col(s"`$aCol`").isNotNull && col(s"`$bCol`").isNotNull)
        .select(col(s"`$aCol`").cast("string").as("__a"),
          col(s"`$bCol`").cast("string").as("__b")),
      s"kappa_base_${java.util.UUID.randomUUID().toString.take(8)}")
    val tot = base.agg(count(lit(1)).as("n"),
      sum(when(col("__a") === col("__b"), 1L).otherwise(0L)).as("n_agree"))
    val ma = base.groupBy(col("__a")).agg(count(lit(1)).as("__na"))
    val mb = base.groupBy(col("__b")).agg(count(lit(1)).as("__nb"))
    val cross = ma.join(mb, ma("__a") === mb("__b"))
      .agg(coalesce(sum((col("__na") * col("__nb")).cast(dec38)),
        lit(0).cast(dec38)).as("__pesum"))
    tot.crossJoin(cross)
      .withColumn("po", when(col("n") > 0L,
        col("n_agree").cast("double") / col("n").cast("double")))
      .withColumn("pe", when(col("n") > 0L, col("__pesum").cast("double") /
        (col("n").cast("double") * col("n").cast("double"))))
      .withColumn("kappa", when(col("pe") < 1.0,
        (col("po") - col("pe")) / (lit(1.0) - col("pe"))))
      .select(col("n"), col("n_agree"), col("po"), col("pe"), col("kappa"))
  }

  /** Reliability-diagram calibration bins for a [0,1] score against a
    * boolean label — the "does prob 0.8 mean 80%?" audit run on every
    * quality/toxicity classifier before its threshold gates a corpus
    * (Niculescu-Mizil & Caruana 2005 popularized the diagnostic). Rows
    * with NULL score or label drop; out-of-range scores clamp into the
    * edge bins. Output, one row per OBSERVED bin (empty bins are
    * absent): (bin long — floor(score·nBins) clamped to nBins−1,
    * bin_lo double — bin/nBins, n, n_pos long, mean_score double —
    * DECIMAL(25,9)-accumulated, frac_pos double). A well-calibrated
    * score has mean_score ≈ frac_pos per row.
    *
    * 100 TB shape: one map-side-combinable aggregation over ≤ nBins
    * groups; nothing else shuffles. */
  def calibrationCurve(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val s = col(s"`$scoreCol`").cast("double")
    val l = col(s"`$labelCol`")
    df.filter(s.isNotNull && l.isNotNull)
      .select(greatest(least(floor(s * nBins).cast("long"),
          lit(nBins.toLong - 1L)), lit(0L)).as("bin"),
        s.as("__s"), l.cast("boolean").as("__l"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("n_pos"),
        (sum(col("__s").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("mean_score"))
      .select(col("bin"),
        (col("bin").cast("double") / lit(nBins.toDouble)).as("bin_lo"),
        col("n"), col("n_pos"), col("mean_score"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("frac_pos"))
  }

  /** Krippendorff's alpha for nominal labels (Krippendorff, "Content
    * Analysis", 2004) — the inter-annotator agreement statistic that,
    * unlike [[cohenKappa]], handles ANY number of raters per item and
    * missing ratings, which is what real labeling campaigns produce.
    * Input is LONG format: one row per rating (itemCol, labelCol) —
    * the rater identity is irrelevant to the statistic. Items with
    * fewer than 2 ratings are unpairable and drop (the standard
    * treatment); rows with NULL item or label drop. One row:
    * (n_items, n_ratings, n_labels longs — over pairable items only,
    * d_o double — Σ_i (m_i² − Σ_c n_ic²)/(m_i − 1), the within-item
    * disagreement, d_e double — (N² − Σ_c n_c²)/(N − 1), the expected
    * disagreement, alpha double — 1 − d_o/d_e, NULL when d_e = 0,
    * i.e. every rating is one label).
    *
    * Exactness: all pair counts (m_i² − Σn_ic², N² − Σn_c²) are exact
    * DECIMAL(38,0) integers; each item's term takes ONE IEEE division
    * and quantizes to DECIMAL(25,9) for an order-independent sum;
    * d_e and alpha are a fixed IEEE tree over the exact totals.
    *
    * 100 TB shape: one hash shuffle to (item, label) counts (map-side
    * combinable), one item rollup, one label rollup — frames shrink at
    * every step; nothing row-sized shuffles twice. */
  def krippendorffAlpha(df: DataFrame, itemCol: String, labelCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec25_9 = org.apache.spark.sql.types.DecimalType(25, 9)
    val item = col(s"`$itemCol`")
    val label = col(s"`$labelCol`")
    // staged: the (item, label) count frame feeds the item terms AND the
    // label marginals — unstaged, the corpus shuffle re-runs per consumer
    val counts = Stager.stage(
      df.filter(item.isNotNull && label.isNotNull)
        .groupBy(item.as("__i"), label.cast("string").as("__c"))
        .agg(count(lit(1)).as("__n")),
      s"kripp_counts_${java.util.UUID.randomUUID().toString.take(8)}")
    val items = counts.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__m"),
        sum((col("__n") * col("__n")).cast(dec38)).as("__ss"))
      .filter(col("__m") >= 2L)
    val dO = items.agg(
      count(lit(1)).as("n_items"),
      // m is a per-item RATER count — m*m rides plain longs (the p113
      // na*nb pattern); only the corpus-sized n_ratings² below needs
      // decimal-first arithmetic
      sum(((((col("__m") * col("__m")).cast(dec38) - col("__ss")).cast("double")) /
        (col("__m") - 1L).cast("double")).cast(dec25_9)).as("__do"))
    // label marginals over PAIRABLE items only
    val pairable = counts.join(items.select(col("__i")), Seq("__i"))
    val labels = pairable.groupBy(col("__c")).agg(sum(col("__n")).as("__nc"))
    val dE = labels.agg(
      coalesce(sum(col("__nc")), lit(0L)).as("n_ratings"),
      count(lit(1)).as("n_labels"),
      coalesce(sum((col("__nc").cast(dec38) * col("__nc"))),
        lit(0).cast(dec38)).as("__ncss"))
    dO.crossJoin(dE)
      .withColumn("d_o", col("__do").cast("double"))
      .withColumn("d_e", when(col("n_ratings") > 1L,
        (col("n_ratings").cast(dec38) * col("n_ratings") - col("__ncss"))
          .cast("double") / (col("n_ratings") - 1L).cast("double")))
      .select(col("n_items"), col("n_ratings"), col("n_labels"),
        col("d_o"), col("d_e"),
        when(col("d_e") > 0.0,
          lit(1.0) - col("d_o") / col("d_e")).as("alpha"))
  }

  /** Per-group average precision (AP — the area under the
    * precision–recall curve by the standard step interpolation): the
    * retrieval/filter metric that, unlike [[aucByGroup]]'s AUC, weighs
    * the TOP of the ranking where a curation pipeline actually cuts.
    * AP = (1/n⁺)·Σ_{k: rel_k} P@k with P@k = cumPos_k/k over the ranking
    * by `scoreCol` DESC. Ties break deterministically by `tieCol` ASC —
    * AP is order-dependent, so an explicit total order is part of the
    * metric's definition here (the same contract as q10_topk). Rows with
    * NULL score or label drop. Output per group: (n long, n_pos long,
    * avg_precision double — NULL when the group has no positives).
    *
    * Exactness: each P@k is ONE IEEE division of exact integers rounded
    * through the 9-dp decimal contract; relevant terms accumulate in
    * DECIMAL(25,15) (order-independent); the final mean is one more
    * division rounded the same way.
    *
    * NULL group/tie rows also drop ((score, tie) must be distinct
    * non-null tuples within a group — the
    * [[PrefixSum.withKeyedRunningSums]] order contract; feed a unique
    * id as the tiebreak).
    *
    * 100 TB shape (the r13 migration off the per-group sort window):
    * rank and running positive count ride ONE
    * [[PrefixSum.withKeyedRunningSums]] scan over (−score, tie) — a
    * giant group (one query with a corpus-sized candidate list) never
    * sorts through a single reducer — then one aggregation. */
  def avgPrecisionByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, tieCol: String): DataFrame = {
    val base = df
      .filter(col(s"`$groupCol`").isNotNull &&
        col(s"`$scoreCol`").isNotNull && col(s"`$labelCol`").isNotNull &&
        col(s"`$tieCol`").isNotNull)
      .select(col(s"`$groupCol`").as("__g"),
        negate(col(s"`$scoreCol`").cast("double")).as("__ns"),
        col(s"`$tieCol`").as("__tb"),
        col(s"`$labelCol`").cast("boolean").as("__l"),
        lit(1L).as("__one"))
      .withColumn("__posc", when(col("__l"), 1L).otherwise(0L))
    val ranked = PrefixSum.withKeyedRunningSums(
        base, Seq("__g"), Seq("__ns", "__tb"), Seq("__one", "__posc"))
      .withColumn("__prec",
        round((col("cum___posc").cast("double") /
          col("cum___one").cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double"))
    ranked.groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__l"), col("__prec").cast(DecimalType(25, 15))))
          .as("__sum"))
      .select(col(s"`$groupCol`"), col("n"), col("n_pos"),
        when(col("n_pos") > 0L,
          round((col("__sum").cast("double") / col("n_pos").cast("double"))
            .cast(DecimalType(25, 12)), 9).cast("double"))
          .as("avg_precision"))
  }

  /** Expected Calibration Error (Naeini et al. 2015) over equal-width
    * score bins — the single-number companion to
    * [[calibrationCurve]]'s reliability diagram: ECE = Σ_b (n_b/N)·
    * |acc_b − conf_b|, plus MCE = max_b |acc_b − conf_b|. Scores are
    * probabilities in [0, 1] (out-of-range values clamp into the edge
    * bins, the calibrationCurve rule); rows with NULL score or label
    * drop. One row: (n long, n_bins_used long, ece double, mce double —
    * both NULL on an empty input).
    *
    * Exactness: per-bin conf is decimal-sum/count (IEEE-identical), acc
    * is one integer division, their gap and the n_b·gap weight are
    * single IEEE ops on identical doubles; weighted terms accumulate in
    * DECIMAL(25,15); ECE is one final division rounded through the 9-dp
    * contract; MCE is a raw max of identical doubles (no decimal
    * round-trip — max is order-independent).
    *
    * 100 TB shape: one map-side-combinable aggregation to ≤ nBins rows,
    * then a constant-size reduce — no window, no join. */
  def expectedCalibrationError(df: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins > 0, "expectedCalibrationError: nBins must be positive")
    val base = df
      .filter(col(s"`$scoreCol`").isNotNull && col(s"`$labelCol`").isNotNull)
      .select(col(s"`$scoreCol`").cast("double").as("__s"),
        col(s"`$labelCol`").cast("boolean").as("__l"))
      .withColumn("__bin", greatest(least(
        floor(col("__s") * nBins).cast("long"), lit(nBins - 1L)), lit(0L)))
    val bins = base.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("__np"),
        sum(col("__s").cast(DecimalType(25, 9))).as("__ss"))
      .withColumn("__conf", col("__ss").cast("double") / col("__n").cast("double"))
      .withColumn("__gap",
        abs(col("__np").cast("double") / col("__n").cast("double") - col("__conf")))
    bins.agg(sum(col("__n")).as("n"), count(lit(1)).as("n_bins_used"),
        sum((col("__n").cast("double") * col("__gap"))
          .cast(DecimalType(25, 15))).as("__wsum"),
        max(col("__gap")).as("__mce"))
      .select(col("n"), col("n_bins_used"),
        when(col("n") > 0L,
          round((col("__wsum").cast("double") / col("n").cast("double"))
            .cast(DecimalType(25, 12)), 9).cast("double")).as("ece"),
        when(col("n") > 0L, col("__mce")).as("mce"))
  }

  /** Split-conformal calibration (Vovk et al.; Angelopoulos & Bates
    * 2021): from a calibration sample of nonconformity scores, the
    * finite-sample threshold q̂ = the ⌈(n+1)(1−α)⌉-th smallest score —
    * any test point with score ≤ q̂ is "covered", and exchangeability
    * guarantees coverage ≥ 1−α. The distribution-free layer a pipeline
    * puts on top of an uncalibrated quality/classifier score
    * ([[calibrationCurve]] diagnoses miscalibration; this SIDESTEPS it).
    * `alphaPermille` is α·1000 (100 = 90% target coverage) so the rank
    * stays pure integer arithmetic. One row: (n_cal, rank longs, qhat —
    * the calibration score's own type, n_test, n_covered longs,
    * coverage double — n_covered/n_test, NULL when the test side is
    * empty or there is no calibration data). NULL scores drop on both
    * sides; rank clamps to n_cal (degenerate tiny-n case).
    *
    * Exactness: the rank is exact integer arithmetic; q̂ is a SELECTED
    * raw value (nearest-rank, never interpolated — the p70 contract);
    * coverage is one integer division.
    *
    * 100 TB shape: the calibration side collapses to per-distinct-value
    * counts and the nearest-rank pick rides a [[PrefixSum]] scan (the
    * quantileShift posture); the 1-row q̂ then broadcasts into a single
    * test-side aggregation — no sort of raw rows anywhere. */
  def conformalCalibration(cal: DataFrame, test: DataFrame, scoreCol: String,
      alphaPermille: Long = 100L): DataFrame = {
    require(alphaPermille > 0L && alphaPermille < 1000L,
      s"alphaPermille must be in (0, 1000), got $alphaPermille")
    val sc = col(s"`$scoreCol`")
    val calV = cal.filter(sc.isNotNull).select(sc.as("__s"))
    val counts = calV.groupBy(col("__s")).agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(counts, Nil, Seq("__s"), Seq("__c"))
    val nrow = calV.agg(count(lit(1)).as("n_cal"))
      .withColumn("rank", least(expr(
        s"((n_cal + 1) * ${1000L - alphaPermille} + 999) div 1000"),
        col("n_cal")))
    // the picked row is the one whose cumulative count first reaches the
    // rank; aggregate to a guaranteed 1-row frame (NULL qhat when the
    // calibration side is empty)
    val qhat = cum.crossJoin(broadcast(nrow))
      .filter(col("cum___c") >= col("rank") &&
        col("cum___c") - col("__c") < col("rank"))
      .agg(max(col("__s")).as("qhat"))
    val cov = test.filter(sc.isNotNull).select(sc.as("__s"))
      .crossJoin(broadcast(qhat))
      .agg(count(lit(1)).as("n_test"),
        coalesce(sum(when(col("qhat").isNotNull && col("__s") <= col("qhat"),
          1L).otherwise(0L)), lit(0L)).as("n_covered"))
    nrow.crossJoin(broadcast(qhat)).crossJoin(broadcast(cov))
      .select(col("n_cal"), col("rank"), col("qhat"),
        col("n_test"), col("n_covered"),
        when(col("n_test") > 0L && col("qhat").isNotNull,
          col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"))
  }

  /** Fleiss' κ (Fleiss 1971) — chance-corrected agreement for m ≥ 2
    * raters in long format (one row per rating): the multi-rater
    * completion of the agreement battery ([[cohenKappa]] fixes m = 2,
    * [[krippendorffAlpha]] tolerates missing ratings; Fleiss is the
    * standard fixed-panel statistic). Rows with NULL item or label drop.
    * One row: (n_items, m, n_categories longs, po, pe, kappa doubles).
    * Fleiss assumes EVERY item has exactly m ratings: when item rating
    * counts differ, m/po/pe/kappa are NULL (use Krippendorff for ragged
    * panels) — the violation is reported, never silently averaged over.
    * kappa is also NULL when m < 2 or pe = 1 (a single category).
    *
    * Exactness: with n_ij the item×category counts, P̄ = (Σᵢⱼ n_ij² −
    * N·m) / (N·m·(m−1)) and P̄e = (Σⱼ c_j²) / (N·m)² are each ONE
    * division of exact integers (DECIMAL(38,0) sums) — engine-identical
    * with no FP accumulation; κ is a fixed IEEE tree over the two.
    *
    * 100 TB shape: one (item, label) count aggregation (map-side
    * combinable), one item-level and one category-level rollup, then
    * 1-row scalars — no window, no row-sized join. */
  def fleissKappa(df: DataFrame, itemCol: String, labelCol: String): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val f = df.filter(col(s"`$itemCol`").isNotNull && col(s"`$labelCol`").isNotNull)
      .select(col(s"`$itemCol`").as("__i"), col(s"`$labelCol`").as("__l"))
    val cnt = f.groupBy(col("__i"), col("__l")).agg(count(lit(1)).as("__n"))
    val perItem = cnt.groupBy(col("__i"))
      .agg(sum(col("__n")).as("__m"),
        sum(col("__n").cast(dec38) * col("__n")).as("__s2"))
      .agg(count(lit(1)).as("n_items"),
        min(col("__m")).as("__mmin"), max(col("__m")).as("__mmax"),
        sum(col("__s2")).as("__S"))
    val perCat = cnt.groupBy(col("__l")).agg(sum(col("__n")).as("__c"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("__c").cast(dec38) * col("__c")).as("__C2"))
    val a = perItem.crossJoin(broadcast(perCat))
    val ok = col("n_items") > 0L && col("__mmin") === col("__mmax") &&
      col("__mmax") >= 2L
    val nm = col("n_items").cast("double") * col("__mmax").cast("double")
    val po = (col("__S") - col("n_items").cast(dec38) * col("__mmax"))
      .cast("double") /
      (nm * (col("__mmax") - 1L).cast("double"))
    val pe = col("__C2").cast("double") / (nm * nm)
    a.select(col("n_items"),
      when(ok, col("__mmax")).as("m"), col("n_categories"),
      when(ok, po).as("po"), when(ok, pe).as("pe"),
      when(ok && pe < 1.0, (po - pe) / (lit(1.0) - pe)).as("kappa"))
  }

  /** Per-group NDCG@k (Järvelin & Kekäläinen 2002, binary relevance) —
    * the position-discounted third leg of the ranking battery
    * ([[aucByGroup]] is order-global, [[avgPrecisionByGroup]] weighs the
    * top; NDCG@k grades exactly the window a curation cut keeps). Ties
    * break by `tieCol` ASC (the avgPrecision total-order contract).
    * Output per group: (groupCol, n, n_pos longs, dcg, idcg, ndcg
    * doubles — NULL when the group has no positives). NULL score/label
    * rows drop.
    *
    * Exactness: the discount 1/log₂(i+1) is computed as
    * ln9(2)/ln9(i+1) — two 9-dp-contract logs of exact integers and ONE
    * division, identical cross-engine; gain terms accumulate in
    * DECIMAL(25,15); dcg/idcg/ndcg round to 9 dp on report. IDCG sums
    * the same discounts over ranks 1..min(k, n_pos) — the ideal
    * ranking's positions — using the group's own ranked rows as the
    * rank series (no generator needed).
    *
    * NULL group/tie rows also drop (the keyed-PrefixSum order
    * contract — feed a unique id as the tiebreak).
    *
    * 100 TB shape (the r13 migration off the per-group sort window):
    * rank and the positive-count running sum ride ONE
    * [[PrefixSum.withKeyedRunningSums]] scan over (−score, tie); the
    * per-group positive total is a |groups|-row broadcast read from
    * the same scan — a giant group never sorts through one reducer —
    * then one aggregation. */
  def ndcgByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, tieCol: String, k: Int): DataFrame = {
    require(k >= 1, s"ndcgByGroup: k must be >= 1, got $k")
    val ln9 = (c: Column) =>
      round(log(c).cast(DecimalType(25, 12)), 9).cast("double")
    val base = df
      .filter(col(s"`$groupCol`").isNotNull &&
        col(s"`$scoreCol`").isNotNull && col(s"`$labelCol`").isNotNull &&
        col(s"`$tieCol`").isNotNull)
      .select(col(s"`$groupCol`").as("__g"),
        negate(col(s"`$scoreCol`").cast("double")).as("__ns"),
        col(s"`$tieCol`").as("__tb"),
        col(s"`$labelCol`").cast("boolean").as("__l"),
        lit(1L).as("__one"))
      .withColumn("__posc", when(col("__l"), 1L).otherwise(0L))
    val ranked0 = PrefixSum.withKeyedRunningSums(
      base, Seq("__g"), Seq("__ns", "__tb"), Seq("__one", "__posc"))
    val totals = ranked0.groupBy(col("__g"))
      .agg(max(col("cum___posc")).as("__np"))
    val ranked = ranked0.join(broadcast(totals), Seq("__g"))
      .withColumn("__rn", col("cum___one"))
      .withColumn("__disc", ln9(lit(2.0)) / ln9((col("__rn") + 1L).cast("double")))
    val d15 = DecimalType(25, 15)
    ranked.groupBy(col("__g").as(groupCol))
      .agg(count(lit(1)).as("n"), max(col("__np")).as("n_pos"),
        sum(when(col("__l") && col("__rn") <= k,
          col("__disc").cast(d15))).as("__dcg"),
        sum(when(col("__rn") <= least(lit(k.toLong), col("__np")),
          col("__disc").cast(d15))).as("__idcg"))
      .select(col(s"`$groupCol`"), col("n"), col("n_pos"),
        when(col("n_pos") > 0L,
          round(coalesce(col("__dcg"), lit(0).cast(d15)).cast("double"), 9))
          .as("dcg"),
        when(col("n_pos") > 0L, round(col("__idcg").cast("double"), 9)).as("idcg"),
        when(col("n_pos") > 0L,
          round(coalesce(col("__dcg"), lit(0).cast(d15)).cast("double") /
            col("__idcg").cast("double"), 9)).as("ndcg"))
  }

  /** Isotonic calibration over equal-width score bins (the
    * pool-adjacent-violators fit, computed by the minimax identity
    * ŷᵢ = max_{j≤i} min_{k≥i} avg(y[j..k]) — Robertson et al. 1988) —
    * the non-parametric recalibration map that [[calibrationCurve]]'s
    * diagnosis feeds: fitted values are monotone in the score and
    * minimize squared error among all monotone fits. Output per
    * non-empty bin: (bin long, bin_lo double, n, n_pos longs, rate
    * double — the raw bin positive rate, fitted double — the isotonic
    * rate; apply as a lookup table on new scores). NULL score/label
    * rows drop; out-of-range scores clamp into the edge bins (the
    * calibrationCurve rule).
    *
    * Exactness: every interval average is ONE division of exact
    * integers (interval sums come from integer prefix sums over the
    * bin frame); the max-of-min selection compares identical doubles —
    * no FP accumulation anywhere.
    *
    * 100 TB shape: one map-side-combinable aggregation to ≤ nBins
    * rows; the Θ(nBins²) interval frame, its window, and the final
    * rollup all run on a BOUNDED frame (nBins ≤ 1000 enforced) — the
    * deliberate tiny-frame theta join, not a data-sized one. */
  def isotonicCalibration(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1 && nBins <= 1000,
      s"isotonicCalibration: nBins must be in [1, 1000], got $nBins")
    val base = df
      .filter(col(s"`$scoreCol`").isNotNull && col(s"`$labelCol`").isNotNull)
      .select(col(s"`$scoreCol`").cast("double").as("__s"),
        col(s"`$labelCol`").cast("boolean").as("__l"))
      .withColumn("__bin", greatest(least(
        floor(col("__s") * nBins).cast("long"), lit(nBins - 1L)), lit(0L)))
    val bins = base.groupBy(col("__bin"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("__np"))
    val wb = Window.orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = bins
      .withColumn("__cn", sum(col("__n")).over(wb))
      .withColumn("__cp", sum(col("__np")).over(wb))
    val js = pre.select(col("__bin").as("__jb"),
      (col("__cn") - col("__n")).as("__cn0"), (col("__cp") - col("__np")).as("__cp0"))
    val ks = pre.select(col("__bin").as("__kb"),
      col("__cn").as("__cnk"), col("__cp").as("__cpk"))
    val iv = js.join(ks, col("__kb") >= col("__jb"))
      .withColumn("__avg", (col("__cpk") - col("__cp0")).cast("double") /
        (col("__cnk") - col("__cn0")).cast("double"))
    val wr = Window.partitionBy(col("__jb")).orderBy(col("__kb"))
      .rowsBetween(0, Window.unboundedFollowing)
    val fitted = iv.withColumn("__minr", min(col("__avg")).over(wr))
      .groupBy(col("__kb").as("__bin"))
      .agg(max(col("__minr")).as("fitted"))
    bins.join(fitted, Seq("__bin"))
      .select(col("__bin").as("bin"),
        (col("__bin").cast("double") / nBins.toDouble).as("bin_lo"),
        col("__n").as("n"), col("__np").as("n_pos"),
        (col("__np").cast("double") / col("__n").cast("double")).as("rate"),
        col("fitted"))
  }

  /** Brier score and logarithmic loss of a probability column against a
    * boolean label — the two proper scoring rules that complete the
    * calibration battery ([[calibrationCurve]] diagnoses by bin,
    * [[expectedCalibrationError]] summarizes the diagram; these score
    * the raw probabilities directly and are what model-selection
    * actually minimizes). Probabilities clamp into [eps, 1−eps] (eps =
    * 1e-6) before the log — the standard guard against infinite loss on
    * a confidently-wrong 0/1. One row: (n, n_pos longs, brier, logloss
    * doubles — NULL on empty input). NULL prob/label rows drop.
    *
    * Exactness: each Brier term (p−y)² is two IEEE ops on identical
    * doubles; each logloss term is one 9-dp-contract ln of a clamped
    * value; both accumulate in DECIMAL(25,15); the two means divide once
    * and round to 9 dp on report.
    *
    * 100 TB shape: one map-side-combinable scalar aggregation. */
  def brierLogLoss(df: DataFrame, probCol: String, labelCol: String,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0.0 && eps < 0.5, s"brierLogLoss: eps must be in (0, 0.5), got $eps")
    val ln9 = (c: Column) =>
      round(log(c).cast(DecimalType(25, 12)), 9).cast("double")
    val d15 = DecimalType(25, 15)
    val base = df
      .filter(col(s"`$probCol`").isNotNull && col(s"`$labelCol`").isNotNull)
      .select(col(s"`$probCol`").cast("double").as("__p"),
        col(s"`$labelCol`").cast("boolean").as("__l"))
      .withColumn("__pc", greatest(least(col("__p"), lit(1.0 - eps)), lit(eps)))
      .withColumn("__y", when(col("__l"), lit(1.0)).otherwise(lit(0.0)))
    base.agg(count(lit(1)).as("n"),
        sum(when(col("__l"), 1L).otherwise(0L)).as("n_pos"),
        sum(((col("__p") - col("__y")) * (col("__p") - col("__y")))
          .cast(d15)).as("__bs"),
        sum(when(col("__l"), -ln9(col("__pc")))
          .otherwise(-ln9(lit(1.0) - col("__pc"))).cast(d15)).as("__ll"))
      .select(col("n"), col("n_pos"),
        when(col("n") > 0L,
          round(col("__bs").cast("double") / col("n").cast("double"), 9))
          .as("brier"),
        when(col("n") > 0L,
          round(col("__ll").cast("double") / col("n").cast("double"), 9))
          .as("logloss"))
  }

  /** Benjamini–Hochberg FDR selection per group (Benjamini & Hochberg
    * 1995): given many simultaneous test p-values (the drift battery run
    * per source × metric, a per-template anomaly scan), keep the largest
    * k with p₍ₖ₎ ≤ k·α/m and reject exactly ranks 1..k — the standard
    * control that stops a 10 000-test sweep from "alarming" 500 false
    * positives at α=0.05. Output per input test: (groupCol, idCol, pCol,
    * rank, m longs, rejected boolean). NULL rows and p outside [0, 1]
    * drop (visible via m).
    *
    * Determinism contract: the step-up comparison is written p·m ≤
    * rank·α — two IEEE multiplications of identical doubles per side,
    * no division — and ranks/m are exact integers, so every engine
    * draws the same cut.
    *
    * 100 TB shape: the per-group p-value rank is
    * [[PrefixSum.withKeyedRunningSums]] over (p, id) — a giant group's
    * tests never sort through one reducer — and the per-group m and k*
    * tables are |groups|-row broadcasts; the ranked stage is scanned
    * twice (candidates, final flag), never recomputed. */
  def bhFdrSelect(df: DataFrame, groupCol: String, idCol: String,
      pCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"bhFdrSelect: alpha in (0,1), got $alpha")
    val g = col(s"`$groupCol`")
    val id = col(s"`$idCol`")
    val p = col(s"`$pCol`").cast("double")
    val base = df
      .filter(g.isNotNull && id.isNotNull && p.isNotNull &&
        p >= 0.0 && p <= 1.0)
      .select(g.as("__g"), id.as("__id"), p.as("__p"), lit(1L).as("__one"))
    val ranked = PrefixSum.withKeyedRunningSums(
      base, Seq("__g"), Seq("__p", "__id"), Seq("__one"))
    val totals = ranked.groupBy(col("__g")).agg(max(col("cum___one")).as("m"))
    val joined = ranked.join(broadcast(totals), Seq("__g"))
    val kstar = joined
      .filter(col("__p") * col("m").cast("double") <=
        col("cum___one").cast("double") * lit(alpha))
      .groupBy(col("__g")).agg(max(col("cum___one")).as("__k"))
    joined.join(broadcast(kstar), Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("__id").as(idCol),
        col("__p").as(pCol), col("cum___one").as("rank"), col("m"),
        (col("cum___one") <= coalesce(col("__k"), lit(0L))).as("rejected"))
  }

  /** Precision/recall/F1 curve per group, one point per DISTINCT score
    * threshold (classify positive at score ≥ t): the full
    * threshold-picking table behind [[aucByGroup]]'s single number and
    * [[calibrationCurve]]'s bins — what a curation team actually reads
    * to set a quality-gate cut. Output per (group, threshold):
    * (groupCol, threshold, n_predicted, tp longs, precision, recall, f1
    * doubles — precision is ONE division of exact integers; recall NULL
    * when the group has no positives; f1 NULL when p+r = 0). NULL
    * score/label rows drop.
    *
    * 100 TB shape: rows collapse to per-(group, score) count/positive
    * frames (map-side combinable, values-cardinality); the
    * ≥-threshold cumulative counts are ONE
    * [[PrefixSum.withKeyedRunningSums]] ascending scan read from the
    * top (tp = P − cumPos + pos_at), and the only broadcast is the
    * |groups|-row totals table. No per-group window, no re-sort per
    * threshold. */
  def prCurveByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val sc = col(s"`$scoreCol`")
    val lb = col(s"`$labelCol`").cast("boolean")
    val counts = df
      .filter(g.isNotNull && sc.isNotNull && lb.isNotNull)
      .groupBy(g.as("__g"), sc.as("__s"))
      .agg(count(lit(1)).as("__c"),
        sum(when(lb, 1L).otherwise(0L)).as("__p"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__s"), Seq("__c", "__p"))
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___c")).as("__n"), max(col("cum___p")).as("__np"))
    cum.join(broadcast(totals), Seq("__g"))
      .withColumn("n_predicted", col("__n") - col("cum___c") + col("__c"))
      .withColumn("tp", col("__np") - col("cum___p") + col("__p"))
      .select(col("__g").as(groupCol), col("__s").as("threshold"),
        col("n_predicted"), col("tp"),
        (col("tp").cast("double") / col("n_predicted").cast("double"))
          .as("precision"),
        when(col("__np") > 0L,
          col("tp").cast("double") / col("__np").cast("double")).as("recall"),
        when(col("__np") > 0L &&
          (col("tp").cast("double") / col("n_predicted").cast("double")) +
            (col("tp").cast("double") / col("__np").cast("double")) > 0.0,
          lit(2.0) *
            (col("tp").cast("double") / col("n_predicted").cast("double")) *
            (col("tp").cast("double") / col("__np").cast("double")) /
            ((col("tp").cast("double") / col("n_predicted").cast("double")) +
              (col("tp").cast("double") / col("__np").cast("double"))))
          .as("f1"))
  }

  /** Confusion matrix + summary scores at one probability threshold
    * (predict positive at p ≥ t): tp/fp/tn/fn cells, accuracy, balanced
    * accuracy, and Matthews correlation — the single-threshold
    * deployment report [[prCurveByGroup]]'s full curve narrows down to
    * once a cut is chosen (MCC: Matthews 1975, the one single-number
    * score that stays honest under class imbalance). One row: (n,
    * tp, fp, tn, fn longs, accuracy, balanced_accuracy, mcc doubles —
    * balanced accuracy NULL when a class is absent, MCC NULL when any
    * marginal is zero). NULL prob/label rows drop.
    *
    * Determinism contract: the MCC numerator tp·tn − fp·fn is exact
    * DECIMAL(38,0) arithmetic cast to double once; the denominator is
    * sqrt of a four-factor double product (marginals each exact longs)
    * — an identical IEEE tree in the oracle. Accuracy terms are single
    * divisions of exact integers.
    *
    * 100 TB shape: one map-side-combinable scalar aggregation. */
  def confusionAtThreshold(df: DataFrame, probCol: String,
      labelCol: String, threshold: Double): DataFrame = {
    val dec38 = DecimalType(38, 0)
    val p = col(s"`$probCol`").cast("double")
    val l = col(s"`$labelCol`").cast("boolean")
    val base = df.filter(p.isNotNull && l.isNotNull)
      .select(l.as("__l"), (p >= threshold).as("__yhat"))
    // coalesce: sum over zero rows is NULL, but the contract is long
    // cells (0 on empty input), matching the doc and the other 1-row
    // reports' empty-input behavior
    base.agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("__l") && col("__yhat"), 1L).otherwise(0L)),
          lit(0L)).as("tp"),
        coalesce(sum(when(!col("__l") && col("__yhat"), 1L).otherwise(0L)),
          lit(0L)).as("fp"),
        coalesce(sum(when(!col("__l") && !col("__yhat"), 1L).otherwise(0L)),
          lit(0L)).as("tn"),
        coalesce(sum(when(col("__l") && !col("__yhat"), 1L).otherwise(0L)),
          lit(0L)).as("fn"))
      .select(col("n"), col("tp"), col("fp"), col("tn"), col("fn"),
        when(col("n") > 0L, (col("tp") + col("tn")).cast("double") /
          col("n").cast("double")).as("accuracy"),
        when(col("tp") + col("fn") > 0L && col("tn") + col("fp") > 0L,
          (col("tp").cast("double") / (col("tp") + col("fn")).cast("double") +
            col("tn").cast("double") / (col("tn") + col("fp")).cast("double"))
            / 2.0).as("balanced_accuracy"),
        when((col("tp") + col("fp")) > 0L && (col("tp") + col("fn")) > 0L &&
          (col("tn") + col("fp")) > 0L && (col("tn") + col("fn")) > 0L,
          (col("tp").cast(dec38) * col("tn") - col("fp").cast(dec38) * col("fn"))
            .cast("double") /
            sqrt((col("tp") + col("fp")).cast("double") *
              (col("tp") + col("fn")).cast("double") *
              (col("tn") + col("fp")).cast("double") *
              (col("tn") + col("fn")).cast("double"))).as("mcc"))
  }

  /** Cumulative gains / lift table over score buckets (the decile gains
    * chart): rank rows by score DESC, cut into `nBuckets` value-atomic
    * buckets (tied scores never split — bucket = ⌈cum_desc·nB / n⌉ on
    * exact integers, so bucket sizes flex at ties instead of the order
    * going nondeterministic), and report per bucket how much of the
    * total positive mass the top-k buckets capture. Output per
    * non-empty bucket: (bucket int 1..nB, n, n_pos, cum_n, cum_pos
    * longs, gain double — cum_pos/P, lift double —
    * (cum_pos/cum_n)/(P/N); both NULL when the frame has no positives).
    * NULL score/label rows drop.
    *
    * 100 TB shape: rows collapse to per-distinct-score counts, ONE
    * [[PrefixSum]] ascending scan gives the descending cumulatives
    * (n − cum + c), and everything after runs on the ≤nB-row bucket
    * frame (whose own cumulative window orders nB rows, never data). */
  def gainsTable(df: DataFrame, scoreCol: String, labelCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"gainsTable: nBuckets must be >= 2, got $nBuckets")
    val sc = col(s"`$scoreCol`")
    val lb = col(s"`$labelCol`").cast("boolean")
    val counts = df.filter(sc.isNotNull && lb.isNotNull)
      .groupBy(sc.as("__s"))
      .agg(count(lit(1)).as("__c"), sum(when(lb, 1L).otherwise(0L)).as("__p"))
    val cum = PrefixSum.withKeyedRunningSums(counts, Nil, Seq("__s"), Seq("__c", "__p"))
    val totals = cum.agg(max(col("cum___c")).as("__n"), max(col("cum___p")).as("__np"))
    val buckets = cum.crossJoin(broadcast(totals))
      .withColumn("__cumd", col("__n") - col("cum___c") + col("__c"))
      .withColumn("bucket", expr(
        s"(__cumd * ${nBuckets}L + __n - 1L) div __n").cast("int"))
      .groupBy(col("bucket"))
      .agg(sum(col("__c")).as("n"), sum(col("__p")).as("n_pos"),
        max(col("__n")).as("__n"), max(col("__np")).as("__np"))
    // the cumulative over buckets orders ≤ nBuckets rows — never data
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    buckets
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .select(col("bucket"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        when(col("__np") > 0L, col("cum_pos").cast("double") /
          col("__np").cast("double")).as("gain"),
        when(col("__np") > 0L,
          (col("cum_pos").cast("double") / col("cum_n").cast("double")) /
            (col("__np").cast("double") / col("__n").cast("double")))
          .as("lift"))
  }

  /** ROC curve points at every distinct score threshold (classify
    * positive at score ≥ t): (threshold, tp, fp longs, tpr, fpr doubles
    * — single divisions of exact integers; tpr NULL without positives,
    * fpr NULL without negatives). The visual companion to
    * [[aucByGroup]]'s exact number and [[prCurveByGroup]]'s
    * precision view. NULL score/label rows drop.
    *
    * 100 TB shape: per-distinct-score counts, ONE [[PrefixSum]]
    * ascending scan read from the top, a 1-row totals broadcast. */
  def rocCurve(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val sc = col(s"`$scoreCol`")
    val lb = col(s"`$labelCol`").cast("boolean")
    val counts = df.filter(sc.isNotNull && lb.isNotNull)
      .groupBy(sc.as("__s"))
      .agg(count(lit(1)).as("__c"), sum(when(lb, 1L).otherwise(0L)).as("__p"))
    val cum = PrefixSum.withKeyedRunningSums(counts, Nil, Seq("__s"), Seq("__c", "__p"))
    val totals = cum.agg(max(col("cum___c")).as("__n"),
      max(col("cum___p")).as("__np"))
    cum.crossJoin(broadcast(totals))
      .withColumn("tp", col("__np") - col("cum___p") + col("__p"))
      .withColumn("fp", (col("__n") - col("__np")) -
        (col("cum___c") - col("cum___p")) + (col("__c") - col("__p")))
      .select(col("__s").as("threshold"), col("tp"), col("fp"),
        when(col("__np") > 0L,
          col("tp").cast("double") / col("__np").cast("double")).as("tpr"),
        when(col("__n") - col("__np") > 0L, col("fp").cast("double") /
          (col("__n") - col("__np")).cast("double")).as("fpr"))
  }

  /** Mean-reciprocal-rank ingredients per group: the rank of the FIRST
    * positive under (score DESC, tieCol ASC) and its reciprocal — the
    * retrieval metric that grades only how fast the first hit arrives
    * (Voorhees 1999, the TREC QA measure). Output per group: (groupCol,
    * n long, first_pos_rank long, rr double — NULL when the group has
    * no positives); average `rr` over groups downstream for MRR. NULL
    * score/label/tie rows drop. `tieCol` must be UNIQUE within a
    * (group, score) — the rank rides
    * [[PrefixSum.withKeyedRunningSums]], whose distinct-non-null
    * order-tuple contract makes first_pos_rank engine- and
    * run-deterministic only when (score, tie) tuples never repeat
    * (feed a unique id, the usual retrieval doc-id).
    *
    * 100 TB shape: the per-group rank is
    * [[PrefixSum.withKeyedRunningSums]] over (−score, tie) — giant
    * groups never serialize into one window reducer (aucByGroup's
    * bounded-query-group caveat removed) — then one grouped min. */
  def mrrByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, tieCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val sc = col(s"`$scoreCol`")
    val lb = col(s"`$labelCol`").cast("boolean")
    val base = df
      .filter(g.isNotNull && sc.isNotNull && lb.isNotNull &&
        col(s"`$tieCol`").isNotNull)
      .select(g.as("__g"), negate(sc.cast("double")).as("__ns"),
        col(s"`$tieCol`").as("__tb"), lb.as("__l"), lit(1L).as("__one"))
    val ranked = PrefixSum.withKeyedRunningSums(
      base, Seq("__g"), Seq("__ns", "__tb"), Seq("__one"))
    ranked.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        min(when(col("__l"), col("cum___one"))).as("first_pos_rank"))
      .select(col("__g").as(groupCol), col("n"), col("first_pos_rank"),
        when(col("first_pos_rank").isNotNull,
          lit(1.0) / col("first_pos_rank").cast("double")).as("rr"))
  }

  /** AUC with a DeLong confidence interval per group (DeLong, DeLong &
    * Clarke-Pearson 1988): the standard error every model-comparison
    * writeup needs next to [[aucByGroup]]'s point estimate. Placements
    * (per positive: the midrank fraction of negatives below it; per
    * negative: the fraction of positives above) have mean = AUC and
    * their two sample variances give SE² = v10/n1 + v01/n0. Output per
    * group: (groupCol, n_pos, n_neg longs, auc, se, ci_lo, ci_hi
    * doubles — auc NULL without both classes, se/ci NULL unless both
    * classes have ≥ 2 rows; ci clamped to [0, 1], z a shared literal).
    * NULL group/score/label rows drop.
    *
    * Determinism contract: placements are fixed IEEE trees over exact
    * cumulative counts; placement moments quantize to DECIMAL(25,9)
    * (order-independent sums); auc/v10/v01/se are fixed trees with
    * variance clamped at 0 against cast residue — all mirrored in the
    * oracle.
    *
    * 100 TB shape: rows collapse to per-(group, score) class counts,
    * ONE [[PrefixSum.withKeyedRunningSums]] ascending scan supplies
    * both cumulative class counts (no per-group window — aucByGroup's
    * bounded-group caveat removed), a |groups|-row totals broadcast,
    * one moment aggregation. */
  def aucCiByGroup(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String, z: Double = 1.959963985): DataFrame = {
    require(z > 0.0, s"aucCiByGroup: z must be > 0, got $z")
    val dec = DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val sc = col(s"`$scoreCol`")
    val lb = col(s"`$labelCol`").cast("boolean")
    val counts = df.filter(g.isNotNull && sc.isNotNull && lb.isNotNull)
      .groupBy(g.as("__g"), sc.as("__s"))
      .agg(sum(when(lb, 1L).otherwise(0L)).as("__cp"),
        sum(when(!lb, 1L).otherwise(0L)).as("__cn"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__s"), Seq("__cp", "__cn"))
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___cp")).as("__n1"), max(col("cum___cn")).as("__n0"))
    val n1D = col("__n1").cast("double")
    val n0D = col("__n0").cast("double")
    // midrank placements: positives against negatives and vice versa
    val pv = ((col("cum___cn") - col("__cn")).cast("double") +
      lit(0.5) * col("__cn").cast("double")) / n0D
    val qv = ((col("__n1") - col("cum___cp")).cast("double") +
      lit(0.5) * col("__cp").cast("double")) / n1D
    val agg = cum.join(broadcast(totals), Seq("__g"))
      .groupBy(col("__g"))
      .agg(max(col("__n1")).as("n_pos"), max(col("__n0")).as("n_neg"),
        sum((col("__cp").cast("double") * pv).cast(dec)).as("__sp"),
        sum((col("__cp").cast("double") * pv * pv).cast(dec)).as("__sp2"),
        sum((col("__cn").cast("double") * qv).cast(dec)).as("__sq"),
        sum((col("__cn").cast("double") * qv * qv).cast(dec)).as("__sq2"))
    val nP = col("n_pos").cast("double")
    val nN = col("n_neg").cast("double")
    val auc = col("__sp").cast("double") / nP
    val v10 = greatest((col("__sp2").cast("double") - nP * auc * auc) /
      (nP - lit(1.0)), lit(0.0))
    val v01 = greatest((col("__sq2").cast("double") - nN * auc * auc) /
      (nN - lit(1.0)), lit(0.0))
    val se = sqrt(v10 / nP + v01 / nN)
    agg.select(col("__g").as(groupCol), col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0L && col("n_neg") > 0L, auc).as("auc"),
      when(col("n_pos") > 1L && col("n_neg") > 1L, se).as("se"),
      when(col("n_pos") > 1L && col("n_neg") > 1L,
        greatest(auc - lit(z) * se, lit(0.0))).as("ci_lo"),
      when(col("n_pos") > 1L && col("n_neg") > 1L,
        least(auc + lit(z) * se, lit(1.0))).as("ci_hi"))
  }

  /** Wilson score interval for a per-group binary rate (Wilson 1927 —
    * the interval that stays inside [0, 1] and behaves at k = 0 / k = n
    * where the naive normal interval collapses): the "is this source's
    * defect/positive rate credibly above the threshold" report an
    * audit-sampling pass ends with. `z` is the normal quantile
    * (default 1.959963985, the two-sided 95% value — a shared literal,
    * never an erf call, so both engines agree). Output per group:
    * (groupCol, n, n_pos longs, rate, ci_lo, ci_hi doubles — lo/hi
    * clamped to [0, 1]). NULL group/label rows drop.
    *
    * Determinism contract: rate is ONE division of exact integers; the
    * interval is one fixed IEEE tree (z·z computed in-expression, one
    * correctly-rounded sqrt) written with identical association in the
    * oracle.
    *
    * 100 TB shape: ONE map-side-combinable aggregation; no join, no
    * window. */
  def wilsonIntervalByGroup(df: DataFrame, groupCol: String,
      labelCol: String, z: Double = 1.959963985): DataFrame = {
    require(z > 0.0, s"wilsonIntervalByGroup: z must be > 0, got $z")
    val g = col(s"`$groupCol`")
    val lb = col(s"`$labelCol`").cast("boolean")
    val agg = df.filter(g.isNotNull && lb.isNotNull)
      .groupBy(g.as("__g"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(lb, 1L).otherwise(0L)), lit(0L)).as("n_pos"))
    val nD = col("n").cast("double")
    val p = col("n_pos").cast("double") / nD
    val z2 = lit(z) * lit(z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))) / denom
    agg.select(col("__g").as(groupCol), col("n"), col("n_pos"),
      p.as("rate"),
      greatest(center - half, lit(0.0)).as("ci_lo"),
      least(center + half, lit(1.0)).as("ci_hi"))
  }

  /** Murphy decomposition of the Brier score per group (Murphy 1973):
    * BRIER = RELIABILITY − RESOLUTION + UNCERTAINTY over the partition
    * by DISTINCT forecast value — reliability (calibration error mass:
    * how far each forecast bin's observed rate sits from the forecast),
    * resolution (how much the bins separate the base rate — the part
    * a sharper model earns), uncertainty (ȳ(1−ȳ), the irreducible
    * floor). The three-number diagnosis behind a flat
    * [[calibrationCurve]]: is a bad Brier miscalibration or just a
    * hard problem? Output per group: (groupCol, n long, n_forecasts
    * long — distinct forecast values, base_rate, reliability,
    * resolution, uncertainty, brier doubles — brier computed
    * independently row-wise; REL − RES + UNC reproduces it exactly in
    * ℝ, to FP residue here — the spec pins the identity at 1e-9).
    * NULL group/prob/label rows drop.
    *
    * Determinism contract: every per-bin term (n_k, y_k exact longs;
    * f exact input double) is a fixed IEEE tree quantized to
    * DECIMAL(25,9) before the order-independent sum; each reported
    * score is ONE division by n.
    *
    * 100 TB shape: rows collapse to per-(group, forecast) cells
    * (map-side combinable, forecast-cardinality), a |groups|-row
    * totals broadcast, one group aggregation. */
  def brierDecompositionByGroup(df: DataFrame, groupCol: String,
      probCol: String, labelCol: String): DataFrame = {
    val dec = DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val p = col(s"`$probCol`").cast("double")
    val lb = col(s"`$labelCol`").cast("boolean")
    val cells = df.filter(g.isNotNull && p.isNotNull && lb.isNotNull)
      .groupBy(g.as("__g"), p.as("__f"))
      .agg(count(lit(1)).as("__nk"),
        sum(when(lb, 1L).otherwise(0L)).as("__yk"))
    val totals = cells.groupBy(col("__g"))
      .agg(sum(col("__nk")).as("n"), sum(col("__yk")).as("__pos"))
    val nkD = col("__nk").cast("double")
    val ybark = col("__yk").cast("double") / nkD
    val ybar = col("__pos").cast("double") / col("n").cast("double")
    cells.join(broadcast(totals), Seq("__g"))
      .groupBy(col("__g"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_forecasts"),
        max(ybar).as("base_rate"),
        sum((nkD * (col("__f") - ybark) * (col("__f") - ybark))
          .cast(dec)).as("__rel"),
        sum((nkD * (ybark - ybar) * (ybark - ybar)).cast(dec)).as("__res"),
        // Σ_rows (f − y)² = Σ_k n_k·f² − 2·f·y_k + y_k, exact per cell
        sum((nkD * col("__f") * col("__f") -
          lit(2.0) * col("__f") * col("__yk").cast("double") +
          col("__yk").cast("double")).cast(dec)).as("__b"))
      .select(col("__g").as(groupCol), col("n"), col("n_forecasts"),
        col("base_rate"),
        (col("__rel").cast("double") / col("n").cast("double"))
          .as("reliability"),
        (col("__res").cast("double") / col("n").cast("double"))
          .as("resolution"),
        (col("base_rate") * (lit(1.0) - col("base_rate")))
          .as("uncertainty"),
        (col("__b").cast("double") / col("n").cast("double")).as("brier"))
  }

  /** Multi-class classification report: per class, support, predicted
    * count, true positives, precision, recall and F1 — the standard
    * sklearn-style table for any categorical labeler (language-ID,
    * topic routing, quality tiers), over exact (label, pred) cell
    * counts. Classes are the UNION of observed labels and predictions —
    * a class the model never predicts still reports (recall with
    * precision NULL), and an hallucinated class reports (precision with
    * recall NULL). Output: (class, n_true, n_pred, tp longs, precision,
    * recall, f1 doubles — each ONE division/fixed tree of exact counts;
    * precision NULL when n_pred = 0, recall NULL when n_true = 0, f1
    * NULL when either is NULL or both are 0). NULL label/pred rows drop.
    *
    * 100 TB shape: ONE map-side-combinable (label, pred) cell
    * aggregation — |classes|² cells at most — then class-cardinality
    * marginal rollups and joins. Nothing per-row survives the first
    * aggregation. */
  def multiclassReport(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val l = col(s"`$labelCol`")
    val p = col(s"`$predCol`")
    val cells = df.filter(l.isNotNull && p.isNotNull)
      .groupBy(l.cast("string").as("__l"), p.cast("string").as("__p"))
      .agg(count(lit(1)).as("__c"))
    val byTrue = cells.groupBy(col("__l").as("class"))
      .agg(sum(col("__c")).as("n_true"))
    val byPred = cells.groupBy(col("__p").as("class"))
      .agg(sum(col("__c")).as("n_pred"))
    val tp = cells.filter(col("__l") === col("__p"))
      .select(col("__l").as("class"), col("__c").as("tp"))
    byTrue.join(byPred, Seq("class"), "full_outer")
      .join(tp, Seq("class"), "left")
      .select(col("class"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision", when(col("n_pred") > 0L,
        col("tp").cast("double") / col("n_pred").cast("double")))
      .withColumn("recall", when(col("n_true") > 0L,
        col("tp").cast("double") / col("n_true").cast("double")))
      .withColumn("f1", when(
        col("precision").isNotNull && col("recall").isNotNull &&
          col("precision") + col("recall") > 0.0,
        lit(2.0) * col("precision") * col("recall") /
          (col("precision") + col("recall"))))
  }

  /** Weighted Cohen's kappa for ORDINAL labels (Cohen 1968) — the
    * chance-corrected agreement that penalizes a 1-vs-5 disagreement
    * more than a 1-vs-2: w_ij = ((i−j)/(R−1))² over dense category
    * indexes (quadratic weights — THE ordinal-rating metric; linear
    * available via `quadratic = false`). Categories are the sorted
    * distinct union of both raters' values in the values' OWN type
    * ordering (ordinal ints sort numerically, never lexically). One
    * row: (n, n_categories longs, do_w, de_w — weighted observed /
    * chance disagreement rates, kappa_w = 1 − do_w/de_w doubles; NULL
    * kappa where chance disagreement is 0 — a single category has no
    * chance to correct). NULL-rating rows drop.
    *
    * Exactness: with integer index distances, Σ (i−j)²·count and
    * Σ (i−j)²·na_i·nb_j are EXACT integer/decimal sums (marginal
    * products ride DECIMAL(38,0), the [[cohenKappa]] contract); each
    * reported rate is one IEEE tree over the exact sums — the /(R−1)²
    * weight normalization cancels inside kappa and is applied only to
    * the REPORTED rates.
    *
    * 100 TB shape: one (a, b) cell aggregation (|R|² cells), two
    * |R|-row marginals, a |R|-row index table (the one
    * category-bounded sort), and |R|²-bounded joins — nothing
    * row-cardinality past the first aggregation. */
  def weightedKappa(df: DataFrame, aCol: String, bCol: String,
      quadratic: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = Stager.stage(
      df.filter(col(s"`$aCol`").isNotNull && col(s"`$bCol`").isNotNull)
        .select(col(s"`$aCol`").as("__a"), col(s"`$bCol`").as("__b")),
      s"wkappa_${java.util.UUID.randomUUID().toString.take(8)}")
    val values = base.select(col("__a").as("__v"))
      .unionByName(base.select(col("__b").as("__v"))).distinct()
      .withColumn("__ix", row_number().over(Window.orderBy(col("__v"))) - 1)
    val cells = base.groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
      .join(broadcast(values.select(col("__v").as("__a"), col("__ix").as("__ia"))), Seq("__a"))
      .join(broadcast(values.select(col("__v").as("__b"), col("__ix").as("__ib"))), Seq("__b"))
    def d2(i: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
      if (quadratic) (i - j) * (i - j) else abs(i - j)
    val obs = cells.agg(sum(col("__c")).as("n"),
      sum(d2(col("__ia"), col("__ib")) * col("__c")).as("__num"))
    val ma = cells.groupBy(col("__ia")).agg(sum(col("__c")).as("__na"))
    val mb = cells.groupBy(col("__ib")).agg(sum(col("__c")).as("__nb"))
    val den = ma.crossJoin(mb)
      .agg(sum(d2(col("__ia"), col("__ib")).cast(dec38) *
        col("__na").cast(dec38) * col("__nb").cast(dec38)).as("__den"))
    val nCats = values.agg(count(lit(1)).as("n_categories"))
    val wNorm = obs.crossJoin(broadcast(den)).crossJoin(broadcast(nCats))
      .withColumn("__r1", (col("n_categories") - 1L).cast("double"))
      .withColumn("__w",
        if (quadratic) col("__r1") * col("__r1") else col("__r1"))
    wNorm.select(col("n"), col("n_categories"),
      when(col("n_categories") > 1L,
        col("__num").cast("double") /
          (col("n").cast("double") * col("__w"))).as("do_w"),
      when(col("n_categories") > 1L,
        col("__den").cast("double") /
          (col("n").cast("double") * col("n").cast("double") * col("__w")))
        .as("de_w"),
      when(col("__den").cast("double") > 0.0,
        lit(1.0) - col("n").cast("double") * col("__num").cast("double") /
          col("__den").cast("double")).as("kappa_w"))
  }

  /** One-row roll-up of [[multiclassReport]]: accuracy (= micro
    * precision = micro recall in single-label multiclass), macro
    * precision/recall/F1 (unweighted class means — an undefined class
    * metric counts as 0, the sklearn zero_division=0 convention, so a
    * never-predicted class DRAGS the macro down instead of silently
    * vanishing) and support-weighted F1. Output: (n, n_classes,
    * accuracy, macro_precision, macro_recall, macro_f1, weighted_f1 —
    * accuracy one division of exact counts; the means quantize each
    * class metric to 9 dp and sum in exact decimal before ONE
    * division). NULL label/pred rows drop.
    *
    * 100 TB shape: [[multiclassReport]]'s cell aggregation, then a
    * |classes|-row rollup — nothing data-sized past the first
    * aggregation. */
  def multiclassSummary(df: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    def q9(c: Column): Column =
      round(coalesce(c, lit(0.0)).cast(org.apache.spark.sql.types.DecimalType(25, 12)), 9)
        .cast(dec)
    multiclassReport(df, labelCol, predCol)
      .agg(
        sum(col("n_true")).as("n"),
        count(lit(1)).as("n_classes"),
        sum(col("tp")).as("__tp"),
        sum(q9(col("precision"))).as("__sp"),
        sum(q9(col("recall"))).as("__sr"),
        sum(q9(col("f1"))).as("__sf"),
        // f1 ∈ [0,1] so its 9-dp quantization fits DECIMAL(10,9)
        // losslessly; the product with raw BIGINT n_true is then
        // (10,9)×(20,0) → DECIMAL(31,9) — inside precision 38 for the
        // FULL long range, so neither side narrows. (The earlier fix
        // narrowed n_true to DECIMAL(10,0), which silently NULLed any
        // class above 1e10 rows under non-ANSI cast — the p228 trap in
        // a different coat.)
        sum(q9(col("f1")).cast(org.apache.spark.sql.types.DecimalType(10, 9)) *
          col("n_true"))
          .as("__swf"))
      .select(col("n"), col("n_classes"),
        (col("__tp").cast("double") / col("n").cast("double")).as("accuracy"),
        (col("__sp").cast("double") / col("n_classes").cast("double"))
          .as("macro_precision"),
        (col("__sr").cast("double") / col("n_classes").cast("double"))
          .as("macro_recall"),
        (col("__sf").cast("double") / col("n_classes").cast("double"))
          .as("macro_f1"),
        (col("__swf").cast("double") / col("n").cast("double"))
          .as("weighted_f1"))
  }

  /** Rank-biased overlap between two top-k rankings per query (Webber,
    * Moffat & Zobel 2010): RBO@k = (1−p)/(1−p^k) · Σ_{d=1..k} p^{d−1} ·
    * |A_d ∩ B_d| / d — the top-weighted agreement measure for comparing
    * two rankers (the ANN index vs the exact baseline, yesterday's model
    * vs today's) that, unlike recall@k, cares WHERE in the list the
    * agreement happens. Inputs are two (query_id, neighbor_id, rank)
    * frames (the [[bruteForceTopK]]/[[lshTopK]] shape, rank 1-based);
    * ranks beyond k are ignored. This is the truncated-prefix RBO
    * normalized to [0, 1] at depth k (weights sum to 1 — identical
    * prefixes score exactly 1). Queries present in either frame report
    * (absent side → overlap 0). Output: (query_id, n_common long — the
    * depth-k intersection size, rbo double — REPORTED at 9 dp).
    *
    * Exactness: the k weights (1−p)p^{d−1}/((1−p^k)·d) are computed ONCE
    * on the driver in IEEE doubles and enter the plan as literals — the
    * oracle embeds the same literals, so no cross-engine pow; each
    * query's score is a decimal-quantized sum of weight·overlap terms.
    *
    * 100 TB shape: one equi-join of the two rank frames on (query,
    * neighbor) — rank-k-bounded per query — one depth explode (≤ k rows
    * per match), one map-side-combinable per-query aggregation. */
  def rankBiasedOverlap(a: DataFrame, b: DataFrame, k: Int,
      p: Double = 0.9): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0,1), got $p")
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    // driver-side weights: agreement at depth d earns w(d) for EVERY
    // deeper depth too, so fold the tail sum per match rank:
    // a pair matched at depth m contributes Σ_{d=m..k} w(d)/d
    val norm = (1.0 - p) / (1.0 - math.pow(p, k))
    val wAtDepth = (1 to k).map(d => norm * math.pow(p, d - 1) / d)
    val tail = (1 to k).map(m => wAtDepth.drop(m - 1).sum)
    def side(df: DataFrame, r: String) = df
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").as(r))
    val tailExpr = (1 to k).foldLeft(lit(0.0)) { (acc, m) =>
      when(greatest(col("__ra"), col("__rb")) === m, lit(tail(m - 1)))
        .otherwise(acc)
    }
    val matched = side(a, "__ra").join(side(b, "__rb"),
        Seq("query_id", "neighbor_id"))
      .withColumn("__w", round(tailExpr
        .cast(org.apache.spark.sql.types.DecimalType(25, 12)), 9).cast(dec))
    val queries = a.select(col("query_id")).unionByName(
      b.select(col("query_id"))).distinct()
    queries.join(
        matched.groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_common"), sum(col("__w")).as("__s")),
        Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("__s").cast("double"), lit(0.0))
          .cast(org.apache.spark.sql.types.DecimalType(25, 12)), 9)
          .cast("double").as("rbo"))
  }

  /** Per-group classification fairness audit (Feldman et al. 2015 /
    * Hardt et al. 2016): selection rate, TPR and FPR per group, plus the
    * three standard gaps against a REFERENCE group — demographic-parity
    * gap (sel − ref sel), disparate-impact ratio (sel / ref sel, the
    * four-fifths-rule number), and the equalized-odds gaps (TPR − ref
    * TPR, FPR − ref FPR). The governance sibling of
    * [[graft.operators.Scrub.kAnonymityProfile]]: run it before shipping
    * any filter/classifier that gates documents by a protected-adjacent
    * group. Output per group: (groupCol, n, n_pos longs, base_rate,
    * sel_rate, tpr, fpr, dp_gap, di_ratio, tpr_gap, fpr_gap doubles —
    * each ONE division/subtraction of exact counts; tpr/fpr NULL where
    * the group has no positives/negatives, gaps NULL where the reference
    * rate is NULL, di_ratio NULL where the reference selects nobody).
    * Rows with NULL group/label/pred drop; groups appear even when the
    * reference group is absent (gaps NULL — an absent baseline must be
    * loud, not a silent empty frame).
    *
    * 100 TB shape: ONE map-side-combinable count aggregation to |groups|
    * rows; the reference row broadcasts into a |groups|-row join.
    * Nothing per-document survives the first aggregation. */
  def fairnessAudit(df: DataFrame, groupCol: String, labelCol: String,
      predCol: String, refGroup: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val l = col(s"`$labelCol`")
    val p = col(s"`$predCol`")
    val stats = df.filter(g.isNotNull && l.isNotNull && p.isNotNull)
      .groupBy(g.as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(when(l, 1L).otherwise(0L)).as("n_pos"),
        sum(when(p, 1L).otherwise(0L)).as("__sel"),
        sum(when(l && p, 1L).otherwise(0L)).as("__tp"),
        sum(when(!l && p, 1L).otherwise(0L)).as("__fp"))
      .select(col("__g"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("base_rate"),
        (col("__sel").cast("double") / col("n").cast("double")).as("sel_rate"),
        when(col("n_pos") > 0L,
          col("__tp").cast("double") / col("n_pos").cast("double")).as("tpr"),
        when(col("n") - col("n_pos") > 0L,
          col("__fp").cast("double") /
            (col("n") - col("n_pos")).cast("double")).as("fpr"))
    val ref = stats.filter(col("__g").cast("string") === refGroup)
      .select(col("sel_rate").as("__rsel"), col("tpr").as("__rtpr"),
        col("fpr").as("__rfpr"))
    stats.join(broadcast(ref), lit(true), "left")
      .select(col("__g").as(groupCol), col("n"), col("n_pos"),
        col("base_rate"), col("sel_rate"), col("tpr"), col("fpr"),
        (col("sel_rate") - col("__rsel")).as("dp_gap"),
        when(col("__rsel") > 0.0, col("sel_rate") / col("__rsel"))
          .as("di_ratio"),
        (col("tpr") - col("__rtpr")).as("tpr_gap"),
        (col("fpr") - col("__rfpr")).as("fpr_gap"))
  }

  /** Sentence-level BLEU per (candidate, reference) text pair (Papineni
    * et al. 2002): modified n-gram precisions p_n for n = 1..maxN
    * (candidate gram counts CLIPPED by the reference's — the rule that
    * stops "the the the" scoring 1.0), brevity penalty
    * BP = min(1, e^(1 - ref_len/cand_len)), and
    * BLEU = BP * exp(mean ln p_n) — the pairwise text-overlap metric for
    * paraphrase mining, translation QA, and near-dup adjudication where
    * Jaccard's set view ignores repetition. Unsmoothed: any zero p_n
    * zeroes BLEU (the original contract; smoothing conventions vary by
    * toolkit and would un-pin the oracle). Tokens are the repo
    * lowercase-whitespace contract. Output per row: (idCol, cand_len,
    * ref_len ints, p1..p{maxN} doubles — NULL where the candidate has no
    * n-gram of that order, bp double — NULL on an empty candidate, bleu
    * double at 9 dp — 0.0 when any order's precision is 0 or undefined,
    * NULL on an empty candidate). NULL texts read as empty.
    *
    * Exactness: each p_n is ONE division of exact integer counts; the
    * ln/exp steps ride the shared 9-dp decimal-rounding contract (ln9 of
    * each p_n, a FIXED left-associated IEEE sum, one exp quantized to
    * 9 dp; BP's exponent is one IEEE tree of exact integer casts), so
    * both engines multiply identical doubles.
    *
    * 100 TB shape: a PURE PROJECTION — grams, clipping, and the score
    * are per-row higher-order-function expressions inside whole-stage
    * codegen (the clipping loop is O(distinct-grams * len) per row, a
    * per-document constant); NO shuffle, NO join, no gram explode. */
  def bleuPairs(df: DataFrame, idCol: String, candCol: String,
      refCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 9, s"maxN must be in [1, 9], got $maxN")
    def toks(c: String): Column =
      filter(split(lower(coalesce(col(s"`$c`"), lit(""))), "\\s+"),
        t => t =!= "")
    def grams(c: Column, n: Int): Column =
      when(size(c) >= n,
        transform(sequence(lit(0), size(c) - n),
          i => concat_ws(" ", slice(c, i + lit(1), lit(n)))))
        .otherwise(array().cast("array<string>"))
    def ln9(c: Column): Column =
      round(log(c).cast(DecimalType(25, 12)), 9).cast("double")
    def exp9(c: Column): Column =
      round(exp(c).cast(DecimalType(25, 12)), 9).cast("double")
    val base = df.filter(col(s"`$idCol`").isNotNull)
      .select(col(s"`$idCol`"), toks(candCol).as("__ct"), toks(refCol).as("__rt"))
    val withGrams = (1 to maxN).foldLeft(base) { (acc, n) =>
      acc.withColumn(s"__cg$n", grams(col("__ct"), n))
        .withColumn(s"__rg$n", grams(col("__rt"), n))
    }
    val withP = (1 to maxN).foldLeft(withGrams) { (acc, n) =>
      val cg = col(s"__cg$n")
      val rg = col(s"__rg$n")
      // two hash-count passes per row (O(|cg| + |rg|)), value-identical
      // to the HOF distinct/filter fold that ran interpreted at
      // O(distinct·len) — measured 13.5 s → ~1 s for the p236 gate
      val clipped = org.apache.spark.sql.graft.ClippedCount.of(cg, rg)
      acc.withColumn(s"__clip$n", clipped)
        .withColumn(s"p$n",
          when(size(cg) > 0, col(s"__clip$n").cast("double") /
            size(cg).cast("double")))
    }
    val candLen = size(col("__ct"))
    val refLen = size(col("__rt"))
    val bp = when(candLen === 0, lit(null).cast("double"))
      .when(candLen >= refLen, lit(1.0))
      .otherwise(exp9(lit(1.0) -
        refLen.cast("double") / candLen.cast("double")))
    val anyZero = (1 to maxN)
      .map(n => col(s"p$n").isNull || col(s"p$n") === 0.0)
      .reduce(_ || _)
    // fixed left-associated IEEE sum of the 9-dp lns - identical in both
    // engines because every operand is already quantized
    val lnMean = (1 to maxN).map(n => ln9(col(s"p$n")))
      .reduce(_ + _) / lit(maxN.toDouble)
    val bleu = when(candLen === 0, lit(null).cast("double"))
      .when(anyZero, lit(0.0))
      .otherwise(round((col("__bp") * exp9(lnMean))
        .cast(DecimalType(25, 12)), 9).cast("double"))
    withP.withColumn("__bp", bp)
      .select((col(s"`$idCol`") +:
        candLen.cast("int").as("cand_len") +:
        refLen.cast("int").as("ref_len") +:
        (1 to maxN).map(n => col(s"p$n")) :+
        col("__bp").as("bp") :+
        bleu.as("bleu")): _*)
  }

  /** ROUGE-N per (candidate, reference) text pair (Lin 2004): clipped
    * n-gram precision/recall/F1 for n = 1..maxN — the recall-oriented
    * summary/overlap complement of [[bleuPairs]] (BLEU asks "is what I
    * said supported"; ROUGE recall asks "did I cover the reference").
    * Same clipping rule, same lowercase-whitespace tokens. Output per
    * row: (idCol, cand_len, ref_len ints, then per n: rouge{n}_p,
    * rouge{n}_r, rouge{n}_f doubles — p NULL where the candidate has no
    * n-gram, r NULL where the reference has none, f NULL where either
    * is NULL and 0.0 where p + r = 0). NULL texts read as empty.
    *
    * Exactness: each p/r is ONE division of exact integer counts; F1 is
    * one IEEE tree of those two doubles — no transcendentals anywhere.
    *
    * 100 TB shape: a pure projection, like [[bleuPairs]]. */
  def rougeNPairs(df: DataFrame, idCol: String, candCol: String,
      refCol: String, maxN: Int = 2): DataFrame = {
    require(maxN >= 1 && maxN <= 9, s"maxN must be in [1, 9], got $maxN")
    def toks(c: String): Column =
      filter(split(lower(coalesce(col(s"`$c`"), lit(""))), "\\s+"),
        t => t =!= "")
    def grams(c: Column, n: Int): Column =
      when(size(c) >= n,
        transform(sequence(lit(0), size(c) - n),
          i => concat_ws(" ", slice(c, i + lit(1), lit(n)))))
        .otherwise(array().cast("array<string>"))
    val base = df.filter(col(s"`$idCol`").isNotNull)
      .select(col(s"`$idCol`"), toks(candCol).as("__ct"), toks(refCol).as("__rt"))
    val withP = (1 to maxN).foldLeft(base) { (acc, n) =>
      val cg = grams(col("__ct"), n)
      val rg = grams(col("__rt"), n)
      val acc2 = acc.withColumn(s"__cg$n", cg).withColumn(s"__rg$n", rg)
      val cgc = col(s"__cg$n"); val rgc = col(s"__rg$n")
      // the ClippedCount expression: see bleuPairs (same 13.5 s lesson)
      val clipped = org.apache.spark.sql.graft.ClippedCount.of(cgc, rgc)
      val p = when(size(cgc) > 0,
        clipped.cast("double") / size(cgc).cast("double"))
      val r = when(size(rgc) > 0,
        clipped.cast("double") / size(rgc).cast("double"))
      acc2.withColumn(s"rouge${n}_p", p)
        .withColumn(s"rouge${n}_r", r)
        .withColumn(s"rouge${n}_f",
          when(col(s"rouge${n}_p").isNull || col(s"rouge${n}_r").isNull,
            lit(null).cast("double"))
          .when(col(s"rouge${n}_p") + col(s"rouge${n}_r") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col(s"rouge${n}_p") * col(s"rouge${n}_r") /
            (col(s"rouge${n}_p") + col(s"rouge${n}_r"))))
    }
    withP.select((col(s"`$idCol`") +:
      size(col("__ct")).cast("int").as("cand_len") +:
      size(col("__rt")).cast("int").as("ref_len") +:
      (1 to maxN).flatMap(n => Seq(
        col(s"rouge${n}_p"), col(s"rouge${n}_r"), col(s"rouge${n}_f")))): _*)
  }

  /** ROUGE-L per (candidate, reference) text pair (Lin 2004): the
    * longest-common-subsequence F-measure — in-order agreement without
    * contiguity, the summary-eval metric n-gram overlap can't fake with
    * shuffled phrases. LCS length via the bounded DP expression
    * ([[org.apache.spark.sql.graft.LcsLength]] — BOTH sides truncate to
    * `maxTokens` first; the quadratic per-pair cost must be a bounded
    * constant at scale). Output: (idCol, cand_len, ref_len, lcs_len
    * ints, rouge_l_p, rouge_l_r, rouge_l_f doubles — p/r NULL on an
    * empty side, f NULL where either is NULL, 0.0 where p + r = 0).
    * cand_len/ref_len are the TRUNCATED lengths (the lengths the DP and
    * the ratios actually use). NULL texts read as empty.
    *
    * Oracle-gated (p247): the sequential DP replays in DuckDB as a
    * recursive-CTE CELL walk over (i, j, previous row, current prefix)
    * — the p234 WordPiece bounded-recursion precedent — on a bounded
    * pair set; the EvalSpec driver differential still pins the
    * expression itself on adversarial token sequences.
    *
    * 100 TB shape: a pure projection; maxTokens² per-row constant. */
  def rougeLPairs(df: DataFrame, idCol: String, candCol: String,
      refCol: String, maxTokens: Int = 512): DataFrame = {
    def toks(c: String): Column =
      filter(split(lower(coalesce(col(s"`$c`"), lit(""))), "\\s+"),
        t => t =!= "")
    val base = df.filter(col(s"`$idCol`").isNotNull)
      .select(col(s"`$idCol`"),
        slice(toks(candCol), 1, maxTokens).as("__ct"),
        slice(toks(refCol), 1, maxTokens).as("__rt"))
    val lcs = org.apache.spark.sql.graft.LcsLength
      .of(col("__ct"), col("__rt"), maxTokens)
    val withL = base.withColumn("__lcs", lcs)
      .withColumn("rouge_l_p",
        when(size(col("__ct")) > 0,
          col("__lcs").cast("double") / size(col("__ct")).cast("double")))
      .withColumn("rouge_l_r",
        when(size(col("__rt")) > 0,
          col("__lcs").cast("double") / size(col("__rt")).cast("double")))
    withL.select(col(s"`$idCol`"),
      size(col("__ct")).cast("int").as("cand_len"),
      size(col("__rt")).cast("int").as("ref_len"),
      col("__lcs").as("lcs_len"),
      col("rouge_l_p"), col("rouge_l_r"),
      when(col("rouge_l_p").isNull || col("rouge_l_r").isNull,
        lit(null).cast("double"))
        .when(col("rouge_l_p") + col("rouge_l_r") === 0.0, lit(0.0))
        .otherwise(lit(2.0) * col("rouge_l_p") * col("rouge_l_r") /
          (col("rouge_l_p") + col("rouge_l_r"))).as("rouge_l_f"))
  }

  /** Kendall τ-b rank agreement per query between two rankings of the
    * same items (Kendall 1945, the tie-corrected form) — the
    * whole-permutation companion to [[rankBiasedOverlap]] (RBO weights
    * the top; τ-b counts every pairwise inversion equally): over items
    * present in BOTH rankings, τ_b = (C − D) / √((n₀ − n₁)(n₀ − n₂))
    * with C/D the concordant/discordant pair counts and n₁/n₂ the
    * within-ranking tie-pair corrections. Output per query: (queryCol,
    * n long — common items, n_conc, n_disc longs, tau_b double 9 dp —
    * NULL when a ranking is constant or n < 2). NULL query/item/rank
    * rows drop.
    *
    * Exactness: every count is an exact integer off the pair frame;
    * τ_b is one IEEE tree (two subtractions, a product, a sqrt, a
    * division) over exact-integer casts — no transcendentals.
    *
    * 100 TB shape: one equi-join aligns the rankings (rank-list
    * cardinality), then the pair frame is an equi-join ON THE QUERY of
    * the aligned list with itself — rank-list-bounded k² pairs per
    * query (the mannKendall grid posture), map-side-combined into one
    * row per query. Rank lists are bounded by contract (top-k
    * rankings), never corpus-sized. */
  def kendallTauB(a: DataFrame, b: DataFrame, queryCol: String,
      itemCol: String, rankCol: String): DataFrame = {
    val q = col(s"`$queryCol`")
    val it = col(s"`$itemCol`")
    val r = col(s"`$rankCol`")
    def clean(df: DataFrame, out: String): DataFrame = df
      .filter(q.isNotNull && it.isNotNull && r.isNotNull)
      .select(q.as("__q"), it.as("__i"), r.cast("long").as(out))
    val joined = clean(a, "__ra").join(clean(b, "__rb"), Seq("__q", "__i"))
    val l = joined.select(col("__q"), col("__i").as("__il"),
      col("__ra").as("__ral"), col("__rb").as("__rbl"))
    val rgt = joined.select(col("__q"), col("__i").as("__ir"),
      col("__ra").as("__rar"), col("__rb").as("__rbr"))
    val pairs = l.join(rgt, Seq("__q")).filter(col("__il") < col("__ir"))
    val da = col("__ral") - col("__rar")
    val db = col("__rbl") - col("__rbr")
    val perQ = pairs.groupBy(col("__q")).agg(
      sum(when(da * db > 0L, 1L).otherwise(0L)).as("n_conc"),
      sum(when(da * db < 0L, 1L).otherwise(0L)).as("n_disc"),
      sum(when(da === 0L, 1L).otherwise(0L)).as("__t1"),
      sum(when(db === 0L, 1L).otherwise(0L)).as("__t2"),
      count(lit(1)).as("__n0"))
    val counts = joined.groupBy(col("__q")).agg(count(lit(1)).as("n"))
    counts.join(perQ, Seq("__q"), "left")
      .select(col("__q").as(queryCol), col("n"),
        coalesce(col("n_conc"), lit(0L)).as("n_conc"),
        coalesce(col("n_disc"), lit(0L)).as("n_disc"),
        when(col("__n0").isNotNull &&
            col("__n0") > col("__t1") && col("__n0") > col("__t2"),
          round(((col("n_conc") - col("n_disc")).cast("double") /
            sqrt((col("__n0") - col("__t1")).cast("double") *
              (col("__n0") - col("__t2")).cast("double")))
            .cast(DecimalType(25, 12)), 9).cast("double")).as("tau_b"))
  }
}
