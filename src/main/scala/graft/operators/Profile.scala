package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Per-group corpus profiling (beyond-reference, SURVEY.md §2.4): the
  * "report card" a curation pipeline publishes per source/domain/language —
  * document and token volumes, exact-duplicate rate, and mean quality.
  * This is the monitoring surface that catches a bad crawl snapshot (dup
  * rate spikes) or a per-source quality regression before training does.
  * (The reference's closest artifact is the one-line `summary` profile,
  * /root/reference/magictables/magictable.py:145-146 — per-table, not
  * per-group, and with no quality/dedup signals.)
  *
  * 100 TB shape: per-document token stats ride the SAME single-scan
  * token-stream aggregation as p02 (TextFunctions.tokenStats — measured
  * ~10x faster than per-row interpreted array lambdas for whole-corpus
  * scoring), with the doc-level char counts and fingerprint computed in
  * the pre-explode projection as carry keys. Two shuffles total: the
  * doc-keyed stats aggregation, then the tiny group rollup; the group
  * shuffle carries hashes and counters, never text. Mean quality sums
  * per-doc scores through DECIMAL(25,9) then divides once, so the report
  * hash-matches the DuckDB oracle (the p02/p26 contract).
  */
object Profile {

  /** One row per `groupCol` value: n_docs, n_unique (distinct normalized
    * fingerprints), dup_frac, n_tokens, mean_tokens, mean_quality. Null
    * group values profile as their own row (standard groupBy semantics —
    * at the report surface a null source IS a signal). */
  def corpusProfile(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String): DataFrame = {
    val reserved = Seq("__n_char", "__n_alpha", "__n_punct", "__fp", "__q")
    (reserved intersect docs.columns).foreach(c =>
      throw new IllegalArgumentException(s"column name '$c' is reserved by corpusProfile"))
    // null text profiles as EMPTY text (the tokenStats contract): a null
    // fingerprint would be skipped by countDistinct while count(*) keeps
    // the row — a fetch-failure batch would read as a 100% dup-rate spike
    // (n_unique=0) in the exact report meant to catch real dup spikes.
    // With the coalesce, null/empty docs form one honest "empty" group.
    val docsNN = docs.withColumn(textCol, coalesce(col(s"`$textCol`"), lit("")))
    val withChars = docsNN.select(col(s"`$idCol`"), col(s"`$groupCol`"),
      length(col(s"`$textCol`")).cast("double").as("__n_char"),
      TextFunctions.alphaChars(col(s"`$textCol`")).cast("double").as("__n_alpha"),
      TextFunctions.punctChars(col(s"`$textCol`")).cast("double").as("__n_punct"),
      TextFunctions.fingerprint(col(s"`$textCol`")).as("__fp"),
      col(s"`$textCol`"))
    val stats = TextFunctions.tokenStats(withChars, idCol, textCol,
      carryCols = Seq(groupCol, "__n_char", "__n_alpha", "__n_punct", "__fp"))
    // the qualityScore formula over stream stats — value-identical to
    // TextFunctions.qualityScore (the p02 equivalence)
    val nTok = col("n_tok").cast("double")
    val lenScore = least(nTok / lit(200.0), lit(1.0))
    val alphaRatio = when(col("__n_char") === 0, lit(0.0))
      .otherwise(col("__n_alpha") / col("__n_char"))
    val stopRatio = when(nTok === 0, lit(0.0))
      .otherwise(col("h_en").cast("double") / nTok)
    val punctRatio = when(col("__n_char") === 0, lit(0.0))
      .otherwise(col("__n_punct") / col("__n_char"))
    val perDoc = stats.withColumn("__q",
      lenScore * lit(0.4) + alphaRatio * lit(0.3) + stopRatio * lit(0.2) +
        (lit(1.0) - least(punctRatio * lit(5.0), lit(1.0))) * lit(0.1))
    perDoc.groupBy(col(s"`$groupCol`"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("__fp")).as("n_unique"),
        sum(col("n_tok")).as("n_tokens"),
        (sum(col("n_tok")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_tokens"),
        (sum(col("__q").cast("decimal(25,9)")).cast("double") /
          count(lit(1)).cast("double")).as("mean_quality"))
      .withColumn("dup_frac",
        (col("n_docs") - col("n_unique")).cast("double") / col("n_docs").cast("double"))
      .select(col(s"`$groupCol`"), col("n_docs"), col("n_unique"), col("dup_frac"),
        col("n_tokens"), col("mean_tokens"), col("mean_quality"))
  }

  /** Cross-group content-overlap matrix: for every unordered group pair
    * (src_a < src_b), the number of DISTINCT word-`shingleN`-gram hashes
    * both groups contain — the corpus-audit artifact that shows which
    * crawls/dumps duplicate each other before any dedup decision is made.
    * Pairs with zero overlap are absent; rows with a null group drop out
    * (null never compares `<`).
    *
    * 100 TB shape: one distinct over (group, 60-bit gram hash) — hashes,
    * never text — then a self-equi-join on the hash. Per-gram join fan-out
    * is bounded by (groups sharing that gram)²; for high-cardinality
    * groupings set `maxGroupsPerShingle` to exclude grams present in more
    * than N groups (ubiquitous boilerplate carries no pairing signal and
    * is exactly the skew that would otherwise explode the join — the
    * cappedBucketPairs rationale). */
  def sourceOverlap(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, shingleN: Int = 5,
      maxGroupsPerShingle: Option[Int] = None): DataFrame = {
    require(maxGroupsPerShingle.forall(_ >= 2),
      s"maxGroupsPerShingle must be >= 2, got $maxGroupsPerShingle")
    import graft.functions.TextFunctions.md5Hash60
    // staged: the distinct (group, hash) table feeds BOTH self-join sides
    // (and the cap count) — unstaged, each side re-derives the corpus
    // shingle pipeline (2 scans + 2 windows at any scale)
    val sg = Stager.stage(Dedup
      .shingleRows(docs, idCol, textCol, shingleN, carryCols = Seq(groupCol))
      .select(col(s"`$groupCol`"), md5Hash60(col("shingle")).as("__gh"))
      .distinct(),
      s"source_overlap_grams_${java.util.UUID.randomUUID().toString.take(8)}")
    val kept = maxGroupsPerShingle match {
      case None => sg
      case Some(cap) =>
        val ok = sg.groupBy(col("__gh")).agg(count(lit(1)).as("__ng"))
          .filter(col("__ng") <= cap).select(col("__gh"))
        sg.join(ok, Seq("__gh"), "left_semi")
    }
    val a = kept.select(col(s"`$groupCol`").as("src_a"), col("__gh"))
    val b = kept.select(col(s"`$groupCol`").as("src_b"), col("__gh"))
    a.join(b, Seq("__gh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Top-K PMI term co-occurrence pairs over the corpus: which terms
    * appear in the same documents far more often than chance? The classic
    * collocation/topic-drift report (Church & Hanks 1990). PMI =
    * ln(c_ab·N / (c_a·c_b)) over DOCUMENT frequencies (presence, not
    * token counts).
    *
    * 100 TB shape: the pair space is restricted to a top-`vocabSize`
    * document-frequency vocabulary FIRST (one token-stream aggregation,
    * then a TakeOrderedAndProject of `vocabSize` rows, broadcast back),
    * so the per-document self-join emits at most V·(V-1)/2 pairs per doc
    * — a constant bound independent of corpus size — and the pair
    * aggregation is map-side combinable. ln rides the p26 decimal
    * contract (`pmiRoundDp`): JVM and libm logs differ at 1 ulp, rounding
    * through DECIMAL(25,12) makes both engines agree exactly. All other
    * arithmetic is exact int64 counts and matched-order IEEE ops.
    */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 150, minPairCount: Long = 5, topK: Int = 100,
      pmiRoundDp: Int = 9): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(vocabSize > 1 && topK > 0, s"bad vocabSize=$vocabSize topK=$topK")
    val docTerms = docs.select(col(s"`$idCol`").as("__id"),
        explode(array_distinct(TextFunctions.tokens(lower(col(s"`$textCol`")))))
          .as("__term"))
    val dfCounts = docTerms.groupBy(col("__term")).agg(count(lit(1)).as("__c"))
    // deterministic vocab cut: df desc, term asc — a total order
    val vocab = dfCounts.orderBy(col("__c").desc, col("__term")).limit(vocabSize)
    val dv = docTerms.join(broadcast(vocab), "__term")
    val nDocs = docs.agg(count(lit(1)).cast("double").as("__n"))
    val a = dv.select(col("__id"), col("__term").as("term_a"), col("__c").as("__ca"))
    val b = dv.select(col("__id"), col("__term").as("term_b"), col("__c").as("__cb"))
    val pairs = a.join(b, Seq("__id")).filter(col("term_a") < col("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(min(col("__ca")).as("__ca"), min(col("__cb")).as("__cb"),
        count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    val pmiRaw = log(col("c_ab").cast("double") * col("__n") /
      (col("__ca").cast("double") * col("__cb").cast("double")))
    val scored = pairs.join(broadcast(nDocs))
      .withColumn("pmi", round(pmiRaw.cast(DecimalType(25, 12)), pmiRoundDp)
        .cast("double"))
    // distributed top-k: orderBy().limit() plans TakeOrderedAndProject
    // (per-partition heaps merged on the driver) — a row_number() over an
    // UNPARTITIONED window here would sort every qualifying pair
    // (worst case ~V²/2 rows) through one reducer just to throw away the
    // rank column (the buildVocab pattern, Vocab.scala)
    scored
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(topK)
      .select(col("term_a"), col("term_b"), col("c_ab"), col("pmi"))
  }

  /** Per-group log2 length histogram: bucket = number of binary digits of
    * `valueCol` (= floor(log2(x))+1 for x ≥ 1; 0 → 1), computed as
    * `length(bin(x))` — pure integer string length, so both engines bin
    * identically with no float-boundary risk. One map-side-combinable
    * groupBy; the standard "document length distribution per source"
    * monitoring panel. Negative values are a caller bug → null bucket,
    * kept visible rather than silently mis-binned. */
  def lengthHistogram(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(s"`$valueCol`")
    df.select(col(s"`$groupCol`"),
        when(v < 0, lit(null)).otherwise(length(bin(v))).as("bucket"), v)
      .groupBy(col(s"`$groupCol`"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(v).as("min_len"), max(v).as("max_len"))
  }

  /** Zipf-law fit per group: least-squares slope/intercept of
    * ln(frequency) over ln(rank) for the top-N tokens — the corpus-health
    * audit that catches a source whose token distribution is NOT
    * natural-language-shaped (natural text slopes ≈ −1; template/log spam
    * flattens toward 0, a truncated or deduped-to-death source steepens).
    * Pairs with [[corpusProfile]] as a per-source report-card column.
    *
    * Determinism contract: each ln rounds through DECIMAL(25,12) to 9dp
    * (the p26/p41 rule), the x/y/xy/x² sums accumulate in DECIMAL
    * (exact, order-free), and ONLY then does the closed-form slope
    * arithmetic run in doubles with an identical expression shape in the
    * oracle — every divide/multiply correctly rounded, so the fit
    * hash-matches. Groups with fewer than 2 fitted points drop (no line
    * through one point).
    *
    * 100 TB shape: one token-count groupBy, a per-group top-N window over
    * the COUNTS frame (vocabulary-sized, not corpus-sized), and a 5-sum
    * aggregation of topN rows per group. */
  def zipfFit(docs: DataFrame, groupCol: String, textCol: String,
      topN: Int = 100): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val g = col(s"`$groupCol`")
    val counts = TextFunctions.termStream(docs, Seq(g), textCol)
      .groupBy(g, col("__term")).agg(count(lit(1)).as("__c"))
    val ranked = counts
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(g)
          .orderBy(col("__c").desc, col("__term"))))
      .filter(col("__rank") <= topN)
    def lnD(c: org.apache.spark.sql.Column) =
      round(log(c).cast("decimal(25,12)"), 9).cast("decimal(12,9)")
    ranked
      .select(g, lnD(col("__rank").cast("double")).as("__x"),
        lnD(col("__c").cast("double")).as("__y"))
      .groupBy(g).agg(
        count(lit(1)).cast("double").as("__n"),
        sum(col("__x")).cast("double").as("__sx"),
        sum(col("__y")).cast("double").as("__sy"),
        sum(col("__x") * col("__y")).cast("double").as("__sxy"),
        sum(col("__x") * col("__x")).cast("double").as("__sxx"))
      .filter(col("__n") >= 2)
      .withColumn("zipf_slope",
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx")))
      .select(g, col("__n").cast("long").as("n_terms"), col("zipf_slope"),
        ((col("__sy") - col("zipf_slope") * col("__sx")) / col("__n"))
          .as("zipf_intercept"))
  }

  /** Benford first-digit audit PER GROUP — the grouped roll-up
    * companion of [[benfordProfile]] (which emits the corpus-level
    * per-digit table): one row per group with the 9 leading-digit
    * counts, χ² against P(d) = log10(1 + 1/d), and the mean absolute
    * deviation of observed digit frequencies (Nigrini's MAD — his
    * conformity thresholds are on this scale). The per-SOURCE shape is
    * what a provenance audit acts on: a single synthesized or truncated
    * source hides inside a corpus-level profile but lights up its own
    * χ² row. Works on an INTEGER-valued column. Output: (groupCol,
    * n long, d1..d9 longs, chi2, mad double). NULL group/value rows and
    * ZERO values drop (zero has no leading digit); negatives audit by
    * |v| (benfordProfile instead drops v < 1 — fractional leading
    * digits belong there). Long.MinValue also drops: |MIN_LONG|
    * overflows back to itself in two's complement, so its "digit"
    * would parse NULL and the row would count toward n while landing
    * in no d1..d9 bucket (and DuckDB's ANSI abs() errors on it) —
    * filtering it keeps both engines aligned and the buckets summing
    * to n.
    *
    * Exactness: the leading digit comes from the LONG's decimal string
    * (never floor(log10) — IEEE log10 of exact powers of ten sits 1 ulp
    * under the integer and misclassifies 1000 as leading-digit 9);
    * P(d) enters both engines as the SAME 9-dp driver literals (the RBO
    * weights rule); each χ²/MAD term is a fixed IEEE tree over exact
    * counts and those literals, quantized to DECIMAL(25,9) and summed
    * order-independently.
    *
    * 100 TB shape: ONE map-side-combinable aggregation over (group) —
    * the digit is a codegen'd string slice, the 9 conditional sums ride
    * the same shuffle, and everything after runs on |groups| rows. */
  def benfordByGroup(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`").cast("long")
    // 9-dp quantized Benford probabilities, shared verbatim with oracles
    val p = Profile.benfordProbs
    val digit = substring(abs(v).cast("string"), 1, 1).cast("int")
    val base = df.filter(g.isNotNull && v.isNotNull && v =!= 0L &&
        v =!= Long.MinValue)
      .select(g.as("__g"), digit.as("__d"))
    val counts = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        (1 to 9).map(d =>
          sum(when(col("__d") === d, 1L).otherwise(0L)).as(s"d$d")): _*)
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val nD = col("n").cast("double")
    val chiTerms = (1 to 9).map { d =>
      val e = nD * lit(p(d - 1))
      ((col(s"d$d").cast("double") - e) * (col(s"d$d").cast("double") - e) / e)
        .cast(dec)
    }.reduce(_ + _)
    val madTerms = (1 to 9).map { d =>
      abs(col(s"d$d").cast("double") / nD - lit(p(d - 1))).cast(dec)
    }.reduce(_ + _)
    counts.select(
      (col("__g").as(groupCol) +: col("n") +:
        (1 to 9).map(d => col(s"d$d")) :+
        chiTerms.cast("double").as("chi2") :+
        (madTerms.cast("double") / lit(9.0)).as("mad")): _*)
  }

  /** log10(1 + 1/d) for d = 1..9, quantized to 9 dp on the driver —
    * embedded as identical literals in the plan AND the DuckDB oracle
    * (the cross-engine transcendental rule: never let two libms race). */
  private[graft] val benfordProbs: IndexedSeq[Double] = (1 to 9).map { d =>
    BigDecimal(math.log10(1.0 + 1.0 / d))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Per-group score calibration: make scores COMPARABLE across
    * heterogeneous sources before mixing them in one pipeline (an
    * absolute quality cut keeps whole easy sources and drops whole hard
    * ones — the same failure mode [[Curation.keepScoreBand]] guards
    * against, here solved by re-expressing every score relative to its
    * own group). Adds two engine-deterministic columns:
    *
    *  - `pct_rank`: SQL percent_rank() within the group ordered by value
    *    alone — rank semantics make it tie-stable, no id tiebreak needed;
    *  - `z_robust`: (v − median) / MAD, median and MAD both exact
    *    nearest-rank order statistics over the FULL group (the p70
    *    integer-micros rank rule, ⌈q·n⌉ = (n·qµ+999999) div 1e6), so on
    *    integer-valued scores every intermediate is an exact long and the
    *    one final division is correctly rounded in any engine. NULL when
    *    MAD = 0 (a constant-majority group has no robust scale).
    *
    * The robust (median/MAD) location-scale pair, not mean/stddev:
    * quality scores are heavy-tailed and a single junk page would drag a
    * mean-based z for the whole source.
    *
    * Rows with NULL group or value keep their row but get NULL
    * pct_rank/z_robust (they carry no rank). No id tiebreak is needed:
    * the nearest-rank VALUE at a rank is tiebreak-independent (ties are
    * the same value).
    *
    * 100 TB shape: rows collapse to per-(group, value) counts, then TWO
    * [[graft.operators.PrefixSum.withKeyedRunningSums]] scans (values,
    * then |v − median| deviations) pick median and MAD as nearest-rank
    * cumulative-count cuts — a giant group never sorts through one
    * window reducer (the pre-r13 shape) — and the per-value pct_rank
    * (rank semantics: (cum − c)/(n − 1)) joins back to rows as one hash
    * join on (group, value). Per-group med/MAD frames broadcast. */
  def calibrateByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val reserved = Seq("__g", "__v", "pct_rank", "z_robust")
    (reserved intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(
        s"column name '$c' is reserved by calibrateByGroup"))
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"), v.as("__v")).agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__c"))
    val totals = cum.groupBy(col("__g")).agg(max(col("cum___c")).as("__n"))
    // nearest-rank pick: the distinct value whose cumulative count spans
    // rank ⌈n/2⌉ (the p70 integer-micros rule) — id-independent
    def pickMedian(cumDf: DataFrame, valOut: String) =
      cumDf.join(broadcast(totals), Seq("__g"))
        .filter(col("cum___c") >= expr("(__n * 500000L + 999999L) div 1000000L") &&
          col("cum___c") - col("__c") <
            expr("(__n * 500000L + 999999L) div 1000000L"))
        .select(col("__g"), col("__v").as(valOut))
    val med = pickMedian(cum, "__med")
    // deviations re-aggregate: v = med ± d merge into one |v − med| value
    val dev = counts.join(broadcast(med), Seq("__g"))
      .groupBy(col("__g"), abs(col("__v") - col("__med")).as("__v"))
      .agg(sum(col("__c")).as("__c"))
    val mad = pickMedian(
      PrefixSum.withKeyedRunningSums(
        dev, Seq("__g"), Seq("__v"), Seq("__c")), "__mad")
    // per-distinct-value stats: percent_rank = (rank − 1)/(n − 1) with
    // rank semantics (ties share the min rank = cum − c + 1); n = 1
    // groups get 0.0, Spark's percent_rank convention
    val vstats = cum.join(broadcast(totals), Seq("__g"))
      .join(broadcast(med), Seq("__g"))
      .join(broadcast(mad), Seq("__g"))
      .select(col("__g"), col("__v"),
        when(col("__n") > 1L,
          (col("cum___c") - col("__c")).cast("double") /
            (col("__n") - 1L).cast("double"))
          .otherwise(lit(0.0)).as("pct_rank"),
        when(col("__mad") === 0, lit(null))
          .otherwise((col("__v") - col("__med")).cast("double") /
            col("__mad").cast("double")).as("z_robust"))
    df.join(vstats, g <=> col("__g") && v <=> col("__v"), "left")
      .drop("__g", "__v")
  }

  /** Robust per-group location statistics: plain mean, the exact
    * nearest-rank `loPct`/`hiPct` cuts, the WINSORIZED mean (values
    * clamped to the cuts — the outlier-tolerant mean every corpus
    * report should publish instead of the raw one, which a single
    * 2 GB document can drag arbitrarily) and the value-cut TRIMMED
    * mean (values strictly outside the cuts dropped; ties AT a cut
    * kept — note this is the value-threshold variant, which can drop
    * fewer than ⌈p·n⌉ rows under heavy ties at the cut).
    *
    * Output: (groupCol, n long, mean, lo_cut, hi_cut, winsor_mean,
    * trimmed_mean double, n_kept long — rows inside the cuts). NULL
    * group/value rows drop (the [[quantilesByGroup]] family contract).
    *
    * Exactness: cut ranks use the integer-micros nearest-rank rule
    * (the [[calibrateByGroup]] contract — ⌈p·n⌉ via
    * (n·pMicro + 999999) div 10⁶, floored at 1); per-distinct-value
    * decimal casts times exact integer counts reproduce the per-row
    * DECIMAL(25,6) sums bit-for-bit (c copies of a quantized value sum
    * to c·value — order-independent, the q28 contract) and each mean
    * is ONE IEEE division.
    *
    * 100 TB shape: collapse to (group, value) counts (map-side
    * combinable), rank by [[PrefixSum.withKeyedRunningSums]] (range
    * exchange on the composite key — one giant group spreads over many
    * partitions; never `Window.partitionBy(group)`), pick both cuts by
    * the cum ≥ rank ∧ cum − count < rank rule, broadcast the |groups|-row
    * cut table back into ONE aggregation over the distinct-value frame —
    * the raw rows are never rejoined. */
  def robustStats(df: DataFrame, groupCol: String, valueCol: String,
      loPct: Double = 0.05, hiPct: Double = 0.95): DataFrame = {
    require(loPct >= 0.0 && hiPct <= 1.0 && loPct < hiPct,
      s"need 0 <= loPct < hiPct <= 1, got ($loPct, $hiPct)")
    val dec = org.apache.spark.sql.types.DecimalType(25, 6)
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val loMicro = math.round(loPct * 1e6)
    val hiMicro = math.round(hiPct * 1e6)
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"), v.as("__v")).agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__c"))
    // inclusive cum at the group's max value IS n (the quantilesByGroup
    // totals contract); the rank table is |groups| rows — broadcastable
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___c")).as("__n"))
      .withColumn("__lork", greatest(lit(1L),
        expr(s"(__n * ${loMicro}L + 999999L) div 1000000L")))
      .withColumn("__hirk", greatest(lit(1L),
        expr(s"(__n * ${hiMicro}L + 999999L) div 1000000L")))
    val cuts = cum.join(broadcast(totals), Seq("__g"))
      .groupBy(col("__g"))
      .agg(
        max(when(col("cum___c") >= col("__lork") &&
          col("cum___c") - col("__c") < col("__lork"), col("__v"))).as("lo_cut"),
        max(when(col("cum___c") >= col("__hirk") &&
          col("cum___c") - col("__c") < col("__hirk"), col("__v"))).as("hi_cut"))
    cum.join(broadcast(cuts), Seq("__g"))
      .groupBy(col("__g"))
      .agg(
        sum(col("__c")).as("n"),
        sum(col("__v").cast(dec) * col("__c")).as("__sum"),
        max(col("lo_cut")).as("__locut"),
        max(col("hi_cut")).as("__hicut"),
        sum(greatest(least(col("__v"), col("hi_cut")), col("lo_cut")).cast(dec)
          * col("__c")).as("__wsum"),
        sum(when(col("__v") >= col("lo_cut") && col("__v") <= col("hi_cut"),
          col("__v").cast(dec) * col("__c"))).as("__tsum"),
        sum(when(col("__v") >= col("lo_cut") && col("__v") <= col("hi_cut"),
          col("__c")).otherwise(0L)).as("__tn"))
      .select(col("__g").as(groupCol), col("n"),
        (col("__sum").cast("double") / col("n").cast("double")).as("mean"),
        col("__locut").as("lo_cut"), col("__hicut").as("hi_cut"),
        (col("__wsum").cast("double") / col("n").cast("double")).as("winsor_mean"),
        (col("__tsum").cast("double") / col("__tn").cast("double")).as("trimmed_mean"),
        col("__tn").as("n_kept"))
  }

  /** Token-distribution divergence between two corpora — the drift/
    * mixture-shift monitor a pipeline runs between crawl snapshots or
    * between a training mix and its target domain: KL(A‖B), KL(B‖A) and
    * the symmetric bounded Jensen–Shannon divergence (nats), under
    * add-one (Laplace) smoothing over the UNION vocabulary (so no token
    * has probability zero and every divergence is finite).
    *
    * One row: (vocab_size, n_tokens_a, n_tokens_b, kl_ab, kl_ba, js).
    *
    * Engine portability: each probability is ONE IEEE division of exact
    * integers ((c+1)/(N+V)); each ln rounds through the shared 9-dp
    * decimal contract; per-token terms accumulate through
    * DECIMAL(25,15) so sums are order-independent; only the REPORTED
    * divergences round (9 dp).
    *
    * 100 TB shape: two map-side-combinable token counts, one full outer
    * join on token (hash-keyed strings, the only corpus-sized shuffle),
    * two tiny total rows broadcast into the term computation, one final
    * scalar aggregation. Nothing per-document survives the first
    * aggregation. */
  def tokenDivergence(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(25, 15)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def counts(df: DataFrame, out: String): DataFrame =
      TextFunctions.termStream(df, Nil, textCol)
        .groupBy(col("__term")).agg(count(lit(1)).as(out))
    // staged: the joined count frame feeds BOTH the totals row and the
    // per-token terms — unstaged, the full-outer join and both count
    // aggregations execute twice (only the exchanges get reused)
    val joined = Stager.stage(
      counts(a, "__ca").join(counts(b, "__cb"), Seq("__term"), "full_outer")
        .select(coalesce(col("__ca"), lit(0L)).as("__ca"),
          coalesce(col("__cb"), lit(0L)).as("__cb")),
      s"divergence_counts_$runId")
    val totals = joined.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("__ca")).as("n_tokens_a"),
      sum(col("__cb")).as("n_tokens_b"))
    val ln9 = (c: org.apache.spark.sql.Column) =>
      round(log(c).cast(org.apache.spark.sql.types.DecimalType(25, 12)), 9)
        .cast("double")
    val withP = joined.crossJoin(broadcast(totals))
      .withColumn("__p", (col("__ca") + 1L).cast("double") /
        (col("n_tokens_a") + col("vocab_size")).cast("double"))
      .withColumn("__q", (col("__cb") + 1L).cast("double") /
        (col("n_tokens_b") + col("vocab_size")).cast("double"))
      .withColumn("__m", (col("__p") + col("__q")) / 2.0)
    withP
      .groupBy(col("vocab_size"), col("n_tokens_a"), col("n_tokens_b"))
      .agg(
        sum((col("__p") * ln9(col("__p") / col("__q"))).cast(dec)).as("__klab"),
        sum((col("__q") * ln9(col("__q") / col("__p"))).cast(dec)).as("__klba"),
        sum(((col("__p") * ln9(col("__p") / col("__m")) +
          col("__q") * ln9(col("__q") / col("__m"))) / 2.0).cast(dec)).as("__js"))
      .select(col("vocab_size"), col("n_tokens_a"), col("n_tokens_b"),
        round(col("__klab").cast("double"), 9).as("kl_ab"),
        round(col("__klba").cast("double"), 9).as("kl_ba"),
        round(col("__js").cast("double"), 9).as("js"))
  }

  /** Partition-key skew report — the diagnostic you run on a candidate
    * shuffle/join key BEFORE committing a partitioning strategy at
    * scale: is this key safe to hash-shuffle, or does it need salting /
    * AQE skew handling? One row: (n_rows, n_keys, max_n, p50_n, p99_n
    * longs; max_share, topk_share, hhi doubles). `hhi` is the
    * Herfindahl-Hirschman concentration index Σ(n_k/N)² — 1/n_keys for
    * a uniform key, →1 as one key dominates; `topk_share` is the row
    * fraction owned by the `topK` hottest keys (the rows AQE skew-join
    * would have to split). NULL keys count as one key (hash-partitioning
    * co-locates them like any other value).
    *
    * Exactness: Σn², n·N products ride exact integer/decimal paths; each
    * share is ONE IEEE division (hhi divides the decimal Σn² by N·N
    * computed in doubles — both casts correctly rounded). p50/p99 are
    * exact nearest-rank order statistics of the per-key count
    * distribution, read off a count-of-counts HISTOGRAM whose running
    * sum is a [[PrefixSum]] distributed scan — range-partitioned over
    * the DISTINCT count values with broadcast offsets, so even a
    * pathological corpus where every key count is unique never collapses
    * onto one reducer. The topK sum is a distributed TakeOrdered (never
    * a global window); tie order among equal counts cannot change the
    * reported SUM.
    *
    * 100 TB shape: one hash shuffle to count keys, then histogram-sized
    * frames only. */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // staged: the per-key count frame feeds totals + histogram + top-k —
    // unstaged, the corpus-sized count shuffle executes three times
    val counts = Stager.stage(
      df.groupBy(col(s"`$keyCol`").as("__k")).agg(count(lit(1)).as("__n")),
      "keyskew_counts")
    val totals = counts.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_rows"),
      count(lit(1)).as("n_keys"),
      max(col("__n")).as("max_n"),
      sum((col("__n") * col("__n")).cast(dec38)).as("__sumsq"))
    val hist = PrefixSum.withKeyedRunningSums(
        counts.groupBy(col("__n")).agg(count(lit(1)).as("__f")),
        Nil, Seq("__n"), Seq("__f"))
      .withColumn("__cum", col("cum___f"))
    val quants = hist.crossJoin(broadcast(totals.select(col("n_keys").as("__nk"))))
      .agg(
        min(when(col("__cum") >=
          expr("(__nk * 500000L + 999999L) div 1000000L"), col("__n"))).as("p50_n"),
        min(when(col("__cum") >=
          expr("(__nk * 990000L + 999999L) div 1000000L"), col("__n"))).as("p99_n"))
    val top = counts.orderBy(col("__n").desc, col("__k")).limit(topK)
      .agg(sum(col("__n")).as("__top"))
    totals.crossJoin(quants).crossJoin(top)
      .select(col("n_rows"), col("n_keys"), col("max_n"),
        col("p50_n"), col("p99_n"),
        when(col("n_rows") > 0L,
          col("max_n").cast("double") / col("n_rows").cast("double")).as("max_share"),
        when(col("n_rows") > 0L,
          col("__top").cast("double") / col("n_rows").cast("double")).as("topk_share"),
        when(col("n_rows") > 0L, col("__sumsq").cast("double") /
          (col("n_rows").cast("double") * col("n_rows").cast("double"))).as("hhi"))
  }

  /** Token-distribution Shannon entropy per group (nats) — the lexical-
    * diversity signal behind template/boilerplate detection (a source
    * whose entropy craters is emitting generated or duplicated text) and
    * tokenizer-budget planning. Output: (groupCol, n_tokens, vocab_size
    * longs, entropy double — ln N − Σc·ln c / N, ttr double — type-token
    * ratio vocab/N). Groups whose docs have no tokens emit no row.
    *
    * Exactness: counts are exact integers, each ln rounds through the
    * 9-dp decimal contract, the Σc·ln c terms accumulate through
    * DECIMAL(25,9) (order-independent), and the entropy is one IEEE
    * subtraction of one division — the p86 recipe.
    *
    * 100 TB shape: tokens shuffle once to (group, term) counts, then one
    * tiny group rollup; text never shuffles twice. */
  def tokenEntropy(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val ln9 = (c: org.apache.spark.sql.Column) =>
      round(log(c).cast(org.apache.spark.sql.types.DecimalType(25, 12)), 9)
        .cast("double")
    val counts = docs
      .select(g.as("__g"),
        explode(TextFunctions.tokens(lower(coalesce(col(s"`$textCol`"), lit(""))))).as("__t"))
      .groupBy(col("__g"), col("__t")).agg(count(lit(1)).as("__c"))
    counts.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum((col("__c").cast("double") * ln9(col("__c").cast("double"))).cast(dec))
          .as("__sclnc"))
      .select(col("__g").as(groupCol), col("n_tokens"), col("vocab_size"),
        (ln9(col("n_tokens").cast("double")) -
          col("__sclnc").cast("double") / col("n_tokens").cast("double")).as("entropy"),
        (col("vocab_size").cast("double") / col("n_tokens").cast("double")).as("ttr"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic between the
    * distributions of `valueCol` in frames `a` and `b` — the
    * distribution-drift test (did this source's length/quality/score
    * distribution shift between snapshots?) that mean/variance monitors
    * miss. One row: (n_a, n_b long, ks double — sup |F_a − F_b|, ks_at —
    * the smallest value attaining the sup).
    *
    * Exactness: the sup is located on SCALED INTEGERS —
    * |cum_a·n_b − cum_b·n_a| accumulated in DECIMAL(38,0), so the argmax
    * has no FP anywhere; only the final reported ks divides once. NULL
    * values drop.
    *
    * 100 TB shape: each side collapses to per-distinct-value counts
    * (map-side combinable), then one full-outer merge and a
    * [[PrefixSum]] distributed cumulative scan over the DISTINCT-value
    * frame — range-partitioned with broadcast offsets, so even a
    * continuous-unique-value corpus never collapses onto one reducer
    * (same posture as [[keySkew]]'s histogram). [[Drift.ksByGroup]] is
    * the per-group form. */
  def ksStatistic(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // the cumulative scan's staged range-partitioned frame ALSO serves
    // the totals, the max and the argmax — the corpus-sized count
    // shuffles run once
    val cum = PrefixSum.withKeyedRunningSums(
      Drift.pairCounts(a, b, None, col(s"`$valueCol`")),
      Nil, Seq("__v"), Seq("__na", "__nb"))
    val totals = cum.agg(sum(col("__na")).as("__ta"), sum(col("__nb")).as("__tb"))
    val scaled = cum
      .withColumn("__ca", col("cum___na"))
      .withColumn("__cb", col("cum___nb"))
      .crossJoin(broadcast(totals))
      .withColumn("__sd", abs(col("__ca").cast(dec38) * col("__tb") -
        col("__cb").cast(dec38) * col("__ta")))
    scaled.agg(max(col("__sd")).as("__msd")).crossJoin(totals)
      .join(scaled.groupBy(col("__sd").as("__msd"))
          .agg(min(col("__v")).as("ks_at")),
        Seq("__msd"))
      .select(col("__ta").as("n_a"), col("__tb").as("n_b"),
        when(col("__ta") > 0L && col("__tb") > 0L,
          col("__msd").cast("double") /
            (col("__ta").cast("double") * col("__tb").cast("double"))).as("ks"),
        col("ks_at"))
  }

  /** Per-group ordinary-least-squares trend: slope + intercept of
    * `yCol` against an integer `xCol` (e.g. epoch hours), the drift
    * detector behind "is this metric trending?" monitors. x is
    * RECENTERED per group to x − min(x) before the closed form, so the
    * integer moment sums n·Σx², (Σx)² stay exact bigints at any
    * realistic scale (range², not epoch², bounds the magnitude) — the
    * intercept is therefore the fitted value AT the group's first x
    * (column `x_min`). Output: (groupCol, n long, x_min long, slope,
    * intercept doubles — slope NULL and intercept the plain mean (the
    * flat fit) when the group has one distinct x).
    *
    * Exactness: Σdx, Σdx² are exact integers; Σy and Σdx·y accumulate
    * through DECIMAL(25,9) (each term is ONE IEEE product); numerator
    * and denominator are fixed IEEE trees over those exact sums,
    * identical in the oracle. NULL x or y rows are dropped.
    *
    * 100 TB shape: one window min (hash shuffle by group) + one
    * aggregation over the same partitioning — Catalyst reuses the
    * exchange; nothing but group keys and five moments ever shuffles. */
  def trendByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val x = col(s"`$xCol`").cast("long")
    val y = col(s"`$yCol`").cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(g.as("__g"), x.as("__x"), y.as("__y"))
      .withColumn("__xmin", min(col("__x")).over(Window.partitionBy(col("__g"))))
      .withColumn("__dx", col("__x") - col("__xmin"))
    base.groupBy(col("__g"), col("__xmin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__dx")).as("__sx"),
        sum(col("__dx") * col("__dx")).as("__sxx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__dx").cast("double") * col("__y")).cast(dec)).as("__sxy"))
      .withColumn("__den", col("n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope", when(col("__den") =!= 0L,
        (col("n").cast("double") * col("__sxy").cast("double") -
          col("__sx").cast("double") * col("__sy").cast("double")) /
          col("__den").cast("double")))
      .withColumn("intercept", when(col("slope").isNotNull,
        (col("__sy").cast("double") - col("slope") * col("__sx").cast("double")) /
          col("n").cast("double"))
        .otherwise(col("__sy").cast("double") / col("n").cast("double")))
      .select(col("__g").as(groupCol), col("n"), col("__xmin").as("x_min"),
        col("slope"), col("intercept"))
  }

  /** Per-group Pearson correlation between an integer `xCol` and a
    * numeric `yCol` — the strength companion to [[trendByGroup]]'s
    * slope (is the drift real or noise-shaped?): r = (n·Σdxdy −
    * Σdx·Σdy) / √((n·Σdx² − (Σdx)²)·(n·Σdy² − (Σdy)²)) with x
    * RECENTERED to the group min exactly like trendByGroup (a shift
    * changes no correlation and keeps the integer moments exact
    * bigints). Output: (groupCol, n long, r double — NULL when either
    * variable is constant in the group). Rows with NULL x or y drop.
    *
    * Exactness: Σdx, Σdx² exact integers; Σy, Σdx·y, Σy² accumulate
    * through DECIMAL(25,9) (one IEEE product each, order-independent);
    * the closed form is a fixed IEEE tree with one correctly-rounded
    * √ — deterministic cross-engine.
    *
    * 100 TB shape: one window min + one aggregation over the same
    * group partitioning (Catalyst reuses the exchange), five moments
    * per group on the wire. */
  def corrByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val x = col(s"`$xCol`").cast("long")
    val y = col(s"`$yCol`").cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(g.as("__g"), x.as("__x"), y.as("__y"))
      .withColumn("__xmin", min(col("__x")).over(Window.partitionBy(col("__g"))))
      .withColumn("__dx", col("__x") - col("__xmin"))
    base.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__dx")).as("__sx"),
        sum(col("__dx") * col("__dx")).as("__sxx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__y") * col("__y")).cast(dec)).as("__syy"),
        sum((col("__dx").cast("double") * col("__y")).cast(dec)).as("__sxy"))
      .withColumn("__vx", (col("n") * col("__sxx") - col("__sx") * col("__sx"))
        .cast("double"))
      .withColumn("__vy", col("n").cast("double") * col("__syy").cast("double") -
        col("__sy").cast("double") * col("__sy").cast("double"))
      .select(col("__g").as(groupCol), col("n"),
        when(col("__vx") > 0.0 && col("__vy") > 0.0,
          (col("n").cast("double") * col("__sxy").cast("double") -
            col("__sx").cast("double") * col("__sy").cast("double")) /
            sqrt(col("__vx") * col("__vy"))).as("r"))
  }

  /** Per-group Spearman rank correlation between two numeric columns —
    * the monotone-association strength that survives outliers and
    * nonlinearity (quality-score vs length, score vs recency), i.e.
    * Pearson over MIDRANKS. Ranks ride DOUBLED as exact integers
    * (2·min_rank + t − 1 for a tie run of t — the [[Drift.mannWhitneyU]]
    * trick), so every moment is exact DECIMAL(38,0) arithmetic and only
    * the closed form divides in IEEE doubles with one correctly-rounded
    * sqrt. Output: (groupCol, n long, rho double — NULL when either
    * variable is constant in the group). Rows with NULL group or
    * values drop.
    *
    * 100 TB shape (the r13 migration off the two per-group sort
    * windows, which ranked every row of a group through one reducer
    * per axis): per axis, values collapse to per-(group, value) counts
    * and ONE [[graft.operators.PrefixSum.withKeyedRunningSums]] scan
    * assigns the doubled midranks (2·cum − c + 1 ≡ 2·min_rank + c − 1,
    * exact integers); ranks join back to rows as hash equi-joins on
    * (group, value); one moment aggregation. */
  def spearmanByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = col(s"`$groupCol`")
    val x = col(s"`$xCol`").cast("double")
    val y = col(s"`$yCol`").cast("double")
    val base = df.filter(g.isNotNull && x.isNotNull && y.isNotNull)
      .select(g.as("__g"), x.as("__x"), y.as("__y"))
    def midranks(valCol: String, out: String): DataFrame = {
      val counts = base.groupBy(col("__g"), col(s"`$valCol`").as("__v"))
        .agg(count(lit(1)).as("__c"))
      PrefixSum.withKeyedRunningSums(
          counts, Seq("__g"), Seq("__v"), Seq("__c"))
        .select(col("__g"), col("__v").as(valCol),
          (lit(2L) * col("cum___c") - col("__c") + 1L).as(out))
    }
    val ranked = base
      .join(midranks("__x", "__rx"), Seq("__g", "__x"))
      .join(midranks("__y", "__ry"), Seq("__g", "__y"))
    ranked.groupBy(col("__g"))
      .agg(count(lit(1)).as("n"),
        sum(col("__rx").cast(dec38)).as("__sx"),
        sum(col("__ry").cast(dec38)).as("__sy"),
        sum((col("__rx").cast(dec38) * col("__rx"))).as("__sxx"),
        sum((col("__ry").cast(dec38) * col("__ry"))).as("__syy"),
        sum((col("__rx").cast(dec38) * col("__ry"))).as("__sxy"))
      .withColumn("__vx", (col("n").cast(dec38) * col("__sxx") -
        col("__sx") * col("__sx")).cast("double"))
      .withColumn("__vy", (col("n").cast(dec38) * col("__syy") -
        col("__sy") * col("__sy")).cast("double"))
      .select(col("__g").as(groupCol), col("n"),
        when(col("__vx") > 0.0 && col("__vy") > 0.0,
          (col("n").cast(dec38) * col("__sxy") - col("__sx") * col("__sy"))
            .cast("double") / sqrt(col("__vx") * col("__vy"))).as("rho"))
  }

  /** Per-group lag-`lag` autocorrelation of `yCol` along an integer
    * axis `xCol` (epoch hours, sequence positions) — the seasonality /
    * persistence detector behind "is this hourly rate periodic?"
    * monitors: Pearson r between (y at x) and (y at x + lag) over all
    * axis points where BOTH exist. Distinct x per group expected (one
    * measurement per tick — aggregate first). Output: (groupCol,
    * n_pairs long, r double — NULL with fewer than 2 pairs or a
    * constant side). Rows with NULL x or y drop.
    *
    * Exactness: the pair join is an integer equi-join; moments
    * quantize through DECIMAL(25,9) per term; the closed form is the
    * [[corrByGroup]] fixed IEEE tree. Cross-engine caveat: feed
    * integer-valued or raw-stored ticks, not freshly computed
    * quotients — a full-mantissa double sitting ON a 9-dp rounding
    * boundary quantizes differently under Spark's shortest-repr
    * double→decimal cast vs an exact-value cast (the p135 gate
    * autocorrelates hourly COUNTS for exactly this reason).
    *
    * 100 TB shape: one self-equi-join on (group, x+lag) — hash
    * shuffle of (group, tick) keyed rows, no window at all. */
  def autocorrByGroup(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, lag: Long): DataFrame = {
    require(lag >= 1L, s"lag must be >= 1, got $lag")
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val x = col(s"`$xCol`").cast("long")
    val y = col(s"`$yCol`").cast("double")
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(g.as("__g"), x.as("__x"), y.as("__y"))
    val pairs = base.select(col("__g"), (col("__x") + lag).as("__xj"),
        col("__y").as("__y1"))
      .join(base.select(col("__g"), col("__x").as("__xj"), col("__y").as("__y2")),
        Seq("__g", "__xj"))
    pairs.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__y1").cast(dec)).as("__s1"),
        sum(col("__y2").cast(dec)).as("__s2"),
        sum((col("__y1") * col("__y1")).cast(dec)).as("__s11"),
        sum((col("__y2") * col("__y2")).cast(dec)).as("__s22"),
        sum((col("__y1") * col("__y2")).cast(dec)).as("__s12"))
      .withColumn("__v1", col("n_pairs").cast("double") * col("__s11").cast("double") -
        col("__s1").cast("double") * col("__s1").cast("double"))
      .withColumn("__v2", col("n_pairs").cast("double") * col("__s22").cast("double") -
        col("__s2").cast("double") * col("__s2").cast("double"))
      .select(col("__g").as(groupCol), col("n_pairs"),
        when(col("n_pairs") >= 2L && col("__v1") > 0.0 && col("__v2") > 0.0,
          (col("n_pairs").cast("double") * col("__s12").cast("double") -
            col("__s1").cast("double") * col("__s2").cast("double")) /
            sqrt(col("__v1") * col("__v2"))).as("r"))
  }

  /** Benford leading-digit audit of a positive numeric column — the
    * naturally-occurring-numbers test (Benford 1938; Nigrini's fraud
    * workhorse) that flags fabricated or truncated value columns
    * (prices, counts, durations) whose first-digit mix strays from
    * log10(1 + 1/d). Rows with NULL values or values < 1 drop (their
    * leading significant digit lives in the fraction; shift upstream
    * if they matter). Output, one row per digit 1–9 (absent digits
    * included with n = 0): (digit long, n long, frac double — n/N,
    * expected double — (ln(d+1) − ln(d))/ln(10) under the 9-dp ln
    * contract, deviation double — frac − expected).
    *
    * Exactness: the digit is the first character of the FLOORED
    * value's integer rendering (floor first — a straight double→long
    * cast rounds in some engines, truncates in others); counts are
    * exact; each ln rides the 9-dp decimal contract; frac and the
    * deviation are single IEEE operations.
    *
    * 100 TB shape: one map-side-combinable count over ≤ 9 groups
    * joined to a 9-row literal frame; nothing else shuffles. */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(s"`$valueCol`").cast("double")
    val ln9v = (c: org.apache.spark.sql.Column) =>
      round(log(c).cast(org.apache.spark.sql.types.DecimalType(25, 12)), 9)
        .cast("double")
    // !isnan matters: Spark orders NaN ABOVE every value, so NaN >= 1.0
    // is true and a NaN row would mint a null digit that inflates N
    val counts = df.filter(v.isNotNull && !isnan(v) && v >= 1.0)
      .select(substring(floor(v).cast("long").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("__n"))
    val digits = df.sparkSession.range(1, 10).select(col("id").as("digit"))
    val total = counts.agg(coalesce(sum(col("__n")), lit(0L)).as("__t"))
    digits.join(counts, Seq("digit"), "left")
      .withColumn("n", coalesce(col("__n"), lit(0L)))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        when(col("__t") > 0L,
          col("n").cast("double") / col("__t").cast("double")).as("frac"),
        ((ln9v(col("digit").cast("double") + 1.0) -
          ln9v(col("digit").cast("double"))) / ln9v(lit(10.0))).as("expected"))
      .withColumn("deviation", col("frac") - col("expected"))
  }

  /** Per-group trimmed and winsorized means — the outlier-robust
    * location estimates between the plain mean and [[robustStats]]'
    * median: trim drops the `trimMicro`/1e6 fraction off EACH tail
    * (by exact rank), winsorize clamps those tails to the surviving
    * boundary values instead. The metric-monitoring workhorse for
    * heavy-tailed signals (doc lengths, latencies, token counts) where
    * one crawler burp shouldn't move the dashboard. Output per group:
    * (groupCol, n long, n_tail long — rows trimmed per tail,
    * ⌊n·trim⌋, mean, trimmed_mean, winsorized_mean doubles —
    * trimmed_mean equals mean when the group is too small to trim).
    * Rows with NULL group or value drop.
    *
    * Exactness: cut ranks are exact integer arithmetic; boundary
    * values are exact order statistics; all three means accumulate
    * through DECIMAL(25,9) (order-independent, exact for
    * integer-valued columns) with ONE IEEE division each. The rank-based
    * trim is computed on the DISTINCT-value count frame: rows tied at
    * the cut boundary are interchangeable in every sum (equal values),
    * so the per-value overlap of the rank interval (cum − c, cum] with
    * the kept range (lo, n − lo] reproduces any tiebroken per-row trim
    * exactly, so no id tiebreak is needed.
    *
    * 100 TB shape: collapse to (group, value) counts (map-side
    * combinable), rank by [[PrefixSum.withKeyedRunningSums]] (range
    * exchange on the composite key — one giant group spreads over many
    * partitions; never `Window.partitionBy(group)`), pick both boundary
    * order statistics by the cum ≥ rank ∧ cum − count < rank rule,
    * broadcast the |groups|-row boundary table back into ONE aggregation
    * over the distinct-value frame. */
  def trimmedMeanByGroup(df: DataFrame, groupCol: String, valueCol: String,
      trimMicro: Long = 50000L): DataFrame = {
    require(trimMicro >= 0L && trimMicro < 500000L,
      s"trimMicro must be in [0, 500000), got $trimMicro")
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`").cast("double")
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"), v.as("__v")).agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__c"))
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___c")).as("__n"))
      .withColumn("__lo", expr(s"(__n * ${trimMicro}L) div 1000000L"))
    // boundary order statistics: value at rank lo + 1 and rank n − lo
    // (trimMicro < 0.5e6 guarantees lo + 1 <= n − lo, so both exist)
    val cuts = cum.join(broadcast(totals), Seq("__g"))
      .groupBy(col("__g"))
      .agg(
        max(when(col("cum___c") >= col("__lo") + 1L &&
          col("cum___c") - col("__c") < col("__lo") + 1L, col("__v"))).as("__vlo"),
        max(when(col("cum___c") >= col("__n") - col("__lo") &&
          col("cum___c") - col("__c") < col("__n") - col("__lo"), col("__v"))).as("__vhi"))
    // per-value overlap of the rank interval (cum − c, cum] with the kept
    // range (lo, n − lo]: equal-valued rows are interchangeable, so this
    // IS the rank-based trim
    cum.join(broadcast(totals.join(cuts, Seq("__g"))), Seq("__g"))
      .withColumn("__ov", greatest(lit(0L),
        least(col("cum___c"), col("__n") - col("__lo")) -
          greatest(col("cum___c") - col("__c"), col("__lo"))))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("n"),
        max(col("__lo")).as("n_tail"),
        (sum(col("__v").cast(dec) * col("__c")).cast("double") /
          sum(col("__c")).cast("double")).as("mean"),
        (sum(col("__v").cast(dec) * col("__ov")).cast("double") /
          sum(col("__ov")).cast("double")).as("trimmed_mean"),
        (sum(greatest(least(col("__v"), col("__vhi")), col("__vlo")).cast(dec)
            * col("__c")).cast("double") /
          sum(col("__c")).cast("double")).as("winsorized_mean"))
      .select(col("__g").as(groupCol), col("n"), col("n_tail"),
        col("mean"), col("trimmed_mean"), col("winsorized_mean"))
  }

  /** Heaps'-law vocabulary-growth fit over the corpus in `idCol` order —
    * V(n) ≈ K·n^β, the companion power law to [[zipfFit]] (p77): β tells
    * a pipeline how fast NEW vocabulary keeps arriving as the corpus
    * grows (β ≈ 0.4–0.6 for natural text; β near 1 means the stream is
    * still mostly-unseen — keep crawling; β near 0 means saturation).
    * One row: (n_docs, n_points, n_tokens, vocab longs, beta, ln_k
    * doubles — the log-log OLS slope/intercept over the per-doc prefix
    * points (x=ln cumulative tokens, y=ln cumulative vocabulary); NULL
    * when fewer than 2 distinct x values). Tokenization is the repo
    * whitespace+lowercase contract.
    *
    * The cumulative-vocabulary trick: V at prefix d = #{tokens whose
    * FIRST occurrence doc ≤ d} — one min-per-token aggregation plus one
    * prefix scan, instead of a quadratic running-distinct.
    *
    * Exactness: cumulative token/vocab counts are exact integers; each
    * ln rides the 9-dp decimal contract; the four OLS sums quantize to
    * DECIMAL(25,9) (order-independent, the p104 recipe); slope and
    * intercept are fixed IEEE trees over the decimal-cast sums.
    *
    * 100 TB shape: the token stream collapses map-side to per-doc counts
    * and per-token first-docs; both scans ride [[PrefixSum]] (range
    * exchange + broadcast offsets — no single-reducer window); the OLS
    * is ONE aggregation over the per-doc frame. */
  def heapsFit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val id = col(s"`$idCol`")
    val toks = df
      .select(id, explode(split(lower(col(s"`$textCol`")), "\\s+")).as("__tok"))
      .filter(col("__tok") =!= "")
    val perDoc = toks.groupBy(id).agg(count(lit(1)).as("__nt"))
    val newPerDoc = toks.groupBy(col("__tok")).agg(min(id).as("__fd"))
      .groupBy(col("__fd").as(idCol)).agg(count(lit(1)).as("__new"))
    val base = df.select(id)
      .join(perDoc, Seq(idCol), "left")
      .join(newPerDoc, Seq(idCol), "left")
      .select(id, coalesce(col("__nt"), lit(0L)).as("__nt"),
        coalesce(col("__new"), lit(0L)).as("__new"))
      .withColumn("__one", lit(1L))
    val cum = PrefixSum.withKeyedRunningSums(base, Nil, Seq(idCol),
      Seq("__one", "__nt", "__new"))
    val ln9 = (c: org.apache.spark.sql.Column) =>
      round(log(c).cast(DecimalType(25, 12)), 9).cast("double")
    val pointed = cum.select(
      col("cum___one").as("__rn"), col("cum___nt").as("__ct"),
      col("cum___new").as("__cv"),
      when(col("cum___nt") > 0L, ln9(col("cum___nt").cast("double"))).as("__x"),
      when(col("cum___nt") > 0L, ln9(col("cum___new").cast("double"))).as("__y"))
    val d9 = DecimalType(25, 9)
    val a = pointed.agg(
      max(col("__rn")).as("n_docs"), count(col("__x")).as("n_points"),
      countDistinct(col("__x")).as("__ndx"),
      max(col("__ct")).as("n_tokens"), max(col("__cv")).as("vocab"),
      sum(col("__x").cast(d9)).as("__sx"), sum(col("__y").cast(d9)).as("__sy"),
      sum((col("__x") * col("__x")).cast(d9)).as("__sxx"),
      sum((col("__x") * col("__y")).cast(d9)).as("__sxy"))
    val n = col("n_points").cast("double")
    val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
    val sxx = col("__sxx").cast("double"); val sxy = col("__sxy").cast("double")
    // the defined-fit test is DISTINCT x count, not den != 0: with a single
    // distinct x the exact den is 0 but the 9-dp quantized sums leave
    // ~1e-10 of noise — a junk slope, not a fit
    val den = n * sxx - sx * sx
    val ok = col("__ndx") >= 2L && den =!= 0.0
    val beta = (n * sxy - sx * sy) / den
    a.select(col("n_docs"), col("n_points"), col("n_tokens"), col("vocab"),
      when(ok, beta).as("beta"),
      when(ok, (sy - beta * sx) / n).as("ln_k"))
  }

  /** Ecological diversity indices of the `keyCol` mix per group — the
    * "is this source a monoculture?" report a mixture designer reads
    * before weighting ([[Mixture]]): Shannon entropy H = −Σ p·ln p
    * (nats), Simpson concentration D = Σ p² (the probability two random
    * draws match — 1/D is the effective category count), and Pielou
    * evenness J = H / ln(richness). Per group: (groupCol, n long — rows
    * with non-NULL key, richness long — distinct keys, shannon double,
    * simpson double, evenness double — NULL when richness < 2, where
    * evenness is undefined). NULL keys drop; groups with no non-NULL
    * keys are absent (inner semantics).
    *
    * Exactness: counts are exact integers; Simpson is ONE division of
    * exact integers (Σ c² / T² via DECIMAL(38,0)); each Shannon term is
    * one IEEE division + a 9-dp-contract ln + one product, accumulating
    * in DECIMAL(25,15); H and J round to 9 dp on report (the p86 rule).
    *
    * 100 TB shape: one (group, key) count aggregation (map-side
    * combinable), one group rollup — categorical contract: key
    * cardinality per group ≪ row count. */
  def diversityByGroup(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec38 = DecimalType(38, 0)
    val ln9 = (c: org.apache.spark.sql.Column) =>
      round(log(c).cast(DecimalType(25, 12)), 9).cast("double")
    val cnt = df
      .filter(col(s"`$groupCol`").isNotNull && col(s"`$keyCol`").isNotNull)
      .groupBy(col(s"`$groupCol`").as("__g"), col(s"`$keyCol`").as("__k"))
      .agg(count(lit(1)).as("__c"))
    val tot = cnt.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__t"), count(lit(1)).as("richness"),
        sum(col("__c").cast(dec38) * col("__c")).as("__c2"))
    val terms = cnt.join(tot, Seq("__g"))
      .withColumn("__p", col("__c").cast("double") / col("__t").cast("double"))
      .withColumn("__h", (col("__p") * ln9(col("__p"))).cast(DecimalType(25, 15)))
    terms.groupBy(col("__g").as(groupCol))
      .agg(max(col("__t")).as("n"), max(col("richness")).as("richness"),
        sum(col("__h")).as("__hsum"), max(col("__c2")).as("__c2m"))
      .select(col(s"`$groupCol`"), col("n"), col("richness"),
        round(-col("__hsum").cast("double"), 9).as("shannon"),
        (col("__c2m").cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("simpson"),
        when(col("richness") >= 2L,
          round(-col("__hsum").cast("double") /
            ln9(col("richness").cast("double")), 9)).as("evenness"))
  }

  /** Distributed EXACT per-group quantiles — nearest-rank order
    * statistics (the integer-micros rank rule: rank p = ⌈n·p⌉ computed
    * as (n·pμ + 999999) div 10⁶) over a per-distinct-value count frame,
    * WITHOUT `Window.partitionBy(group)`: the dataset-card percentile
    * panel (per-source length/score p25/p50/p90/p99) where the group key
    * is a handful of sources and each group is corpus-sized — exactly
    * the shape a per-group rank window serializes through one reducer.
    *
    * Mechanics: collapse to (group, value) counts (map-side combinable),
    * rank by [[PrefixSum.withKeyedRunningSums]] (range exchange on the
    * composite key — one giant group spreads over many partitions), pick
    * value v where cum ≥ rank AND cum − count(v) < rank (the unique
    * distinct value covering the target rank). All arithmetic is exact
    * integers; the output is an exact order statistic, bit-identical to
    * a single-node sort.
    *
    * Output per group: (groupCol, n, v_min, v_max, q<pct>… — one column
    * per probability, whole percents only so names are stable). NULL
    * group/value rows drop.
    *
    * 100 TB shape: one count aggregation, one range exchange of the
    * DISTINCT-value frame (values-cardinality, not row-cardinality), one
    * broadcast of the per-group target table (|groups| rows — must be
    * broadcastable, the [[Sessionize.funnelLatency]] totals contract). */
  def quantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "quantilesByGroup: ps must be non-empty")
    val micros = ps.map { p =>
      val m = math.round(p * 1e6)
      require(m >= 10000L && m <= 1000000L && m % 10000L == 0L,
        s"quantilesByGroup: whole-percent probabilities in [0.01, 1], got $p")
      m
    }
    require(micros.distinct.size == micros.size,
      s"quantilesByGroup: duplicate probabilities in $ps")
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"), v.as("__v")).agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__c"))
    // inclusive cum at the group's max value IS n — totals read the
    // staged frame, never recompute the count aggregation
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___c")).as("n"),
        min(col("__v")).as("v_min"), max(col("__v")).as("v_max"))
    val withT = micros.foldLeft(totals) { (d, m) =>
      d.withColumn(s"__t$m", expr(s"(n * ${m}L + 999999L) div 1000000L"))
    }
    val picks = cum
      .join(broadcast(withT.select(
        col("__g") +: micros.map(m => col(s"__t$m")): _*)), Seq("__g"))
      .groupBy(col("__g"))
      .agg(
        max(when(col("cum___c") >= col(s"__t${micros.head}") &&
          col("cum___c") - col("__c") < col(s"__t${micros.head}"), col("__v")))
          .as(s"q${micros.head / 10000L}"),
        micros.tail.map { m =>
          max(when(col("cum___c") >= col(s"__t$m") &&
            col("cum___c") - col("__c") < col(s"__t$m"), col("__v")))
            .as(s"q${m / 10000L}")
        }: _*)
    totals.join(picks, Seq("__g"))
      .select(col("__g").as(groupCol) +: col("n") +: col("v_min") +:
        col("v_max") +: micros.map(m => col(s"q${m / 10000L}")): _*)
  }

  /** Per-group Tukey-fence outlier report (Tukey 1977): exact q25/q75
    * nearest-rank cuts, the IQR fences q25 − k·IQR / q75 + k·IQR, and
    * how many rows fall outside — the box-plot numbers every dataset
    * card prints next to [[robustStats]]' robust means. Output per
    * group: (groupCol, n long, q25, q75, iqr, lo_fence, hi_fence
    * doubles, n_low, n_high longs, outlier_frac double — one division
    * of exact counts). NULL group/value rows drop.
    *
    * Exactness: cut ranks use the integer-micros nearest-rank rule at
    * 250000/750000 µ (the [[robustStats]] contract); the fences are one
    * fixed IEEE tree over the exact order statistics; outlier counts
    * are exact integers off strict double comparisons.
    *
    * 100 TB shape: the [[robustStats]] plan exactly — (group, value)
    * counts, ONE keyed-PrefixSum scan, a |groups|-row broadcast fence
    * table folded back into one aggregation over the distinct-value
    * frame; never a group window, never a row rejoin. */
  def iqrOutlierStatsByGroup(df: DataFrame, groupCol: String,
      valueCol: String, k: Double = 1.5): DataFrame = {
    require(k >= 0.0, s"k must be >= 0, got $k")
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"), v.cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__c"))
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___c")).as("__n"))
      .withColumn("__r25", greatest(lit(1L),
        expr("(__n * 250000L + 999999L) div 1000000L")))
      .withColumn("__r75", greatest(lit(1L),
        expr("(__n * 750000L + 999999L) div 1000000L")))
    val cuts = cum.join(broadcast(totals), Seq("__g"))
      .groupBy(col("__g"))
      .agg(
        max(when(col("cum___c") >= col("__r25") &&
          col("cum___c") - col("__c") < col("__r25"), col("__v"))).as("q25"),
        max(when(col("cum___c") >= col("__r75") &&
          col("cum___c") - col("__c") < col("__r75"), col("__v"))).as("q75"))
      .withColumn("iqr", col("q75") - col("q25"))
      .withColumn("lo_fence", col("q25") - lit(k) * (col("q75") - col("q25")))
      .withColumn("hi_fence", col("q75") + lit(k) * (col("q75") - col("q25")))
    cum.join(broadcast(cuts), Seq("__g"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("n"),
        max(col("q25")).as("__q25"), max(col("q75")).as("__q75"),
        max(col("iqr")).as("__iqr"),
        max(col("lo_fence")).as("__lo"), max(col("hi_fence")).as("__hi"),
        sum(when(col("__v") < col("lo_fence"), col("__c")).otherwise(0L))
          .as("n_low"),
        sum(when(col("__v") > col("hi_fence"), col("__c")).otherwise(0L))
          .as("n_high"))
      .select(col("__g").as(groupCol), col("n"),
        col("__q25").as("q25"), col("__q75").as("q75"), col("__iqr").as("iqr"),
        col("__lo").as("lo_fence"), col("__hi").as("hi_fence"),
        col("n_low"), col("n_high"),
        ((col("n_low") + col("n_high")).cast("double") / col("n").cast("double"))
          .as("outlier_frac"))
  }

  /** Per-group Lorenz-curve points — the inequality CURVE behind
    * [[giniByGroup]]'s single number: at each of `nPoints` equal
    * population cuts, the cumulative share of total value held by the
    * bottom rows (sorted ascending) — the dataset-card artifact behind
    * "the top 10% of documents hold 60% of the tokens". Points are
    * VALUE-ATOMIC (the [[quantileBinsByGroup]] convention): the cut
    * lands on the distinct value covering rank ⌈n·k/nPoints⌉ and
    * includes that value's whole tie mass, so both engines agree with
    * no interpolation. Output per (group, point): (groupCol, point int
    * 1-based, target_rank, cum_count longs, pop_share, value_share
    * doubles — pop_share one division of exact integers, value_share
    * REPORTED at 9 dp). Intended for nonnegative values (shares can
    * exceed 1 transiently otherwise — [[giniByGroup]] NULLs there; the
    * curve reports what it sees). NULL group/value rows drop.
    *
    * 100 TB shape: one (group, value) count aggregation carrying
    * decimal value mass, ONE [[PrefixSum.withKeyedRunningSums]] scan
    * (range exchange — never a group window), one |groups|-row
    * broadcast of totals/targets. */
  def lorenzCurveByGroup(df: DataFrame, groupCol: String, valueCol: String,
      nPoints: Int = 10): DataFrame = {
    require(nPoints >= 1, s"nPoints must be >= 1, got $nPoints")
    val dec = org.apache.spark.sql.types.DecimalType(25, 6)
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"), v.as("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__sv", col("__v").cast(dec) * col("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__c", "__sv"))
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___c")).as("__n"), max(col("cum___sv")).as("__tot"))
    // one scan: explode the point grid per distinct value, keep covers
    cum.join(broadcast(totals), Seq("__g"))
      .select(col("__g"), col("__c"), col("cum___c"), col("cum___sv"),
        col("__n"), col("__tot"),
        explode(sequence(lit(1), lit(nPoints))).as("point"))
      .withColumn("__r",
        expr(s"(__n * point + ${nPoints}L - 1L) div ${nPoints}L"))
      .filter(col("cum___c") >= col("__r") &&
        col("cum___c") - col("__c") < col("__r"))
      .select(col("__g").as(groupCol), col("point"),
        col("__r").as("target_rank"), col("cum___c").as("cum_count"),
        (col("cum___c").cast("double") / col("__n").cast("double"))
          .as("pop_share"),
        round((col("cum___sv").cast("double") / col("__tot").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(25, 12)), 9)
          .cast("double").as("value_share"))
  }

  /** Per-group exact mode (plurality value): the most frequent value,
    * its count and share — the categorical one-number summary beside
    * [[quantilesByGroup]]'s numeric one (dominant language per source,
    * dominant event type per user cohort). Ties break to the SMALLEST
    * value (cast-free on the value's own ordering), so the report is
    * deterministic. Output: (groupCol, n long, mode — the value's own
    * type, mode_count long, mode_share double — one division of exact
    * counts). NULL group/value rows drop.
    *
    * 100 TB shape: one (group, value) count aggregation (map-side
    * combinable), one per-group max over the count frame, one
    * |groups|-row broadcast join back — no window (the plurality pick
    * is max-count-then-min-value, two aggregations), no data-sized
    * join. */
  def modeByGroup(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"), v.as("__v")).agg(count(lit(1)).as("__c"))
    val tops = counts.groupBy(col("__g"))
      .agg(sum(col("__c")).as("n"), max(col("__c")).as("mode_count"))
    // alias both sides: tops derives from counts and the join would
    // otherwise be an ambiguous self-join on __g
    counts.as("__cc").join(broadcast(tops.as("__tt")),
        col("__cc.__g") === col("__tt.__g") &&
          col("__cc.__c") === col("__tt.mode_count"))
      .groupBy(col("__cc.__g").as("__gg"), col("__tt.n").as("n"),
        col("__tt.mode_count").as("mode_count"))
      .agg(min(col("__cc.__v")).as("mode"))
      .select(col("__gg").as(groupCol), col("n"), col("mode"),
        col("mode_count"),
        (col("mode_count").cast("double") / col("n").cast("double"))
          .as("mode_share"))
  }

  /** Per-group fixed-WIDTH histogram — the equal-interval companion to
    * [[quantileBinsByGroup]]'s equal-frequency bins and the log2 length
    * histogram: nBins uniform intervals over each group's [min, max],
    * the shape every dataset-card length/score chart draws. Output per
    * NON-EMPTY (group, bin): (groupCol, bin int 0-based, bin_lo, bin_hi
    * doubles — the interval edges, count long); a constant-valued group
    * collapses to bin 0 with bin_lo = bin_hi. Empty bins are omitted
    * (densify downstream — emitting |groups|·nBins rows for sparse data
    * is the dashboard's choice, not the engine's). NULL group/value rows
    * drop.
    *
    * Determinism: bin = min(⌊(v − lo)·nBins/(hi − lo)⌋, nBins − 1) with
    * the multiply-then-divide association fixed — one IEEE tree both
    * engines evaluate identically; edges lo + bin·(hi − lo)/nBins
    * likewise.
    *
    * 100 TB shape: one min/max aggregation to |groups| rows (broadcast
    * back), one counting aggregation on (group, bin) — both map-side
    * combinable; no window, no data-sized join. */
  def fixedWidthHistogramByGroup(df: DataFrame, groupCol: String,
      valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val base = df.filter(g.isNotNull && v.isNotNull)
      .select(g.as("__g"), v.cast("double").as("__v"))
    val bounds = base.groupBy(col("__g"))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    base.join(broadcast(bounds), Seq("__g"))
      .withColumn("bin", when(col("__hi") > col("__lo"),
          least(floor((col("__v") - col("__lo")) * nBins /
            (col("__hi") - col("__lo"))), lit((nBins - 1).toLong)))
        .otherwise(lit(0L)).cast("int"))
      .groupBy(col("__g"), col("bin"), col("__lo"), col("__hi"))
      .agg(count(lit(1)).as("count"))
      .select(col("__g").as(groupCol), col("bin"),
        (col("__lo") + col("bin").cast("double") *
          (col("__hi") - col("__lo")) / nBins).as("bin_lo"),
        (col("__lo") + (col("bin") + 1).cast("double") *
          (col("__hi") - col("__lo")) / nBins).as("bin_hi"),
        col("count"))
  }

  /** Approximate-functional-dependency strength a → b (the g₃ measure,
    * Kivinen & Mannila 1995): the minimal fraction of rows to DELETE for
    * "a determines b" to hold exactly — the schema-discovery /
    * data-quality probe behind "is source→lang reliable enough to
    * backfill from?". For each a-value keep its plurality b; everything
    * else is a violation. One row: (n, n_a_values, n_violations longs,
    * g3_error, fd_strength doubles — each ONE division of exact
    * integers; NULL on empty input). NULL a/b rows drop.
    *
    * 100 TB shape: one (a, b) count aggregation (map-side combinable),
    * one per-a max over the pair frame, one scalar rollup — pair-
    * cardinality frames only, no window, no join. */
  def fdStrength(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(s"`$aCol`")
    val b = col(s"`$bCol`")
    val pairs = df.filter(a.isNotNull && b.isNotNull)
      .groupBy(a.as("__a"), b.as("__b")).agg(count(lit(1)).as("__c"))
    pairs.groupBy(col("__a"))
      .agg(sum(col("__c")).as("__na"), max(col("__c")).as("__keep"))
      .agg(coalesce(sum(col("__na")), lit(0L)).as("n"),
        count(lit(1)).as("n_a_values"),
        coalesce(sum(col("__na") - col("__keep")), lit(0L)).as("n_violations"))
      .select(col("n"), col("n_a_values"), col("n_violations"),
        when(col("n") > 0L, col("n_violations").cast("double") /
          col("n").cast("double")).as("g3_error"),
        when(col("n") > 0L,
          (col("n") - col("n_violations")).cast("double") /
            col("n").cast("double")).as("fd_strength"))
  }

  /** Exact join-key overlap report between two key columns — the
    * data-discovery probe behind "can I join these two tables, and in
    * which direction?": containment(a in b) near 1 with low reverse
    * containment is the foreign-key signature; low Jaccard both ways
    * means the join is a mistake. One row: (n_a, n_b, n_shared longs —
    * DISTINCT key counts, containment_a, containment_b, jaccard doubles
    * — each ONE division of exact integers; NULL where a side is
    * empty). NULL keys drop. The KMV-estimated sibling for monster key
    * sets is [[Sketch.overlapMatrixEstimate]] / [[Sketch.joinSizeEstimate]].
    *
    * 100 TB shape: two distinct-aggregations (map-side combinable) and
    * one equi-join of the DISTINCT frames — key-cardinality, never
    * row-cardinality. */
  def keyOverlap(a: DataFrame, keyColA: String, b: DataFrame,
      keyColB: String): DataFrame = {
    val da = a.filter(col(s"`$keyColA`").isNotNull)
      .select(col(s"`$keyColA`").cast("string").as("__k")).distinct()
    val db = b.filter(col(s"`$keyColB`").isNotNull)
      .select(col(s"`$keyColB`").cast("string").as("__k")).distinct()
    val na = da.agg(count(lit(1)).as("n_a"))
    val nb = db.agg(count(lit(1)).as("n_b"))
    val shared = da.join(db, Seq("__k"), "left_semi")
      .agg(count(lit(1)).as("n_shared"))
    na.crossJoin(broadcast(nb)).crossJoin(broadcast(shared))
      .select(col("n_a"), col("n_b"), col("n_shared"),
        when(col("n_a") > 0L, col("n_shared").cast("double") /
          col("n_a").cast("double")).as("containment_a"),
        when(col("n_b") > 0L, col("n_shared").cast("double") /
          col("n_b").cast("double")).as("containment_b"),
        when(col("n_a") + col("n_b") - col("n_shared") > 0L,
          col("n_shared").cast("double") /
            (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  /** Single-scan schema/data-profile report — one row per profiled
    * column: (column, n_rows, n_null, n_distinct, min_value, max_value,
    * top_value, top_count) — the dataset-card panel a discovery UI
    * renders for every table. Values travel as their CANONICAL STRINGS
    * (cast once, so min/max are lexicographic on that rendering — for
    * numeric order use the typed operators; strings/integers render
    * identically in any engine, which is why the gate profiles only
    * those). top_value is the modal value, ties to the smallest string.
    *
    * 100 TB shape: the table is scanned ONCE — columns stack into a
    * (column, value) stream (a narrow explode, no shuffle), then one
    * map-side-combinable (column, value) count aggregation; everything
    * after runs on the value-cardinality frame, with the per-column
    * top-1 as a WindowGroupLimit-prunable rank (bounded by the profile
    * column count, never rows). */
  def schemaProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "schemaProfile: cols must be non-empty")
    require(cols.forall(df.columns.contains),
      s"schemaProfile: missing columns ${cols.filterNot(df.columns.contains)}")
    val stream = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("__col"),
          col(s"`$c`").cast("string").as("__val"))): _*)).as("__s"))
      .select(col("__s.__col").as("__col"), col("__s.__val").as("__val"))
    val counts = stream.groupBy(col("__col"), col("__val"))
      .agg(count(lit(1)).as("__c"))
    val stats = counts.groupBy(col("__col"))
      .agg(sum(col("__c")).as("n_rows"),
        coalesce(sum(when(col("__val").isNull, col("__c"))), lit(0L))
          .as("n_null"),
        count(when(col("__val").isNotNull, lit(1))).as("n_distinct"),
        min(col("__val")).as("min_value"), max(col("__val")).as("max_value"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__col"))
      .orderBy(col("__c").desc, col("__val").asc_nulls_last)
    val top = counts.filter(col("__val").isNotNull)
      .withColumn("__rk", row_number().over(wTop))
      .filter(col("__rk") === 1)
      .select(col("__col"), col("__val").as("top_value"),
        col("__c").as("top_count"))
    stats.join(top, Seq("__col"), "left")
      .select(col("__col").as("column"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_value"), col("max_value"),
        col("top_value"), col("top_count"))
  }

  /** Value-atomic equal-frequency quantile bins per group: every row of
    * group g gets bin ⌈cum(v)·B / n⌉ where cum(v) is the group's
    * cumulative count at the row's value — tied values NEVER split
    * across bins (NTILE splits them nondeterministically, which breaks
    * cross-engine reproducibility and leaks order-dependence into
    * downstream features; bin sizes flex at ties instead). The
    * feature-binning / per-source score-bucketing primitive that
    * [[quantilesByGroup]]'s cut values feed visually. Output: the
    * (group, value) pair of every input row + `bin` int 1..B. NULL
    * group/value rows drop.
    *
    * 100 TB shape: the bin table is values-cardinality (one count
    * aggregation + one [[PrefixSum.withKeyedRunningSums]] scan + a
    * |groups|-row totals broadcast); rows receive bins by ONE
    * (group, value) equi-join against that table — row-cardinality
    * appears exactly twice: the count scan and the final join. */
  def quantileBinsByGroup(df: DataFrame, groupCol: String,
      valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2, s"quantileBinsByGroup: nBins must be >= 2, got $nBins")
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val base = df.filter(g.isNotNull && v.isNotNull)
    val counts = base.groupBy(g.as("__g"), v.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__c"))
    val totals = cum.groupBy(col("__g")).agg(max(col("cum___c")).as("__n"))
    val bins = cum.join(broadcast(totals), Seq("__g"))
      .select(col("__g"), col("__v"),
        expr(s"(cum___c * ${nBins}L + __n - 1L) div __n").cast("int")
          .as("bin"))
    base.select(g.as("__g"), v.as("__v"))
      .join(bins, Seq("__g", "__v"))
      .select(col("__g").as(groupCol), col("__v").as(valueCol), col("bin"))
  }

  /** Exact per-group Gini coefficient of a non-negative value
    * (Gini 1912, via the rank formulation of the Lorenz curve:
    * G = (Σᵢ (2i − n − 1)·xᵢ) / (n·Σx) over values sorted ascending) —
    * the corpus-concentration report behind "is 1% of domains
    * contributing 95% of tokens", the inequality number a mixture
    * rebalance (`Mixture`) is judged against. Ties are handled exactly:
    * a distinct value occupying ranks cc−c+1 .. cc contributes
    * x·c·(2·cc − c + 1) to the 2·Σi·xᵢ term, so the result is
    * independent of intra-tie order. Output per group: (groupCol,
    * n long, total double, gini double — 9-dp rounded; NULL when the
    * group total is ≤ 0, and NULL for a group containing any negative
    * value (the statistic is undefined off the non-negative domain —
    * rows are kept in n/total so the refusal is visible, the pre-r13
    * contract). Rows with NULL group or value drop.
    *
    * Determinism contract: the rank factor (2cc − c + 1)·c is exact
    * DECIMAL(38,0) integer arithmetic cast to double once (correctly
    * rounded in both engines); x·factor is ONE IEEE multiply quantized
    * to DECIMAL(38,6) (order-independent sums; exact for
    * integer-valued x); the final expression is one fixed IEEE tree.
    *
    * 100 TB shape (the r13 migration off the per-group sort window —
    * the pre-r13 shape ranked every row of a group through one
    * reducer): rows collapse to per-(group, value) counts, ONE
    * [[graft.operators.PrefixSum.withKeyedRunningSums]] ascending scan
    * supplies the rank factors (a giant group never sorts through one
    * window reducer), one map-side-combinable group aggregation. */
  def giniByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val counts = df.filter(g.isNotNull && v.isNotNull)
      .groupBy(g.as("__g"), v.as("__v")).agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__c"))
    cum.groupBy(col("__g"))
      .agg(max(col("cum___c")).as("n"),
        // S = Σ v·c over DISTINCT-value rows — the count factor, not the
        // bare value (caught by the constant-group hand spec)
        sum((col("__v").cast("double") * col("__c").cast("double"))
          .cast(dec6)).as("__s"),
        sum((col("__v").cast("double") *
          ((lit(2L) * col("cum___c") - col("__c") + 1L).cast(dec0) *
            col("__c")).cast("double")).cast(dec6)).as("__t"),
        min(col("__v").cast("double")).as("__min"))
      .select(col("__g").as(groupCol), col("n"),
        col("__s").cast("double").as("total"),
        when(col("__min") < 0.0, lit(null).cast("double"))
          .when(col("__s") > 0,
            round((col("__t").cast("double") -
              (col("n") + 1L).cast("double") * col("__s").cast("double")) /
              (col("n").cast("double") * col("__s").cast("double")), 9))
          .as("gini"))
  }

  /** WEIGHTED per-group nearest-rank quantiles: the value at the
    * smallest cumulative weight reaching p·W (W = the group's weight
    * total) — the quantile read a weighted sample carries (e.g. the
    * Horvitz–Thompson `weight_est` a [[Splits.prioritySample]] emits:
    * quantiles of the FULL population estimated from the sample), and
    * the token-weighted length profile ("p99 of tokens, not of docs").
    * Same whole-percent probability grid as [[quantilesByGroup]].
    * Output per group: (groupCol, n long — contributing rows, w_total
    * double, q<pp>… one column per probability). Rows with NULL
    * group/value/weight or weight <= 0 drop (they carry no mass).
    *
    * Determinism contract: weights quantize to DECIMAL(25,9) on entry
    * (exact for integer weights — the poissonBootstrapMean rule);
    * the rank test cumW·10⁶ >= W·pMicro is exact decimal integer
    * arithmetic on both engines (no division, no doubles in the
    * DECISION; exact while W·10⁶ < 10³²).
    *
    * 100 TB shape: rows collapse to per-(group, value) weight sums,
    * ONE [[PrefixSum.withKeyedRunningSums]] ascending scan, a
    * |groups|-row totals broadcast, one group aggregation — the
    * quantilesByGroup plan with weights riding the same scan. */
  def weightedQuantilesByGroup(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "weightedQuantilesByGroup: ps must be non-empty")
    val micros = ps.map { p =>
      val m = math.round(p * 1e6)
      require(m >= 10000L && m <= 1000000L && m % 10000L == 0L,
        s"weightedQuantilesByGroup: whole-percent probabilities in [0.01, 1], got $p")
      m
    }
    require(micros.distinct.size == micros.size,
      s"weightedQuantilesByGroup: duplicate probabilities in $ps")
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`")
    val w = col(s"`$weightCol`")
    val counts = df
      .filter(g.isNotNull && v.isNotNull && w.isNotNull &&
        w.cast("double") > 0.0)
      .groupBy(g.as("__g"), v.as("__v"))
      .agg(sum(w.cast(dec)).as("__w"), count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__g"), Seq("__v"), Seq("__w", "__c"))
    val totals = cum.groupBy(col("__g"))
      .agg(max(col("cum___w")).as("__wt"), max(col("cum___c")).as("n"))
    val joined = cum.join(broadcast(totals), Seq("__g"))
    // exactly one row per (group, p) satisfies reach && !prevReach:
    // cumW is strictly increasing (all __w > 0)
    def pick(m: Long) = {
      val reach = col("cum___w") * lit(1000000L) >= col("__wt") * lit(m)
      val prev = (col("cum___w") - col("__w")) * lit(1000000L) >=
        col("__wt") * lit(m)
      max(when(reach && !prev, col("__v"))).as(s"q${m / 10000L}")
    }
    joined.groupBy(col("__g"))
      .agg(max(col("n")).as("n"),
        (max(col("__wt")).cast("double").as("w_total") +:
          micros.map(pick)): _*)
      .select(col("__g").as(groupCol) +: col("n") +: col("w_total") +:
        micros.map(m => col(s"q${m / 10000L}")): _*)
  }

  /** Hill tail-index estimator per group (Hill 1975): over the top
    * k + 1 order statistics of a positive value, H = (1/k)·Σᵢ₌₁..ₖ
    * (ln x₍ᵢ₎ − ln x₍ₖ₊₁₎) and α = 1/H — "how heavy is this source's
    * length/size tail", the value-tail complement of [[zipfFit]]'s
    * frequency power law (α ≈ 1–2 = very heavy Pareto tail where a
    * mean is fragile; large α = thin tail). Output per group with at
    * least k + 1 positive rows: (groupCol, n long — positive rows,
    * k int, h_mean double, hill_alpha double — NULL when H ≤ 0, i.e.
    * the top k ties the reference value exactly). Rows with NULL
    * group/value or value ≤ 0 drop (the estimator lives on logs);
    * groups under k + 1 positive rows emit no row (no stable tail).
    *
    * Determinism contract: each ln passes the 9-dp decimal rounding
    * (ln9); each DIFFERENCE ln x₍ᵢ₎ − ln x₍ₖ₊₁₎ is one IEEE subtract
    * quantized to DECIMAL(25,9) before the order-independent sum (so a
    * fully-tied top yields H = 0 EXACTLY, not an FP residue); H and α
    * are fixed IEEE trees. Ties at the k/k+1 boundary pick identical
    * VALUES regardless of intra-tie order, so the estimate is
    * order-independent.
    *
    * 100 TB shape: the rank ≤ k+1 cut pushes down as WindowGroupLimit
    * (per-partition top-(k+1) heaps BEFORE the group exchange — the
    * p77 zipf pattern), so the window never sorts a group; the
    * reference row and totals are group-cardinality broadcasts. */
  def hillTailIndex(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 100): DataFrame = {
    require(k >= 2, s"hillTailIndex: k must be >= 2, got $k")
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`").cast("double")
    val ln9v = round(log(v).cast(
      org.apache.spark.sql.types.DecimalType(25, 12)), 9).cast("double")
    val base = df.filter(g.isNotNull && v.isNotNull && v > 0.0)
      .select(g.as("__g"), v.as("__v"), ln9v.as("__lv"))
    val totals = base.groupBy(col("__g")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v").desc)
    val top = base.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k + 1)
    // the (k+1)-th order statistic: an inner join drops groups that
    // never reach k+1 positive rows (no stable tail estimate)
    val refs = top.filter(col("__rn") === k + 1)
      .select(col("__g"), col("__lv").as("__ref"))
    val agg = top.filter(col("__rn") <= k)
      .join(broadcast(refs), Seq("__g"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__m"),
        sum((col("__lv") - col("__ref")).cast(dec)).as("__sh"))
      .filter(col("__m") === k)
    val h = col("__sh").cast("double") / lit(k.toDouble)
    agg.join(totals, Seq("__g"))
      .select(col("__g").as(groupCol), col("n"), lit(k).as("k"),
        h.as("h_mean"),
        when(h > 0.0, lit(1.0) / h).as("hill_alpha"))
  }

  /** Weighted per-group moment report: weight total, weighted mean and
    * Kish effective sample size ESS = (Σw)²/Σw² (Kish 1965, the
    * "how many unweighted rows is this weighted sample worth" number
    * every downstream significance test needs after a weighted
    * subsample such as [[Splits.prioritySample]]'s HT output — ESS far
    * below n means a few heavy weights dominate and intervals must
    * widen accordingly). Output per group: (groupCol, n long, w_total,
    * mean_w, ess doubles — mean_w NULL only on an all-zero-weight
    * group, which the w > 0 filter precludes; ESS in (0, n]). Rows
    * with NULL group/value/weight or weight <= 0 drop.
    *
    * Determinism contract: w, w·w and w·v are each ONE IEEE multiply
    * quantized to DECIMAL(25,9) (order-independent sums — the
    * poissonBootstrapMean rule); mean and ESS are fixed IEEE trees
    * over the decimal sums cast to double once.
    *
    * 100 TB shape: ONE map-side-combinable aggregation; no join, no
    * window, no prefix scan. */
  def weightedStatsByGroup(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(25, 9)
    val g = col(s"`$groupCol`")
    val v = col(s"`$valueCol`").cast("double")
    val w = col(s"`$weightCol`").cast("double")
    df.filter(g.isNotNull && v.isNotNull && w.isNotNull && w > 0.0)
      .groupBy(g.as("__g"))
      .agg(count(lit(1)).as("n"),
        sum(w.cast(dec)).as("__sw"),
        sum((w * w).cast(dec)).as("__sww"),
        sum((w * v).cast(dec)).as("__swv"))
      .select(col("__g").as(groupCol), col("n"),
        col("__sw").cast("double").as("w_total"),
        (col("__swv").cast("double") / col("__sw").cast("double"))
          .as("mean_w"),
        (col("__sw").cast("double") * col("__sw").cast("double") /
          col("__sww").cast("double")).as("ess"))
  }
}
