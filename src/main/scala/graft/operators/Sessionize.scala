package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of an event stream (beyond-reference,
  * SURVEY.md §2.4) — the standard analytics assignment: a user's events
  * belong to one session until a silence longer than `gapSeconds`, then a
  * new session starts. Batch twin of the streaming session windows in
  * [[graft.streaming.Streams]].
  *
  * Mechanics: one window keyed by user ordered by (ts, event id) marks a
  * break wherever ts − lag(ts) > gap, and a running sum of the break
  * flags within the same window numbers the sessions 0,1,2,… per user.
  * Ordering ties on ts are broken by the event id column, so the
  * assignment is total and deterministic.
  *
  * 100 TB shape: ONE shuffle (the per-user window); both window functions
  * share the identical (partition, order) spec so Catalyst evaluates them
  * in a single Window operator, and [[sessionStats]]' per-session
  * aggregate map-side-combines before its exchange. A single user's
  * events serialize into one reducer — the unavoidable semantics of
  * per-user ordering — so the operator's scale unit is events-per-user,
  * not corpus size. */
object Sessionize {

  /** Add `sessionCol` (long, 0-based per user) to the event frame.
    * `tsCol` must be a timestamp; gap comparison is on whole seconds of
    * difference (unix_timestamp), strict: a gap of EXACTLY gapSeconds
    * stays in-session. */
  def assignSessions(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      orderCol: String,
      gapSeconds: Long,
      sessionCol: String = "session_seq"): DataFrame = {
    require(gapSeconds >= 1, s"gapSeconds must be >= 1, got $gapSeconds")
    require(!df.columns.contains(sessionCol),
      s"output column '$sessionCol' already exists in the input")
    (Seq("__sess_brk") intersect df.columns).foreach(c =>
      throw new IllegalArgumentException(s"column name '$c' is reserved by assignSessions"))
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    // NULLS LAST on both sort keys (Spark's ascending default is NULLS
    // FIRST; DuckDB's is NULLS LAST — the capPerGroup divergence): a
    // null-ts event sorts after the user's real events in both engines
    // and, its gap being null (never > gap), joins the final session.
    val w = Window.partitionBy(u)
      .orderBy(ts.asc_nulls_last, col(s"`$orderCol`").asc_nulls_last)
    // break flag: silence strictly longer than the gap (first event: lag
    // is null -> coalesce to 0 -> never a break, session 0)
    val brk = when(
      unix_timestamp(ts) - coalesce(unix_timestamp(lag(ts, 1).over(w)), unix_timestamp(ts))
        > gapSeconds, lit(1L)).otherwise(lit(0L))
    df.withColumn("__sess_brk", brk)
      .withColumn(sessionCol,
        sum(col("__sess_brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__sess_brk")
  }

  /** Collapse an [[assignSessions]] output to one row per session:
    * (userCol, sessionCol, session_start, session_end, n_events,
    * duration_s). */
  def sessionStats(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      sessionCol: String = "session_seq"): DataFrame = {
    val ts = col(s"`$tsCol`")
    df.groupBy(col(s"`$userCol`"), col(s"`$sessionCol`"))
      .agg(
        min(ts).as("session_start"),
        max(ts).as("session_end"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_s",
        unix_timestamp(col("session_end")) - unix_timestamp(col("session_start")))
  }

  /** Ordered-funnel analysis: how far each user progresses through the
    * `steps` sequence (greedy earliest-match subsequence — the standard
    * funnel semantics: match the first step-1 event, then the first
    * step-2 event strictly AFTER it in the (ts, orderCol) total order,
    * and so on; greedy earliest-first is optimal for subsequence
    * reachability, so "stages_completed = k" means SOME ordered
    * occurrence of the first k steps exists). Every user seen in
    * `events` gets a row, stage 0 if they never hit step 1.
    * Output: (userCol, stages_completed int).
    *
    * 100 TB shape: the event stream is FIRST filtered to the step
    * values (the funnel subset, typically a tiny fraction), then ONE
    * per-user aggregation collects that subset into a sorted list and a
    * codegen'd `aggregate` fold walks it — no per-user window over the
    * raw stream, no k-pass self-joins. `orderCol` must be unique per
    * event (the total-order tiebreak for equal timestamps). */
  def funnelStages(events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, stepCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelStages: steps must be non-empty")
    require(steps.distinct.size == steps.size,
      s"funnelStages: steps must be distinct, got $steps")
    val u = col(s"`$userCol`")
    val stepsArr = array(steps.map(lit): _*)
    val matched = events
      .filter(col(s"`$stepCol`").isin(steps: _*))
      .groupBy(u.as("__u"))
      .agg(array_sort(collect_list(struct(
        col(s"`$tsCol`").as("__ts"), col(s"`$orderCol`").as("__o"),
        col(s"`$stepCol`").as("__s")))).as("__evs"))
      .select(col("__u"), aggregate(col("__evs"), lit(0),
        (acc, ev) => when(acc < steps.size &&
          ev.getField("__s") === element_at(stepsArr, acc + 1), acc + 1)
          .otherwise(acc)).as("stages_completed"))
    events.select(u.as("__u")).distinct()
      .join(matched, Seq("__u"), "left")
      .select(col("__u").as(userCol),
        coalesce(col("stages_completed"), lit(0)).as("stages_completed"))
  }

  /** Weekly retention cohorts: users grouped by their first-activity
    * ISO week; each (cohort_week, week_offset) cell counts the cohort's
    * users active that many weeks later — the standard retention
    * triangle. Output: (cohort_week date, week_offset int,
    * n_users long).
    *
    * 100 TB shape: the raw stream collapses to DISTINCT (user, week)
    * immediately (map-side combinable), cohorts are a per-user min over
    * that frame, and the matrix is one aggregation over
    * users × active-weeks — nothing event-sized shuffles twice. */
  def retentionCohorts(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    // staged: the distinct (user, week) frame feeds the cohort min AND
    // the final join — unstaged, the event-stream distinct runs twice
    val weeks = Stager.stage(
      events.select(col(s"`$userCol`").as("__u"),
          date_trunc("week", col(s"`$tsCol`")).cast("date").as("__w"))
        .distinct(),
      s"retention_weeks_${java.util.UUID.randomUUID().toString.take(8)}")
    val cohorts = weeks.groupBy(col("__u")).agg(min(col("__w")).as("__c"))
    weeks.join(cohorts, Seq("__u"))
      .groupBy(col("__c").as("cohort_week"),
        (datediff(col("__w"), col("__c")) / 7).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Rolling exact distinct actors per day — DAU + trailing-window
    * `windowDays` distinct (WAU for 7) + the DAU/WAU stickiness ratio,
    * the product-analytics staple that a naive implementation writes as
    * a per-day range self-join over the event stream. Only days that
    * HAVE events emit a row (the trailing window still sees earlier
    * days' actors). Output: (day string 'yyyy-MM-dd', dau, wau long,
    * stickiness double — one IEEE division).
    *
    * 100 TB shape: the stream collapses to DISTINCT (day, actor)
    * immediately; the window is an EXPLODE of each pair onto the ≤
    * `windowDays` days it covers (linear ×W blowup of the small
    * distinct frame — never a range join against the raw stream), then
    * one exact count-distinct per cover day. The staged pair frame
    * feeds both the DAU rollup and the explode. */
  def rollingDistinct(events: DataFrame, tsCol: String, actorCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val pairs = Stager.stage(
      events
        .filter(col(s"`$tsCol`").isNotNull && col(s"`$actorCol`").isNotNull)
        .select(to_date(col(s"`$tsCol`")).as("__day"),
          col(s"`$actorCol`").as("__actor"))
        .distinct(),
      s"rolling_distinct_${java.util.UUID.randomUUID().toString.take(8)}")
    val dau = pairs.groupBy(col("__day")).agg(count(lit(1)).as("dau"))
    val wau = pairs
      .select(explode(sequence(col("__day"),
        date_add(col("__day"), windowDays - 1))).as("__cover"), col("__actor"))
      .groupBy(col("__cover"))
      .agg(countDistinct(col("__actor")).as("wau"))
    dau.join(wau, dau("__day") === wau("__cover"))
      .select(col("__day").cast("string").as("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  /** First-order event-transition matrix: counts and conditional
    * probabilities of consecutive (from_type → to_type) steps per actor
    * in time order — the Markov view of user journeys behind "what do
    * people do after X" analyses and next-event baselines (the
    * transition complement of [[funnelStages]]' fixed-order view).
    * Output: (from_type, to_type, n long, prob double — n over the
    * from_type's outgoing total, one IEEE division). Rows with NULL
    * actor/ts/type drop; same-timestamp events order by `idCol` (a
    * deterministic but semantically arbitrary tiebreak — sub-timestamp
    * ordering is the producer's job).
    *
    * 100 TB shape: one per-actor window (hash exchange on the actor) for
    * the lag, then a map-side-combinable count over the ≤ |types|² pair
    * space; the outgoing totals re-aggregate the tiny pair frame, never
    * the stream. */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    val tp = col(s"`$typeCol`")
    val w = Window.partitionBy(u).orderBy(ts, col(s"`$idCol`").cast("string"))
    val pairs = events
      .filter(u.isNotNull && ts.isNotNull && tp.isNotNull)
      .withColumn("__prev", lag(tp, 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_type"), tp.as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("__tot"))
    pairs.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("__tot").cast("double")).as("prob"))
  }

  /** Per-actor inter-event gap statistics — the cadence fingerprint
    * behind bot/automation triage (metronome-regular gaps), engagement
    * scoring and retention features: consecutive-event time deltas in
    * exact MICROSECONDS (integer diffs of unix_micros — no FP anywhere),
    * summarized per actor as (userCol, n_gaps long, gap_min,
    * gap_p50, gap_p95, gap_max longs — exact nearest-rank order
    * statistics, ⌈q·n⌉ by integer-micros rank). Actors with fewer than
    * 2 timestamped events have no gaps and emit no row; NULL timestamps
    * drop; ties order by `orderCol` so the diff sequence is
    * deterministic.
    *
    * 100 TB shape: one per-user sort window feeds the lag diffs, the
    * ranks and the aggregate on a single exchange. user_id is a
    * high-cardinality key, so the window partitions well; the caveat is
    * a single heavy-tailed actor, whose history sorts (spillably) in
    * one reducer — for such actors swap the rank machinery onto
    * [[graft.operators.PrefixSum.withKeyedRunningSums]], the
    * [[funnelLatency]] posture. */
  def gapStats(df: DataFrame, userCol: String, tsCol: String,
      orderCol: String): DataFrame = {
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    val w = Window.partitionBy(u)
      .orderBy(ts.asc_nulls_last, col(s"`$orderCol`").asc_nulls_last)
    val gaps = df.filter(u.isNotNull && ts.isNotNull)
      .withColumn("__gap", unix_micros(ts) - unix_micros(lag(ts, 1).over(w)))
      .filter(col("__gap").isNotNull)
    val wg = Window.partitionBy(u)
    gaps
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("__rn", row_number().over(
        wg.orderBy(col("__gap"), col(s"`$orderCol`").asc_nulls_last)))
      .groupBy(u.as(userCol))
      .agg(max(col("__n")).as("n_gaps"),
        min(col("__gap")).as("gap_min"),
        max(when(col("__rn") ===
          expr("(__n * 500000L + 999999L) div 1000000L"), col("__gap")))
          .as("gap_p50"),
        max(when(col("__rn") ===
          expr("(__n * 950000L + 999999L) div 1000000L"), col("__gap")))
          .as("gap_p95"),
        max(col("__gap")).as("gap_max"))
  }

  /** Funnel-transition latency: for each consecutive stage pair in
    * `stages`, how long users take to move on — the timing companion to
    * [[funnelStages]]' conversion counts (funnels tell you WHO converts;
    * this tells you HOW LONG the product has to keep them). Per user, a
    * transition converts when the first stage-(i+1) event STRICTLY
    * LATER in time than the user's first qualifying stage-i event
    * exists (same-microsecond events never count as "after" — a
    * value-based rule both engines share; the p90 rank chain qualifies
    * stage i itself, so t_i is funnel-consistent). Per transition:
    * (transition string "a->b", n_converted long, lat_min_us, lat_p50_us,
    * lat_p90_us, lat_max_us longs — exact integer micros, nearest-rank
    * percentiles with user-id tiebreaks, the gapStats recipe).
    *
    * 100 TB shape: one per-user window pass for the stage ranks, one
    * min-aggregation per stage (map-side combinable), keyed joins by
    * user. The per-transition nearest-rank percentiles ride
    * [[PrefixSum.withKeyedRunningSums]] — the transition key has
    * cardinality |stages|−1, so a `Window.partitionBy(transition)` rank
    * would sort EVERY converted user of a funnel step through one
    * reducer; the keyed prefix rank range-exchanges on (transition, lat,
    * user) instead, so one transition's converted users spread over many
    * partitions and only a numPartitions-row offset table is broadcast. */
  def funnelLatency(events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.length >= 2, s"funnelLatency needs >= 2 stages, got $stages")
    require(stages.distinct.length == stages.length, "stages must be distinct")
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    val w = Window.partitionBy(u)
      .orderBy(ts.asc_nulls_last, col(s"`$orderCol`").asc_nulls_last)
    val e = events
      .filter(u.isNotNull && ts.isNotNull &&
        col(s"`$typeCol`").isin(stages.map(x => x: Any): _*))
      .withColumn("__rn", row_number().over(w))
      .select(u.as("__u"), unix_micros(ts).as("__tm"),
        col(s"`$typeCol`").as("__ty"), col("__rn"))
    // first qualifying event per stage, funnel-chained on the rank like
    // funnelStages: stage i+1 must come after the user's stage-i pick
    var picks = e.filter(col("__ty") === stages.head)
      .groupBy(col("__u")).agg(min(struct(col("__rn"), col("__tm"))).as("__p0"))
      .select(col("__u"), col("__p0.__rn").as("__r0"), col("__p0.__tm").as("__t0"))
    val lats = stages.indices.tail.map { i =>
      val nxt = e.filter(col("__ty") === stages(i))
        .join(picks, Seq("__u"))
        .filter(col("__rn") > col(s"__r${i - 1}") &&
          col("__tm") > col(s"__t${i - 1}"))
        .groupBy(col("__u"), col(s"__t${i - 1}").as("__prev"))
        .agg(min(struct(col("__rn"), col("__tm"))).as("__p"))
        .select(col("__u"), col("__p.__rn").as(s"__r$i"),
          col("__p.__tm").as(s"__t$i"), col("__prev"))
      val lat = nxt.select(col("__u"),
        lit(s"${stages(i - 1)}->${stages(i)}").as("transition"),
        (col(s"__t$i") - col("__prev")).as("__lat"))
      picks = nxt.select(col("__u"), col(s"__r$i"), col(s"__t$i"))
      lat
    }.reduce(_ unionByName _)
    // per-transition rank WITHOUT Window.partitionBy(transition): the
    // keyed prefix count of all-ones over (lat, user) IS the
    // user-tiebroken rank, and the stage is reused by the totals scan
    val ranked = PrefixSum.withKeyedRunningSums(
      lats.withColumn("__one", lit(1L)),
      Seq("transition"), Seq("__lat", "__u"), Seq("__one"))
    val totals = ranked.groupBy(col("transition"))
      .agg(count(lit(1)).as("n_converted"),
        min(col("__lat")).as("lat_min_us"),
        max(col("__lat")).as("lat_max_us"))
      .withColumn("__t50",
        expr("(n_converted * 500000L + 999999L) div 1000000L"))
      .withColumn("__t90",
        expr("(n_converted * 900000L + 999999L) div 1000000L"))
    val pct = ranked
      .join(broadcast(totals.select(col("transition"), col("__t50"),
        col("__t90"))), Seq("transition"))
      .filter(col("cum___one") === col("__t50") ||
        col("cum___one") === col("__t90"))
      .groupBy(col("transition"))
      .agg(max(when(col("cum___one") === col("__t50"), col("__lat")))
          .as("lat_p50_us"),
        max(when(col("cum___one") === col("__t90"), col("__lat")))
          .as("lat_p90_us"))
    totals.join(pct, Seq("transition"))
      .select(col("transition"), col("n_converted"), col("lat_min_us"),
        col("lat_p50_us"), col("lat_p90_us"), col("lat_max_us"))
  }

  /** Per-actor burstiness (index of dispersion / Fano factor of the
    * actor's per-hour event counts over their ACTIVE hours): the bot /
    * automation fingerprint that complements [[gapStats]]' cadence view —
    * a metronome bot scores ≈ 0 (uniform hours), organic humans sit near
    * 1 (Poisson), and scripted bursts score ≫ 1. Only hours with ≥ 1
    * event enter (all-zero hours would need the actor's lifespan — a
    * different, documented choice). Per actor with ≥ `minHours` active
    * hours: (userCol, n_hours, n_events longs, mean_per_hour, dispersion
    * doubles — sample variance / mean, each ONE division of exact
    * integers).
    *
    * 100 TB shape: two map-side-combinable aggregations (hour counts,
    * then actor moments) — no window, no join. */
  def burstiness(events: DataFrame, userCol: String, tsCol: String,
      minHours: Int = 2): DataFrame = {
    require(minHours >= 2, s"burstiness needs minHours >= 2, got $minHours")
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val hours = events.filter(u.isNotNull && ts.isNotNull)
      // integer FLOOR division, never double `/` (a quotient landing on a
      // double rounding boundary would flip the bucket) and never bare
      // `div` (truncates toward zero, so pre-1970 micros would bucket one
      // hour later than DuckDB's floor `//`) — subtracting pmod first
      // makes the dividend exactly divisible, so div IS floor here
      .groupBy(u.as("__u"),
        expr(s"(unix_micros(`$tsCol`) - pmod(unix_micros(`$tsCol`), " +
          "3600000000L)) div 3600000000L").as("__h"))
      .agg(count(lit(1)).as("__c"))
    hours.groupBy(col("__u").as(userCol))
      .agg(count(lit(1)).as("n_hours"), sum(col("__c")).as("n_events"),
        sum(col("__c").cast(dec38) * col("__c")).as("__sxx"))
      .filter(col("n_hours") >= minHours.toLong)
      .select(col(s"`$userCol`"), col("n_hours"), col("n_events"),
        (col("n_events").cast("double") / col("n_hours").cast("double"))
          .as("mean_per_hour"),
        (((col("n_hours").cast(dec38) * col("__sxx") -
            col("n_events").cast(dec38) * col("n_events")).cast("double") /
          (col("n_hours").cast(dec38) * (col("n_hours") - 1L)).cast("double")) /
          (col("n_events").cast("double") / col("n_hours").cast("double")))
          .as("dispersion"))
  }

  /** Kaplan–Meier survival curve per group (Kaplan & Meier 1958) — the
    * right-censoring-correct retention/churn estimator: at each distinct
    * event time t, Ŝ(t) = Π_{tᵢ ≤ t} (1 − dᵢ/rᵢ) where dᵢ subjects
    * experience the event at tᵢ and rᵢ are still at risk. The naive
    * "fraction retained at day k" over-counts churn because subjects
    * whose observation window simply ENDED (censored) are not failures;
    * KM removes them from the risk set without counting them as events.
    *
    * Input: ONE ROW PER SUBJECT — (groupCol, durationCol integer time
    * units, eventCol boolean: true = event observed, false = censored).
    * Output at each distinct EVENT time per group: (groupCol, t,
    * n_risk, n_events longs, survival double). NULL rows drop.
    *
    * Determinism contract: each factor (rᵢ−dᵢ)/rᵢ is ONE division of
    * exact integers; its ln rides the 9-dp decimal contract and the
    * factor ln-sum accumulates in DECIMAL(25,9) (exact, order-free);
    * survival = round9(exp(lnsum)), the p84 sigmoid rule. A time where
    * EVERYONE remaining dies (d = r) would need ln 0 — those rows and
    * everything after report survival 0.0 exactly via a cumulative
    * zero-factor counter, never a −∞ through the decimal cast.
    *
    * 100 TB shape: subjects collapse to a per-(group, time) count frame
    * immediately (map-side combinable, values-cardinality); the at-risk
    * counts and the factor ln-sums are TWO chained
    * [[PrefixSum.withKeyedRunningSums]] scans over that frame — a
    * cohort's whole timeline never sorts through one reducer, and the
    * only broadcast is the |groups|-row totals table. */
  def kaplanMeier(subjects: DataFrame, groupCol: String,
      durationCol: String, eventCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = col(s"`$groupCol`")
    val d = col(s"`$durationCol`")
    val e = col(s"`$eventCol`")
    val ln9 = (c: Column) =>
      round(log(c).cast(DecimalType(25, 12)), 9).cast("double")
    val perT = subjects
      .filter(g.isNotNull && d.isNotNull && e.isNotNull)
      .groupBy(g.as("__g"), d.cast("long").as("__t"))
      .agg(sum(when(e.cast("boolean"), 1L).otherwise(0L)).as("__d"),
        count(lit(1)).as("__a"))
    val cum = PrefixSum.withKeyedRunningSums(
      perT, Seq("__g"), Seq("__t"), Seq("__a"))
    val totals = cum.groupBy(col("__g")).agg(max(col("cum___a")).as("__n"))
    val ev = cum.join(broadcast(totals), Seq("__g"))
      // at risk at t: everyone minus those who left strictly before t
      .withColumn("__r", col("__n") - col("cum___a") + col("__a"))
      .filter(col("__d") > 0L)
      .withColumn("__ln",
        when(col("__d") < col("__r"),
          ln9((col("__r") - col("__d")).cast("double") /
            col("__r").cast("double")))
          .otherwise(lit(0.0)).cast(DecimalType(25, 9)))
      .withColumn("__z", when(col("__d") === col("__r"), 1L).otherwise(0L))
      .select(col("__g"), col("__t"), col("__r"), col("__d"),
        col("__ln"), col("__z"))
    val surv = PrefixSum.withKeyedRunningSums(
      ev, Seq("__g"), Seq("__t"), Seq("__ln", "__z"))
    surv.select(col("__g").as(groupCol), col("__t").as("t"),
      col("__r").as("n_risk"), col("__d").as("n_events"),
      when(col("cum___z") > 0L, lit(0.0))
        .otherwise(round(exp(col("cum___ln").cast("double"))
          .cast(DecimalType(25, 12)), 9).cast("double")).as("survival"))
  }

  /** Top-k user journeys: the first `pathLen` event types of each user
    * in (ts, orderCol) order, joined into a ">"-separated path string,
    * counted across users, top-k by frequency — the "what do users
    * actually do first" exploration panel that complements
    * [[funnelStages]]' fixed hypothesis with open-ended discovery and
    * [[transitionMatrix]]'s one-step view with short sequences.
    * Output: (path string, n_steps int, n_users long), the k most
    * common paths (ties broken by path ASC — a total order). NULL
    * user/ts/type rows drop.
    *
    * 100 TB shape: one per-user window pass keeps only each user's
    * first `pathLen` events BEFORE any aggregation buffer exists —
    * user_id is a high-cardinality key so the window partitions well,
    * and its sort spills to disk where a raw collect_list of a
    * heavy-tailed actor's full history would hold one unbounded
    * in-memory buffer. The surviving ≤pathLen structs per user then
    * collect (bounded buffer), one map-side-combinable path count, and
    * the cut is TakeOrderedAndProject (per-partition heaps), never a
    * global sort. Path cardinality is bounded by
    * |event types|^pathLen, so the count frame is tiny regardless of
    * corpus size. */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, typeCol: String, pathLen: Int, topK: Int): DataFrame = {
    require(pathLen >= 1 && pathLen <= 16,
      s"topPaths: pathLen must be in [1, 16], got $pathLen")
    require(topK >= 1, s"topPaths: topK must be >= 1, got $topK")
    require(!events.columns.contains("__tp_rn"),
      "column name '__tp_rn' is reserved by topPaths")
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    // the same total order array_sort used to impose: (tm, order, type)
    val wUser = Window.partitionBy(u).orderBy(unix_micros(ts).asc,
      col(s"`$orderCol`").asc, col(s"`$typeCol`").asc)
    val paths = events
      .filter(u.isNotNull && ts.isNotNull && col(s"`$typeCol`").isNotNull)
      .withColumn("__tp_rn", row_number().over(wUser))
      .filter(col("__tp_rn") <= pathLen)
      .groupBy(u.as("__u"))
      .agg(array_sort(collect_list(struct(unix_micros(ts).as("__tm"),
        col(s"`$orderCol`").as("__o"), col(s"`$typeCol`").as("__ty"))))
        .as("__evs"))
      .select(
        concat_ws(">", transform(col("__evs"), _.getField("__ty"))).as("path"),
        size(col("__evs")).as("n_steps"))
    paths.groupBy(col("path"), col("n_steps"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topK)
  }

  /** Inter-event-time exponential fit + exact KS goodness-of-fit per
    * event type: is the arrival process Poisson? The gap distribution of
    * a memoryless source is Exponential(λ); organic traffic roughly is,
    * schedulers and batch replays are NOT — their KS distance against
    * the fitted exponential is the drift/automation signal that
    * complements [[burstiness]]' count-dispersion view with the full
    * gap-distribution shape. λ is the MLE n/Σgaps (per microsecond).
    * Per type with ≥ `minGaps` positive-total gaps: (event_type, n_gaps
    * long, mean_gap_us double — ONE division of exact integers, ks_stat
    * double — sup over distinct gap values of |F_emp − F_exp|, both
    * one-sided limits, 9-dp rounded).
    *
    * Determinism contract: gaps are exact integer micros; F_emp at g is
    * cum/n (one division each side of the sup); F_exp(g) = 1 −
    * exp9(−(n/S)·g) where exp9 rounds the exponential through
    * DECIMAL(25,12) to 9 dp (the p84 rule) and (n/S)·g is two IEEE ops
    * on exact integers — every compared double is identical
    * cross-engine.
    *
    * 100 TB shape: one per-(user, type) window pass for the gaps
    * (user-cardinality keys), one collapse to per-(type, gap) counts
    * (map-side combinable, values-cardinality), one
    * [[PrefixSum.withKeyedRunningSums]] CDF scan, a |types|-row
    * broadcast of (n, S), and a final map-side-combinable max. */
  def gapExponentialFit(events: DataFrame, userCol: String, tsCol: String,
      orderCol: String, typeCol: String, minGaps: Long = 2L): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    val ty = col(s"`$typeCol`")
    val w = Window.partitionBy(ty, u)
      .orderBy(ts.asc_nulls_last, col(s"`$orderCol`").asc_nulls_last)
    val gaps = events
      .filter(u.isNotNull && ts.isNotNull && ty.isNotNull)
      .withColumn("__gap", unix_micros(ts) - unix_micros(lag(ts, 1).over(w)))
      .filter(col("__gap").isNotNull)
      .select(ty.as("__ty"), col("__gap"))
    val counts = gaps.groupBy(col("__ty"), col("__gap"))
      .agg(count(lit(1)).as("__c"))
    val cum = PrefixSum.withKeyedRunningSums(
      counts, Seq("__ty"), Seq("__gap"), Seq("__c"))
    val totals = cum.groupBy(col("__ty"))
      .agg(max(col("cum___c")).as("__n"),
        // gap·count through DECIMAL(38,0): micro-gaps × corpus counts
        // overflow a long product/sum silently (the mannWhitneyByGroup
        // dec38 convention; the oracle mirrors with ::HUGEINT)
        sum(col("__gap").cast(DecimalType(38, 0)) * col("__c")).as("__s"))
      .filter(col("__n") >= minGaps && col("__s") > 0L)
    val exp9 = (c: Column) =>
      round(exp(c).cast(DecimalType(25, 12)), 9).cast("double")
    cum.join(broadcast(totals), Seq("__ty"))
      .withColumn("__fexp", lit(1.0) - exp9(
        -(col("__n").cast("double") / col("__s").cast("double")) *
          col("__gap").cast("double")))
      .withColumn("__d", greatest(
        abs(col("cum___c").cast("double") / col("__n").cast("double") -
          col("__fexp")),
        abs((col("cum___c") - col("__c")).cast("double") /
          col("__n").cast("double") - col("__fexp"))))
      .groupBy(col("__ty").as(typeCol))
      .agg(max(col("__n")).as("n_gaps"),
        (max(col("__s")).cast("double") / max(col("__n")).cast("double"))
          .as("mean_gap_us"),
        round(max(col("__d")), 9).as("ks_stat"))
  }

  /** Hour-of-week seasonality profile per event type: activity share and
    * peak cell over the (day-of-week × hour-of-day) grid — the traffic
    * fingerprint that separates human daily/weekly rhythm (strong
    * diurnal peaks) from scheduled automation (flat or one-cell-spiked
    * grids) and feeds capacity planning. Day-of-week is pure epoch
    * arithmetic — (days since 1970-01-01 + 4) mod 7, Sunday = 0 (Jan 1
    * 1970 was a Thursday = 4) — never an engine/locale calendar call;
    * both bucketings use the pmod floor-division pattern so pre-1970
    * timestamps bucket identically cross-engine. Output per non-empty
    * cell: (event_type, dow int 0–6, hour int 0–23, n_events long,
    * share double — ONE division by the type total, is_peak boolean —
    * count equals the type max; ties all flag).
    *
    * 100 TB shape: ONE map-side-combinable corpus aggregation to the
    * ≤ |types|·168-cell grid; totals/maxima are second aggregations of
    * the grid itself (tiny), broadcast back. */
  def seasonality(events: DataFrame, tsCol: String, typeCol: String): DataFrame = {
    val ts = col(s"`$tsCol`")
    val ty = col(s"`$typeCol`")
    val grid = events.filter(ts.isNotNull && ty.isNotNull)
      .select(ty.as("__ty"),
        expr(s"pmod((unix_micros(`$tsCol`) - pmod(unix_micros(`$tsCol`), " +
          "86400000000L)) div 86400000000L + 4, 7)").cast("int").as("dow"),
        expr(s"pmod((unix_micros(`$tsCol`) - pmod(unix_micros(`$tsCol`), " +
          "3600000000L)) div 3600000000L, 24)").cast("int").as("hour"))
      .groupBy(col("__ty"), col("dow"), col("hour"))
      .agg(count(lit(1)).as("n_events"))
    val totals = grid.groupBy(col("__ty"))
      .agg(sum(col("n_events")).as("__tot"), max(col("n_events")).as("__mx"))
    grid.join(broadcast(totals), Seq("__ty"))
      .select(col("__ty").as(typeCol), col("dow"), col("hour"),
        col("n_events"),
        (col("n_events").cast("double") / col("__tot").cast("double"))
          .as("share"),
        (col("n_events") === col("__mx")).as("is_peak"))
  }

  /** Funnel conversion rates WITH a conversion window: for each
    * consecutive stage pair, how many stage-i holders convert at all,
    * and how many convert within `windowSeconds` — the
    * "did they buy within an hour" business cut that [[funnelStages]]'
    * unbounded counts and [[funnelLatency]]'s percentiles bracket.
    * Same rank-chained first-event semantics as funnelLatency (strictly
    * later in time, rank-qualified). Output per transition:
    * (transition, n_source, n_converted, n_within longs, cvr,
    * cvr_within doubles — each ONE division of exact integers; NULL
    * when n_source = 0 cannot happen since the transition row exists
    * only when stage i had holders — sources with zero holders emit a
    * row with zero counts via the stage chain).
    *
    * 100 TB shape: the funnelLatency chain verbatim — one per-user
    * window pass, per-stage min-aggregations, keyed joins — plus k−1
    * single-row source-count aggregates (map-side combinable) unioned
    * into the |stages|−1-row report. No percentile machinery at all. */
  def funnelConversionWindows(events: DataFrame, userCol: String,
      tsCol: String, orderCol: String, typeCol: String,
      stages: Seq[String], windowSeconds: Long): DataFrame = {
    require(stages.length >= 2, s"needs >= 2 stages, got $stages")
    require(stages.distinct.length == stages.length, "stages must be distinct")
    require(windowSeconds >= 1L, s"windowSeconds must be >= 1, got $windowSeconds")
    val u = col(s"`$userCol`")
    val ts = col(s"`$tsCol`")
    val w = Window.partitionBy(u)
      .orderBy(ts.asc_nulls_last, col(s"`$orderCol`").asc_nulls_last)
    val e = events
      .filter(u.isNotNull && ts.isNotNull &&
        col(s"`$typeCol`").isin(stages.map(x => x: Any): _*))
      .withColumn("__rn", row_number().over(w))
      .select(u.as("__u"), unix_micros(ts).as("__tm"),
        col(s"`$typeCol`").as("__ty"), col("__rn"))
    var picks = e.filter(col("__ty") === stages.head)
      .groupBy(col("__u")).agg(min(struct(col("__rn"), col("__tm"))).as("__p0"))
      .select(col("__u"), col("__p0.__rn").as("__r0"), col("__p0.__tm").as("__t0"))
    val winMicros = windowSeconds * 1000000L
    val rows = stages.indices.tail.map { i =>
      val lbl = s"${stages(i - 1)}->${stages(i)}"
      val nSrc = picks.agg(count(lit(1)).as("n_source"))
        .withColumn("transition", lit(lbl))
      val nxt = e.filter(col("__ty") === stages(i))
        .join(picks, Seq("__u"))
        .filter(col("__rn") > col(s"__r${i - 1}") &&
          col("__tm") > col(s"__t${i - 1}"))
        .groupBy(col("__u"), col(s"__t${i - 1}").as("__prev"))
        .agg(min(struct(col("__rn"), col("__tm"))).as("__p"))
        .select(col("__u"), col("__p.__rn").as(s"__r$i"),
          col("__p.__tm").as(s"__t$i"), col("__prev"))
      val conv = nxt.agg(
        count(lit(1)).as("n_converted"),
        coalesce(sum(when(col(s"__t$i") - col("__prev") <= winMicros, 1L)
          .otherwise(0L)), lit(0L)).as("n_within"))
        .withColumn("transition", lit(lbl))
      picks = nxt.select(col("__u"), col(s"__r$i"), col(s"__t$i"))
      nSrc.join(conv, Seq("transition"))
    }.reduce(_ unionByName _)
    rows.select(col("transition"), col("n_source"), col("n_converted"),
      col("n_within"),
      when(col("n_source") > 0L, col("n_converted").cast("double") /
        col("n_source").cast("double")).as("cvr"),
      when(col("n_source") > 0L, col("n_within").cast("double") /
        col("n_source").cast("double")).as("cvr_within"))
  }

}
