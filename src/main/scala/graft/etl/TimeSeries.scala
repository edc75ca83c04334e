package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Time-series operators over the batch tables — the reporting surface the
  * reference's Gold layer feeds Grafana from (reference
  * `include/scripts/to_gold.py:57-66` computes daily sales but leaves
  * calendar gaps to the dashboard), made explicit as engine operators:
  * calendar gap-fill, rolling range-frame windows, and SCD2 (slowly
  * changing dimension) interval derivation from an event stream.
  *
  * == Scale design ==
  * - Gap-fill generates the calendar per group with `sequence` + `explode`
  *   AFTER aggregation — the exploded side is O(groups × days), never
  *   O(input rows), and the final join is an equi-join on (group, day)
  *   against the already-aggregated (small) side.
  * - The rolling window is a RANGE frame over a per-key sort — one shuffle
  *   on the partition key, no self-join (the naive "join last 7 days"
  *   formulation is a range join that explodes at scale).
  * - SCD2 runs are gaps-and-islands: two `row_number` passes + one
  *   aggregate, all sharing the same (user_id) clustering, so Spark plans
  *   a single exchange for the whole chain.
  *
  * Determinism: money is summed as integer cents (per-value round, then
  * integer sum) and event ordering is a total order with explicit
  * NULLS FIRST on both engines — see SparkEntry's determinism contract.
  */
object TimeSeries {

  private def cents(c: String) = round(col(c) * 100).cast("long")

  /** Daily order counts/sales per status with calendar gaps filled as
    * zero rows — each status' calendar spans ITS OWN [min, max] day.
    */
  def gapFillDailySales(ord: DataFrame): DataFrame = {
    val daily = ord
      .groupBy(col("o_orderstatus"), to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents("o_totalprice")).as("sales_cents"))
    val calendar = daily.groupBy("o_orderstatus")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("o_orderstatus"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    calendar.join(daily, Seq("o_orderstatus", "day"), "left")
      .select(col("o_orderstatus"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("sales_cents"), lit(0L)).as("sales_cents"))
  }

  /** Per-customer rolling 7-day spend (RANGE frame: all orders within the
    * 6 preceding days + the current day, date-valued so peers are exact).
    */
  def rollingCustomerSpend(ord: DataFrame): DataFrame = {
    val base = ord.select(col("o_orderkey"), col("o_custkey"),
      to_date(col("o_orderdate")).as("day"),
      cents("o_totalprice").as("total_cents"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("day").cast("timestamp").cast("long"))
      .rangeBetween(-6L * 86400, 0)
    base
      .withColumn("rolling7_cents", sum("total_cents").over(w))
      .withColumn("rolling7_orders", count(lit(1)).over(w))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("total_cents"), col("rolling7_cents"), col("rolling7_orders"))
  }

  /** SCD2 intervals from the events stream: consecutive runs of the same
    * `event_type` per user become versioned [valid_from, valid_to)
    * intervals (valid_to = next version's valid_from; null ⇒ current).
    * Gaps-and-islands via the rn − rn-within-type difference.
    */
  /** Raw SCD2 phase intervals (timestamp-typed, half-open): shared by
    * the formatted [[scd2UserPhases]] surface and the point-in-time
    * join, so both see identical interval semantics.
    */
  private[etl] def scd2PhasesRaw(ev: DataFrame): DataFrame = {
    // total order incl. tie columns: duplicate event_ids can differ in
    // value/props, and NULLS FIRST is pinned to match the oracle
    val ord = Seq(col("ts"), col("event_id"),
      col("value").asc_nulls_first, col("props").asc_nulls_first)
    val byUser = Window.partitionBy("user_id").orderBy(ord: _*)
    val byUserType = Window.partitionBy("user_id", "event_type")
      .orderBy(ord: _*)
    val runs = ev
      .withColumn("rn", row_number().over(byUser))
      .withColumn("grp", col("rn") - row_number().over(byUserType))
      .groupBy("user_id", "event_type", "grp")
      .agg(min("ts").as("valid_from_ts"), count(lit(1)).as("n_events"),
        min("rn").as("first_rn"))
    val byVersion = Window.partitionBy("user_id").orderBy("first_rn")
    runs
      .withColumn("version", row_number().over(byVersion))
      .withColumn("valid_to_ts", lead("valid_from_ts", 1).over(byVersion))
  }

  def scd2UserPhases(ev: DataFrame): DataFrame =
    scd2PhasesRaw(ev)
      .select(col("user_id"), col("version"), col("event_type"),
        date_format(col("valid_from_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("valid_to"),
        col("n_events"), col("valid_to_ts").isNull.as("is_current"))

  /** Driver-contract registration (SparkEntry aggregates these). */
  /** Ordered funnel conversion: stage k counts users whose first stage-k
    * event is at-or-after their first qualifying stage-(k-1) event —
    * the product-analytics "did the user progress through view → click →
    * purchase IN ORDER" query, not mere per-type presence.
    *
    * Each stage is one filter + broadcast-joinable semi-state (the
    * qualified-users set shrinks monotonically) + a partial-aggregating
    * min — per stage one shuffle of the FILTERED event slice, never of
    * the full stream; the stage count is fixed and small, so the chain
    * stays a static plan (no driver loop over data, only over stage
    * names). Event-time ties across engines resolve identically because
    * distinct events sharing a microsecond don't occur in this stream
    * (the SCD2/as-of queries pin the same property).
    *
    * `window` bounds each step to a CONVERSION WINDOW (a Spark interval
    * literal, e.g. "1 day"): stage k only counts events with
    * `t_prev <= ts <= t_prev + window` — the form real product funnels
    * use ("purchased within a day of clicking"), where the unbounded
    * variant would credit a purchase months later. None ⇒ unbounded.
    */
  def funnel(ev: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      window: Option[String] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    // first-event time per user for stage 1, then iterate: first event of
    // stage k at-or-after (and within the window of) the user's
    // stage-(k-1) time
    val inWindow = window match {
      case Some(iv) => col("ts") <= col("t_prev") + expr(s"interval $iv")
      case None     => lit(true)
    }
    val firsts = stages.tail.scanLeft(
      ev.filter(col("event_type") === stages.head)
        .groupBy("user_id").agg(min(col("ts")).as("t"))) { (prev, stage) =>
      ev.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col("t").as("t_prev")), Seq("user_id"))
        .filter(col("ts") >= col("t_prev") && inWindow)
        .groupBy("user_id").agg(min(col("ts")).as("t"))
    }
    val counts = firsts.zip(stages.zipWithIndex).map {
      case (df, (stage, i)) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(i + 1).as("stage_idx"), lit(stage).as("stage"),
            col("n_users"))
    }.reduce(_ unionAll _)
    val first = counts.filter(col("stage_idx") === 1)
      .select(col("n_users").as("n_first"))
    counts.crossJoin(broadcast(first))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        (col("n_users").cast("double") / col("n_first"))
          .as("conv_from_first"))
  }

  /** Event-type transition matrix (the Markov view of user behavior):
    * consecutive event pairs per user — ordered by the append-sequential
    * `event_id`, a total order identical on both engines, where a
    * timestamp order could tie at micros and break cross-engine hashing —
    * rolled up to (prev, next) counts and row-normalized probabilities.
    * One shuffle on user_id for the lag window, one hash-agg on the pair;
    * the per-prev totals ride a broadcast join (|event types|² rows).
    */
  def transitionMatrix(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val counts = ev.select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n_transitions"))
    val totals = counts.groupBy("prev_type")
      .agg(sum("n_transitions").as("n_from"))
    counts.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("event_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from"))
          .as("p_transition"))
  }

  /** Power-iteration steps of [[markovSteadyState]]. */
  val MarkovIters = 10

  /** STEADY-STATE of the event-type Markov chain — where the user
    * journey CONVERGES, vs [[transitionMatrix]]'s one-step view: the
    * empirical transition matrix is power-iterated [[MarkovIters]]
    * times from the observed from-distribution, and the long-run share
    * per event type is reported beside the empirical share (their gap
    * is the "journey pulls users toward X" signal funnels read).
    *
    * Determinism is the integer fixed-point device: transition probs
    * are exact `c·10⁶ div r` parts-per-million, the state vector lives
    * in parts-per-billion, and each step sums the per-edge integer
    * `(ppb·p_ppm) div 10⁶` — ADDITION OF LONGS, so partition order
    * cannot perturb a bit (a double π would be order-sensitive inside
    * the groupBy). Truncation leaks < |types| ppb of mass per step —
    * quantization, not error, and identical on both engines. Domain
    * bound: `c ≤ 9.2e12` transitions per cell before `c·10⁶` overflows
    * (scaladoc contract, the portable-hash precedent).
    *
    * Scale shape: ONE corpus window builds the per-user steps; the
    * transition table is |types|²-bounded and CHECKPOINTED, so the ten
    * iterations are broadcast joins over dozens of rows — plan-sized,
    * not data-sized.
    */
  def markovSteadyState(ev: DataFrame,
      iters: Int = MarkovIters): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val counts = ev.select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val totals = counts.groupBy("prev_type").agg(sum("c").as("r"))
    val p = counts.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("event_type").as("next_type"),
        expr("(c * 1000000) div r").as("p_ppm"))
    val grand = totals.agg(sum("r").as("g"))
    var pi = totals.crossJoin(broadcast(grand))
      .select(col("prev_type").as("t"),
        expr("(r * 1000000000) div g").as("ppb"))
    for (_ <- 1 to iters) {
      pi = pi.join(p, col("t") === col("prev_type"))
        .select(col("next_type").as("nt"),
          expr("(ppb * p_ppm) div 1000000").as("contrib"))
        .groupBy(col("nt").as("t"))
        .agg(sum("contrib").as("ppb"))
        .select(col("t"), col("ppb"))
    }
    pi.join(totals.select(col("prev_type").as("t"), col("r")), Seq("t"))
      .crossJoin(broadcast(grand))
      .select(col("t").as("event_type"), col("ppb").as("steady_ppb"),
        (col("ppb").cast("double") / lit(1000000000.0))
          .as("steady_share"),
        (col("r").cast("double") / col("g").cast("double"))
          .as("from_share"))
  }

  /** Weekly cohort retention: users are cohorted by the week of their
    * first event; each later week reports how many of that cohort were
    * active (distinct-user exact counts; the retention ratio divides
    * them with the engine-identical IEEE expression). Two hash-aggs over
    * (user, week) plus a broadcast of the per-cohort sizes — the
    * activity table shuffles once, the cohort dimension never does.
    */
  def cohortRetention(ev: DataFrame): DataFrame = {
    val weeks = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("week")).distinct()
    val cohorts = weeks.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_size"))
    weeks.join(cohorts, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("long"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset"), col("n_active"),
        (col("n_active").cast("double") / col("cohort_size"))
          .as("retention"))
  }

  /** Retention TRIANGLE: [[cohortRetention]] pivoted to the wide matrix
    * analysts actually read — one row per cohort, one column per week
    * offset (w0..w7, active-user counts; absent cells 0). The pivot
    * column set is FIXED, not data-driven, so the schema is stable at
    * any scale and the plan is a single hash aggregate over the
    * long-form cells (no two-pass pivot-value discovery).
    */
  def retentionTriangle(ev: DataFrame, maxOffset: Int = 7): DataFrame = {
    val offsets = (0 to maxOffset).map(_.toString)
    cohortRetention(ev)
      .filter(col("week_offset") <= maxOffset)
      .groupBy("cohort_week")
      .pivot(col("week_offset"), offsets)
      .agg(first("n_active"))
      .na.fill(0L, offsets)
      .select(col("cohort_week") +:
        offsets.map(o => col(s"`$o`").as(s"w$o")): _*)
  }

  /** Cohort LTV: cumulative revenue per acquisition cohort — the revenue
    * companion to [[cohortRetention]]. Customers cohort by their FIRST
    * order week; each (cohort, week-offset) cell carries that week's
    * exact revenue cents, the running cumulative, and cumulative LTV per
    * cohort member (the single IEEE division, identical on both engines).
    *
    * Scale shape: the cumulative window partitions by cohort — parallel
    * across cohorts, and a cohort's offset domain is calendar weeks, so
    * each partition is metadata-sized; cohort sizes broadcast. The only
    * fact-table shuffles are the two keyed aggregates.
    */
  def cohortLtv(ord: DataFrame): DataFrame = {
    // both materialized once: wk feeds the cohort aggregate AND the
    // cells join; cohorts feeds the sizes aggregate AND the join —
    // without this the orders scan runs three times
    val wk = ord.select(col("o_custkey"),
      date_trunc("week", col("o_orderdate")).cast("date").as("week"),
      cents("o_totalprice").as("rev_cents")).localCheckpoint()
    val cohorts = wk.groupBy("o_custkey").agg(min("week").as("cohort_week"))
      .localCheckpoint()
    val sizes = cohorts.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_customers"))
    val cells = wk.join(cohorts, Seq("o_custkey"))
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("long"))
      .groupBy("cohort_week", "week_offset")
      .agg(sum("rev_cents").as("rev_cents"))
    val wCum = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_rev_cents", sum("rev_cents").over(wCum))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week").cast("string").as("cohort_week"),
        col("week_offset"), col("rev_cents"), col("cum_rev_cents"),
        (col("cum_rev_cents").cast("double") / col("n_customers"))
          .as("ltv_cents_per_user"))
  }

  /** Time-weighted average of `value` per user — TWAP, the right mean
    * when observations are IRREGULARLY spaced (a value "holds" until the
    * next event, so a reading that stood for an hour must outweigh one
    * replaced after a second; the plain `avg` ignores holding time).
    *
    * Exactness: each interval contributes `v_cents × dur_us` — both
    * exact integers — so the weighted sum and total duration are exact
    * Longs and the TWAP is the single IEEE division (graft.etl.Gold's
    * contract). Envelope: max cents (~5e4) × per-user observed span in
    * micros must stay below 2^63 — ~5.8 years of max-valued holding per
    * user, far beyond the event horizon here.
    * Users whose events all share one timestamp (or with a single
    * event) have no held interval and are excluded, which also keeps
    * the division well-defined.
    *
    * Scale shape: the lead() window partitions per user —
    * embarrassingly parallel, one shuffle shared by the window and the
    * aggregate (same key).
    */
  def twapUserValue(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("t_us"), col("event_id"))
    ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"),
        cents("value").as("v_cents"))
      .withColumn("dur_us", lead("t_us", 1).over(byUser) - col("t_us"))
      .filter(col("dur_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("v_cents") * col("dur_us")).as("wsum"),
        sum("dur_us").as("dur_total_us"))
      .filter(col("dur_total_us") > 0)
      .select(col("user_id"), col("n_intervals"), col("dur_total_us"),
        (col("wsum").cast("double") / col("dur_total_us"))
          .as("twap_cents"))
  }

  /** Daily resample of each user's `value` series with forward fill
    * (LOCF — last observation carried forward): every day in the user's
    * [first, last] activity span gets the value of the most recent
    * observed day, `is_observed` marking real readings. The standard
    * densification before joining sensor/price series against a
    * calendar fact.
    *
    * The fill never looks inside a day: a day's reading is its LAST
    * event by (ts, event_id) — picked by `max_by` over the exact
    * struct order — then `last(..., ignoreNulls)` carries day-level
    * readings forward. First days are observed by construction, so the
    * filled column is never null.
    *
    * Scale shape: one shuffle to (user, day) readings; the calendar
    * explode is per user (span-bounded fan-out) and the LOCF window
    * partitions by user — embarrassingly parallel, no global sort.
    */
  def forwardFillDaily(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("user_id"), to_date(col("ts")).as("day"),
        struct(col("ts"), col("event_id")).as("ord"),
        cents("value").as("v_cents"))
      .groupBy("user_id", "day")
      .agg(max_by(col("v_cents"), col("ord")).as("v_obs"))
    val dailyM = daily.localCheckpoint()
    val cal = dailyM.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(dailyM, Seq("user_id", "day"), "left")
      .withColumn("v_cents_filled", last("v_obs", ignoreNulls = true).over(w))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("v_cents_filled"), col("v_obs").isNotNull.as("is_observed"))
  }

  /** LINEAR-INTERPOLATION GAP FILL — the third fill policy beside
    * [[gapFillDailySales]] (zeros) and [[forwardFillDaily]] (carry
    * last): missing days take the straight line between the bracketing
    * observations, `v = v_prev + (v_next − v_prev)·gap/(span)` — the
    * fill a metrics store applies to slowly-moving gauges. Interior
    * days always have both brackets (the calendar spans min..max
    * observed day per user), observed days emit their own value
    * exactly.
    *
    * Determinism: observations are exact cents (the [[forwardFillDaily]]
    * max_by survivor), gap/span are integer day differences, and the
    * interpolation is ONE fixed IEEE tree (one division, one multiply,
    * one add) mirrored in the twin. Windows partition by user — the
    * horizontal-scaling shape of [[userStreaks]], each partition
    * calendar-bounded.
    */
  def interpolateDaily(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("user_id"), to_date(col("ts")).as("day"),
        struct(col("ts"), col("event_id")).as("ord"),
        cents("value").as("v_cents"))
      .groupBy("user_id", "day")
      .agg(max_by(col("v_cents"), col("ord")).as("v_obs"))
    val dailyM = daily.localCheckpoint()
    val cal = dailyM.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val wB = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    cal.join(dailyM, Seq("user_id", "day"), "left")
      .withColumn("pd", last(when(col("v_obs").isNotNull, col("day")),
        ignoreNulls = true).over(wB))
      .withColumn("pv", last("v_obs", ignoreNulls = true).over(wB))
      .withColumn("nd", first(when(col("v_obs").isNotNull, col("day")),
        ignoreNulls = true).over(wF))
      .withColumn("nv", first("v_obs", ignoreNulls = true).over(wF))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        when(col("v_obs").isNotNull, col("v_obs").cast("double"))
          .otherwise(col("pv").cast("double") +
            (col("nv") - col("pv")).cast("double") *
              (datediff(col("day"), col("pd")).cast("double") /
                datediff(col("nd"), col("pd")).cast("double")))
          .as("v_interp"),
        col("v_obs").isNotNull.as("is_observed"))
  }

  /** Daily new-vs-returning split: per activity day, how many active
    * users were seen for the FIRST time that day vs seen before — the
    * acquisition/retention decomposition of DAU. A user's first day is
    * `min(day)` over their distinct activity days; both the first-day
    * aggregate and the comparison join shuffle on `user_id`, so the
    * join is co-partitioned (no extra exchange), and the final rollup
    * shuffles the day key once.
    */
  def newVsReturning(ev: DataFrame): DataFrame = {
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint() // feeds the first-day aggregate AND the join
    val first = ud.groupBy("user_id").agg(min("day").as("first_day"))
    ud.join(first, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"),
        (col("n_new").cast("double") / col("n_active")).as("new_share"))
  }

  /** Rolling active users: per activity day, DAU, trailing-7-day WAU,
    * and the DAU/WAU stickiness ratio — the standard engagement
    * triplet. A trailing distinct count does NOT decompose into sums
    * (the same user may appear on several days), so each active
    * (user, day) is EXPLODED onto the 7 calendar days it keeps the user
    * "weekly active" for, deduplicated, and counted — fan-out exactly 7,
    * all shuffles on (user, day)-shaped keys, no window at all. Days
    * with no activity are not emitted (their DAU is 0; WAU may still be
    * positive but has no stickiness reading).
    */
  /** USER ACTIVITY STREAKS — per user, runs of CONSECUTIVE active
    * calendar days via gaps-and-islands (`epoch-day − row_number` is
    * constant within a run): total active days, number of streaks, and
    * the longest streak. The retention team's "current/longest streak"
    * table, and — unlike the calendar-domain recurrences — a genuinely
    * data-sized windowed computation: the window partitions by USER,
    * so it scales horizontally with the user count, each partition
    * bounded by the calendar.
    */
  def userStreaks(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("grp",
        datediff(col("day"), lit("1970-01-01").cast("date")) -
          row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").as("n_active_days"), count(lit(1)).as("n_streaks"),
        max("len").as("longest_streak"))
  }

  def activeUsers(ev: DataFrame): DataFrame = {
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint() // feeds both the DAU and the coverage branch
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6),
          expr("interval 1 day"))).as("cday"))
      .distinct()
      .groupBy(col("cday").as("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
  }

  /** Robust anomaly detection over daily revenue: the median/MAD z-score
    * (`0.6745·(x−med)/MAD`, flagged beyond 3.5 — Iglewicz–Hoaglin), the
    * outlier-insensitive twin of [[dailyAnomalies]]' mean/σ z. Medians
    * ride the ×2-scaling trick of [[graft.ext.Quality.madQuantity]]
    * (exact interpolation), the modified z is a fixed DAG of
    * correctly-rounded ops, and an all-equal series (MAD 0) surfaces
    * NULL/false rather than dividing by zero. The percentile aggregates
    * and the rejoin all ride the DAY-LEVEL series (metadata-sized).
    */
  /** Exact rolling median of daily revenue over a trailing window of
    * [[RollingMedianWindow]] OBSERVED days — the robust companion of
    * the rolling mean/EWMA smoothers: one outlier day shifts the mean
    * by its full weight but leaves the median untouched, which is why
    * ops dashboards trend the median. Exactness needs no percentile
    * estimator: the window holds ≤ 7 exact cent values, so the median
    * is `sorted[(w+1) div 2]` for odd w and ONE division
    * `(mid₁+mid₂)/2` for even w (warm-up rows) — both engines sort the
    * same integers and pick the same elements.
    *
    * Scale shape: the corpus collapses to the day-level table first;
    * the unpartitioned window rides the CALENDAR-bounded days (the
    * standing ts_* bounded-domain argument), each row carrying a ≤7
    * element array.
    */
  val RollingMedianWindow = 7

  def rollingMedianDailyRevenue(ord: DataFrame,
      window: Int = RollingMedianWindow): DataFrame = {
    val daily = ord
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents("o_totalprice")).as("rev_cents"))
    val w = Window.orderBy("day").rowsBetween(-(window - 1), 0)
    daily
      .withColumn("vals", sort_array(collect_list("rev_cents").over(w)))
      .select(col("day"), col("rev_cents"),
        size(col("vals")).cast("long").as("w"),
        expr("""CASE WHEN size(vals) % 2 = 1
                THEN CAST(element_at(vals,
                       CAST((size(vals) + 1) DIV 2 AS INT)) AS DOUBLE)
                ELSE CAST(element_at(vals, CAST(size(vals) DIV 2 AS INT))
                        + element_at(vals,
                            CAST(size(vals) DIV 2 AS INT) + 1) AS DOUBLE)
                     / 2.0 END""").as("median_cents"))
  }

  /** LAG/ROLLING FEATURE MATRIX over daily revenue — the feature-
    * engineering step in front of any tabular forecaster: per day,
    * yesterday's value (lag 1), the same weekday last week (lag 7), the
    * trailing 7-observed-day mean, and the day-of-week — the four
    * features every revenue model starts from. Lags are exact cent
    * values; the rolling mean is ONE division of an exact window sum by
    * the window row count; `dow` uses the ISO numbering both engines
    * share via explicit formulas (Spark `dayofweek` is Sunday=1 —
    * avoided; `(days_since_epoch + 3) mod 7` gives Monday=0 on both
    * sides from the same integer).
    *
    * Scale shape: corpus → day table first; unpartitioned lag/rolling
    * windows ride the calendar-bounded days (standing ts_* argument).
    */
  def lagFeatures(ord: DataFrame): DataFrame = {
    val daily = ord
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents("o_totalprice")).as("rev_cents"))
    val wo = Window.orderBy("day")
    val w7 = wo.rowsBetween(-6, 0)
    daily
      .withColumn("lag1_cents", lag("rev_cents", 1).over(wo))
      .withColumn("lag7_cents", lag("rev_cents", 7).over(wo))
      .withColumn("ma7_cents",
        sum("rev_cents").over(w7).cast("double") /
          count(lit(1)).over(w7).cast("double"))
      .withColumn("dow",
        pmod(datediff(col("day").cast("date"),
          lit("1970-01-01").cast("date")) + 3, lit(7)).cast("long"))
      .select("day", "rev_cents", "lag1_cents", "lag7_cents",
        "ma7_cents", "dow")
  }

  def robustAnomalies(ord: DataFrame): DataFrame = {
    val daily =
      ord.groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(cents("o_totalprice")).as("rev_cents"))
        .localCheckpoint() // feeds the median pass AND the rejoin
    val med = daily.agg(expr("percentile(rev_cents * 2, 0.5)").as("med2"))
    val withDev = daily.crossJoin(broadcast(med))
      .withColumn("adev2", abs(col("rev_cents").cast("double") * 2 -
        col("med2")))
    val mad = withDev.agg(expr("percentile(adev2, 0.5)").as("mad2"))
    withDev.crossJoin(broadcast(mad))
      .withColumn("robust_z",
        when(col("mad2") > 0.0,
          lit(0.6745) * (col("rev_cents").cast("double") * 2 - col("med2"))
            / col("mad2")))
      .select(col("day"), col("rev_cents"),
        (col("med2") / lit(2.0)).as("median_cents"),
        (col("mad2") / lit(2.0)).as("mad_cents"),
        col("robust_z"),
        coalesce(abs(col("robust_z")) > lit(3.5), lit(false))
          .as("is_anomaly"))
  }

  /** Threshold-crossing episodes: maximal runs of CONSECUTIVE calendar
    * days with revenue above the overall daily average — the alerting
    * primitive ("how long did the surge last?"). The above-average test
    * is the exact integer cross-multiplication `rev·N > S` (no mean is
    * ever computed, as in [[cusumDailyRevenue]]); runs are
    * gaps-and-islands: day minus a row_number of above-days is constant
    * within a consecutive run. Both windows ride the DAY-LEVEL table
    * (metadata-sized at any SF).
    */
  def thresholdEpisodes(ord: DataFrame): DataFrame = {
    val daily = ord.groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(cents("o_totalprice")).as("rev_cents"))
      .localCheckpoint() // feeds the total AND the island walk
    val tot = daily.agg(count(lit(1)).as("n_days"),
      sum("rev_cents").as("total_cents"))
    val above = daily.crossJoin(broadcast(tot))
      .filter(col("rev_cents") * col("n_days") > col("total_cents"))
    above
      .withColumn("grp", date_sub(col("day"),
        row_number().over(Window.orderBy("day"))))
      .groupBy("grp")
      .agg(min("day").as("d0"), max("day").as("d1"),
        count(lit(1)).as("n_days_above"),
        sum("rev_cents").as("episode_cents"))
      .select(date_format(col("d0"), "yyyy-MM-dd").as("start_day"),
        date_format(col("d1"), "yyyy-MM-dd").as("end_day"),
        col("n_days_above"), col("episode_cents"))
  }

  /** CUSUM changepoint statistic over daily revenue — the classic
    * drift detector (Page 1954): the running sum of deviations from the
    * global mean swings away from zero when the level shifts.
    *
    * Exactness: the mean is never computed. Multiplying through by the
    * day count N turns Σᵢ≤ₜ(xᵢ − S/N) into N·Σᵢ≤ₜxᵢ − t·S — all exact
    * Longs (cents ~1e13 × days ~1e4 stays far under 2^63). The
    * normalized column divides two exact integers once, `cusum_scaled /
    * (N·S)`, the single-division contract.
    *
    * Scale shape: one fact shuffle to daily cents; the cumulative runs
    * on the DAY-LEVEL series (years × 365 rows — metadata-sized, same
    * bounded-domain argument as [[sessionConcurrency]]'s carry; a
    * multi-century corpus would reuse its banded split).
    */
  def cusumDailyRevenue(ord: DataFrame): DataFrame = {
    val daily =
      ord.groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
        .agg(sum(cents("o_totalprice")).as("rev_cents"))
        .localCheckpoint() // feeds the totals AND the cumulative
    val totals = daily.agg(count(lit(1)).as("n_days"),
      sum("rev_cents").as("total_cents"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_cents", sum("rev_cents").over(wCum))
      .withColumn("t", count(lit(1)).over(wCum))
      .crossJoin(broadcast(totals))
      .select(col("day"), col("rev_cents"),
        (col("cum_cents") * col("n_days") - col("t") * col("total_cents"))
          .as("cusum_scaled"),
        ((col("cum_cents") * col("n_days") - col("t") * col("total_cents"))
          .cast("double") / (col("n_days") * col("total_cents")))
          .as("cusum_norm"))
  }

  /** Holt smoothing weights — both powers of two, so `1 − α` and
    * `1 − β` are exact and every decimal literal round-trips to the
    * identical double in both engines. */
  val HoltAlpha = 0.5
  val HoltBeta = 0.25

  /** HOLT DOUBLE EXPONENTIAL SMOOTHING (level + trend) over daily
    * revenue — the forecasting member of the time-series family
    * ([[dailyAnomalies]] detects, [[seasonalNaiveBacktest]] baselines,
    * this one FITS): per observed day, the one-step-ahead forecast
    * `level + trend` made BEFORE seeing the day, then the state
    * update. Unlike the truncated-window EWMA (closed form), Holt is a
    * genuine 2-state recurrence, so it runs over the VALUE-BOUNDED day
    * domain (~2.5k rows at any SF): the corpus-sized work is the one
    * keyed day aggregation; the recurrence folds on the driver over
    * the bounded artifact (the changepoint/MMR class), and the twin
    * replays it as a linear recursive CTE over the row-numbered day
    * table. Doubles agree bit-for-bit because both sides evaluate the
    * identical update tree on exact integer cents:
    * `l' = α·y + (1−α)·(l + t)`, `t' = β·(l' − l) + (1−β)·t`,
    * seeded `l₀ = y₀, t₀ = 0`.
    */
  def holtDailyRevenue(ord: DataFrame): DataFrame = {
    val spark = ord.sparkSession
    spark.createDataFrame(holtFold(collectDaily(ord)))
      .toDF("day", "y_cents", "forecast", "level", "trend")
  }

  /** The one corpus pass shared by the forecasting family: daily revenue
    * in exact integer cents, collected ordered over the VALUE-BOUNDED
    * day domain (the recurrence inputs).
    */
  private def collectDaily(ord: DataFrame): Array[(String, Long)] = {
    val spark = ord.sparkSession
    import spark.implicits._
    ord
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(sum(cents("o_totalprice")).as("y_cents"))
      .orderBy("day")
      .as[(String, Long)].collect()
  }

  /** The Holt recurrence as a pure fold over the collected day series —
    * split from the DataFrame wrapper so [[forecastBacktest]] can score
    * it without re-aggregating the corpus.
    */
  private[etl] def holtFold(
      daily: Array[(String, Long)]): Seq[(String, Long, Double, Double, Double)] = {
    val out = Seq.newBuilder[(String, Long, Double, Double, Double)]
    var level = 0.0
    var trend = 0.0
    daily.zipWithIndex.foreach { case ((day, y), i) =>
      val yd = y.toDouble
      val forecast = if (i == 0) yd else level + trend
      val prev = level
      level =
        if (i == 0) yd
        else HoltAlpha * yd + (1.0 - HoltAlpha) * (level + trend)
      trend =
        if (i == 0) 0.0
        else HoltBeta * (level - prev) + (1.0 - HoltBeta) * trend
      out += ((day, y, forecast, level, trend))
    }
    out.result()
  }

  /** Holt-Winters smoothing weights — like [[HoltAlpha]]/[[HoltBeta]],
    * all powers of two so `1 − γ` is exact and the decimal literals
    * round-trip to identical doubles in both engines. */
  val HwAlpha = 0.5
  val HwBeta = 0.25
  val HwGamma = 0.25

  /** Weekly season length for the additive Holt-Winters fit. */
  val HwPeriod = 7

  /** ADDITIVE HOLT-WINTERS (level + trend + weekly seasonal) over daily
    * revenue — the seasonal member of the forecasting family:
    * [[holtDailyRevenue]] fits level/trend only; this adds the third
    * state the day-of-week cycle that [[dowSeasonality]] *measures*
    * actually needs at forecast time. Per observed day (after the seed
    * week) the one-step-ahead forecast `l + t + s_{t−7}` made BEFORE
    * seeing the day, then the state update
    * `l' = α(y − s_{t−7}) + (1−α)(l + t)`,
    * `t' = β(l' − l) + (1−β)t`, `s_t = γ(y − l') + (1−γ)s_{t−7}`,
    * seeded from the first week: `l₇ = (Σy₁..₇)/7`, `t₇ = 0`,
    * `sᵢ = yᵢ − l₇`.
    *
    * Scale shape: identical to [[holtDailyRevenue]] — the corpus-sized
    * work is the one keyed day aggregation; the 3-state recurrence
    * folds on the driver over the VALUE-BOUNDED day domain (~2.5k rows
    * at any SF). The twin replays it as a linear recursive CTE whose
    * state row carries the 7-slot seasonal register (sv1 = s_{t−6} …
    * sv7 = s_t), shifted one slot per step — the same circular buffer
    * the Scala fold keeps. Doubles agree bit-for-bit because both
    * sides evaluate the identical update tree on exact integer cents
    * and the α/β/γ literals are powers of two.
    */
  def holtWintersDailyRevenue(ord: DataFrame): DataFrame = {
    val spark = ord.sparkSession
    spark.createDataFrame(holtWintersFold(collectDaily(ord)))
      .toDF("day", "y_cents", "forecast", "level", "trend", "seasonal")
  }

  /** The Holt-Winters recurrence as a pure fold over the collected day
    * series (rows start AFTER the seed week) — split from the DataFrame
    * wrapper so [[forecastBacktest]] can score it without re-aggregating
    * the corpus. The >HwPeriod precondition is part of the registered-
    * query contract (the driver corpora span years); a caller holding a
    * shorter series gets the require, not a silent empty frame.
    */
  private[etl] def holtWintersFold(daily: Array[(String, Long)])
      : Seq[(String, Long, Double, Double, Double, Double)] = {
    require(daily.length > HwPeriod,
      s"holt-winters: need more than $HwPeriod days, got ${daily.length}")
    // seed week: one division, then per-slot subtraction — the twin's
    // anchor CTE spells the identical (sum/7.0 then subtract) order
    var level = daily.take(HwPeriod).map(_._2).sum.toDouble / 7.0
    var trend = 0.0
    val sv = scala.collection.mutable.Queue[Double](
      daily.take(HwPeriod).map(_._2.toDouble - level): _*)
    val out = Seq.newBuilder[(String, Long, Double, Double, Double, Double)]
    daily.drop(HwPeriod).foreach { case (day, y) =>
      val yd = y.toDouble
      val svUsed = sv.dequeue() // s_{t-7}: oldest slot of the register
      val forecast = level + trend + svUsed
      val prev = level
      level = HwAlpha * (yd - svUsed) + (1.0 - HwAlpha) * (level + trend)
      trend = HwBeta * (level - prev) + (1.0 - HwBeta) * trend
      val season = HwGamma * (yd - level) + (1.0 - HwGamma) * svUsed
      sv.enqueue(season)
      out += ((day, y, forecast, level, trend, season))
    }
    out.result()
  }

  /** FORECAST BACKTEST ROLLUP — the model-selection row over the
    * forecasting family: every method one-step-ahead-forecasts the SAME
    * holdout (observed days after the Holt-Winters seed week, so the
    * seasonal method is never scored where it has no state), absolute
    * errors accumulate in exact integer MILLICENTS
    * (`floor(|y − f|·1000)` — double subtraction and ×1000 are exact
    * for corpus-scale cents, floor pins the one rounding), and the row
    * with the minimum total error (method-name tie-break) wins.
    * Methods: `holt` (level+trend), `holt_winters` (+weekly seasonal),
    * `seasonal_naive` (y₍ᵢ₋₇₎ on the observed series), `naive1`
    * (y₍ᵢ₋₁₎ — the floor every forecaster must beat).
    *
    * Scale shape: ONE corpus aggregation to the bounded day domain
    * ([[collectDaily]]), then pure driver folds; the twin replays the
    * two recursive CTEs plus integer lags over the same row-numbered
    * day table.
    */
  def forecastBacktest(ord: DataFrame): DataFrame = {
    val spark = ord.sparkSession
    val daily = collectDaily(ord)
    val y = daily.map(_._2)
    val holtF = holtFold(daily).map(r => r._1 -> r._3).toMap
    val hwF = holtWintersFold(daily).map(r => r._1 -> r._3).toMap
    val holdout = (HwPeriod until daily.length)
    def errMilli(f: Int => Double): Long =
      holdout.map { i =>
        math.floor(math.abs(y(i).toDouble - f(i)) * 1000.0).toLong
      }.sum
    val errs = Seq(
      "holt" -> errMilli(i => holtF(daily(i)._1)),
      "holt_winters" -> errMilli(i => hwF(daily(i)._1)),
      "naive1" -> errMilli(i => y(i - 1).toDouble),
      "seasonal_naive" -> errMilli(i => y(i - HwPeriod).toDouble))
    val best = errs.minBy { case (m, e) => (e, m) }._1
    val n = holdout.length.toLong
    spark.createDataFrame(errs.map { case (m, e) =>
        (m, n, e, e.toDouble / n.toDouble, m == best)
      })
      .toDF("method", "n_days", "abs_err_milli", "mae_milli", "is_best")
  }

  /** Centered rolling-trend half-window of [[decomposeDaily]] (±3 days
    * = the weekly period, so the trend window always spans one full
    * day-of-week cycle away from the edges). */
  val DecomposeTrendHalfWindow = 3

  /** CLASSICAL ADDITIVE DECOMPOSITION of daily revenue —
    * `y = trend + seasonal + remainder`, the diagnostic view that sits
    * between [[dowSeasonality]] (measures the cycle) and
    * [[holtWintersDailyRevenue]] (forecasts with it): per day, the
    * centered 7-day rolling mean as trend, the day-of-week effect
    * `mean_dow(y) − mean_all(y)` as seasonal, and what neither explains
    * as remainder.
    *
    * Determinism: every mean is exact-integer-sum / count (cents never
    * leave integers until ONE division each), and the remainder is the
    * fixed IEEE tree `y − trend − seasonal` over those three doubles —
    * no double ever enters an aggregation, so order cannot matter.
    *
    * Scale shape: one fact shuffle to daily cents; the rolling window,
    * dow aggregate, and broadcast total all run on the VALUE-BOUNDED
    * day domain (the [[cusumDailyRevenue]] argument).
    */
  def decomposeDaily(ord: DataFrame): DataFrame = {
    val daily = ord.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(cents("o_totalprice")).as("y_cents"))
      .localCheckpoint() // feeds the trend window, dow means, total
    val h = DecomposeTrendHalfWindow
    val wTrend = Window.orderBy("day").rowsBetween(-h, h)
    val tot = daily.agg(count(lit(1)).as("n_all"),
      sum("y_cents").as("s_all"))
    val dow = daily
      .groupBy((weekday(col("day")) + 1).cast("long").as("isodow"))
      .agg(count(lit(1)).as("n_dow"), sum("y_cents").as("s_dow"))
    val trendC = col("t_sum").cast("double") / col("t_n")
    val seasC = col("s_dow").cast("double") / col("n_dow") -
      col("s_all").cast("double") / col("n_all")
    daily
      .withColumn("t_sum", sum("y_cents").over(wTrend))
      .withColumn("t_n", count(lit(1)).over(wTrend))
      .withColumn("isodow", (weekday(col("day")) + 1).cast("long"))
      .join(broadcast(dow), Seq("isodow"))
      .crossJoin(broadcast(tot))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("y_cents"),
        trendC.as("trend"),
        seasC.as("seasonal"),
        (col("y_cents").cast("double") - trendC - seasC).as("remainder"))
  }

  /** SEASONALLY-ADJUSTED ROBUST ANOMALIES — [[robustAnomalies]]' MAD
    * z-score applied to [[decomposeDaily]]'s REMAINDER instead of raw
    * revenue: the weekly cycle and local trend are explained away
    * first, so a weekday spiking to weekend levels is flagged even
    * though its raw value sits inside the overall spread (and regular
    * weekend highs are NOT flagged as raw-MAD would). The composite
    * every alerting stack runs once it has a seasonal model.
    *
    * Determinism: the remainder (a double from the fixed decompose
    * tree) is quantized to exact milli-cents (`floor(r·1000)` — one
    * correctly-rounded multiply + floor), putting the median/MAD back
    * on the ×2 integer-scaling trick of [[robustAnomalies]]; the
    * modified z is the same fixed DAG. All windows and percentile
    * passes ride the day-level series (metadata-sized).
    */
  def seasonalAnomalies(ord: DataFrame): DataFrame = {
    val dec = decomposeDaily(ord)
      .select(col("day"), col("y_cents"),
        floor(col("remainder") * lit(1000.0)).cast("long")
          .as("rem_milli"))
      .localCheckpoint() // feeds the median pass AND the rejoin
    val med = dec.agg(expr("percentile(rem_milli * 2, 0.5)").as("med2"))
    val withDev = dec.crossJoin(broadcast(med))
      .withColumn("adev2",
        abs(col("rem_milli").cast("double") * 2 - col("med2")))
    val mad = withDev.agg(expr("percentile(adev2, 0.5)").as("mad2"))
    withDev.crossJoin(broadcast(mad))
      .withColumn("robust_z",
        when(col("mad2") > 0.0,
          lit(0.6745) * (col("rem_milli").cast("double") * 2 -
            col("med2")) / col("mad2")))
      .select(col("day"), col("y_cents"), col("rem_milli"),
        col("robust_z"),
        coalesce(abs(col("robust_z")) > lit(3.5), lit(false))
          .as("is_anomaly"))
  }

  /** Day-of-week seasonality index over daily revenue: mean revenue of
    * each ISO weekday relative to the overall daily mean (1.0 = flat).
    * The ratio of two means collapses to cross-multiplied exact
    * integers — (Σ_dow · N_total) / (N_dow · Σ_total) — evaluated as
    * one correctly-rounded double product per side and one division, so
    * both engines agree bit-for-bit without ever computing either mean
    * (the long·long products could overflow at corpus scale; the
    * double products round once each, identically).
    */
  def dowSeasonality(ord: DataFrame): DataFrame = {
    val daily = ord.groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(sum(cents("o_totalprice")).as("rev_cents"))
      .localCheckpoint() // feeds the per-dow and total aggregates
    val tot = daily.agg(count(lit(1)).as("n_total"),
      sum("rev_cents").as("sum_total"))
    daily
      .groupBy((weekday(col("day")) + 1).cast("long").as("isodow"))
      .agg(count(lit(1)).as("n_days"), sum("rev_cents").as("sum_cents"))
      .crossJoin(broadcast(tot))
      .select(col("isodow"), col("n_days"), col("sum_cents"),
        ((col("sum_cents").cast("double") * col("n_total")) /
          (col("n_days").cast("double") * col("sum_total")))
          .as("seasonal_index"))
  }

  /** Peak concurrent user sessions per day, via a DISTRIBUTED sweep
    * line over session intervals.
    *
    * Sessions are the gap-based (30-minute) user sessions of
    * [[graft.streaming.EventsStreaming.sessionsBatch]]; each contributes
    * a +1 delta at its start and a −1 at its end (inclusive ends: a
    * session starting exactly when another ends counts as overlap, so
    * deltas order +1-before-−1 at equal timestamps). Concurrency at any
    * delta is the running sum of deltas in time order.
    *
    * A global running sum is a single-partition window — the classic
    * sweep-line scale trap. Instead the prefix sum is decomposed: a
    * per-DAY running sum (shuffle on day, parallel across days) plus a
    * per-day carry = Σ net delta of all prior days. The carry table has
    * one row per calendar day, so its unpartitioned cumulative window
    * is metadata-sized at any SF (years × 365 rows) — the standard
    * two-level distributed scan decomposition. A session spanning
    * midnight is handled by construction: its +1 rides an earlier day's
    * net and reaches later days through the carry.
    */
  def sessionConcurrency(ev: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapUs = gapMinutes * 60L * 1000000L
    val sessions = ev.select(col("user_id"), col("ts"))
      .withColumn("new_session",
        when(unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(byUser)) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
    // materialized once: the delta union reads sessions twice, and the
    // running-sum and carry branches each read the union — without this
    // the sessionize window chain executes four times
    val sessionsM = sessions.localCheckpoint()
    val deltas = sessionsM.select(col("start_us").as("ts_us"), lit(1L).as("delta"))
      .unionAll(sessionsM.select(col("end_us").as("ts_us"), lit(-1L).as("delta")))
      .withColumn("day",
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd"))
    val wDay = Window.partitionBy("day")
      .orderBy(col("ts_us"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRun = deltas.withColumn("run", sum("delta").over(wDay))
    // carry: one row per day — tiny at any SF, see scaladoc
    val carry = deltas.groupBy("day").agg(sum("delta").as("net"))
      .withColumn("carry", coalesce(sum("net").over(
        Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("day", "carry")
    withRun.join(broadcast(carry), Seq("day"))
      .groupBy("day")
      .agg(max(col("run") + col("carry")).as("peak_concurrency"))
  }

  /** Point-in-time (temporal) dimension join: each order picks up the
    * SCD2 user phase ACTIVE at its order date — the "which dimension
    * version was true when the fact happened" join every warehouse
    * needs.
    *
    * Implementation is union-then-window, NOT an interval join: phase
    * starts and facts are unioned on (user, ts) and one ordered window
    * per user carries the last-seen phase forward (`last(_, ignoreNulls)`
    * with kind ordering phase-before-fact at equal ts, giving the SCD2
    * half-open [from, to) semantics). At 100 TB this is one shuffle on
    * the user key and a per-key sort — an interval join of the same
    * data is a range join that either explodes or needs binning, and
    * Spark's window already clusters facts and dimension versions
    * together. Facts before the user's first phase (or with no event
    * history) surface with a NULL phase, not dropped — auditability
    * over silent loss.
    */
  def pointInTimeJoin(ord: DataFrame, ev: DataFrame): DataFrame = {
    val ph = scd2PhasesRaw(ev).select(
      col("user_id"), col("valid_from_ts").as("pit_ts"),
      lit(0).as("kind"), col("event_type").as("ph"),
      col("version").cast("long").as("ver"),
      lit(null).cast("long").as("o_orderkey"))
    val facts = ord.select(
      col("o_custkey").as("user_id"), col("o_orderdate").as("pit_ts"),
      lit(1).as("kind"), lit(null).cast("string").as("ph"),
      lit(null).cast("long").as("ver"), col("o_orderkey"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("pit_ts"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ph.unionByName(facts)
      .withColumn("phase", last("ph", ignoreNulls = true).over(w))
      .withColumn("phase_version", last("ver", ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("o_orderkey"), col("user_id").as("o_custkey"),
        date_format(col("pit_ts"), "yyyy-MM-dd HH:mm:ss").as("order_ts"),
        col("phase"), col("phase_version"))
  }

  /** Driver-query shim for [[pointInTimeJoin]]: the testdata orders
    * (1995–2001, custkey 0–15k) and events (Jan 2024, user 0–1.5k) are
    * deliberately disjoint, so the driver query maps each order onto the
    * event timeline deterministically — custkey folded into the user
    * range, order date spread over January 2024 by a fixed multiplier.
    * Identical arithmetic on the oracle side; the operator itself takes
    * any (o_custkey, o_orderdate, o_orderkey) facts unchanged.
    */
  private def ordersOnEventTimeline(ord: DataFrame): DataFrame = ord.select(
    col("o_orderkey"),
    pmod(col("o_custkey"), lit(150L)).as("o_custkey"),
    timestamp_micros(lit(1704067200000000L) +
      pmod(col("o_orderkey") * lit(1009L), lit(2592000000000L)))
      .as("o_orderdate"))

  /** Top-k most common within-session event paths ("view>click>buy") —
    * the product-analytics "how do users actually move" query.
    * Sessions are the same 30-minute-gap sessions as
    * [[sessionConcurrency]]; a session's path is its event types joined
    * in (ts, event_id) order.
    *
    * Scale shape: sessionization is one user-keyed window pass; the path
    * string is built INSIDE the per-session aggregate
    * (`array_sort(collect_list(struct))` — struct sort order gives the
    * deterministic total order, no second window), bounded by session
    * length; the final count + top-k is an aggregate on the path key
    * followed by `TakeOrderedAndProject` (per-partition heaps, no global
    * sort). Pathological mega-sessions would need a per-session event
    * cap before `collect_list` at 100 TB — same guard family as the
    * dedup df cap.
    */
  def sessionPaths(ev: DataFrame, gapMinutes: Int = 30,
      k: Int = 20): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val gapUs = gapMinutes * 60L * 1000000L
    ev.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_session",
        when(unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(byUser)) > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(expr("array_join(transform(" +
        "array_sort(collect_list(struct(ts, event_id, event_type))), " +
        "x -> x.event_type), '>')").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Funnel latency: how long users take from their first `from` event
    * to their first `to` event at-or-after it, summarized as exact
    * integer seconds with interpolated percentiles (same
    * `percentile`↔`quantile_cont` portability contract as
    * [[Relational.percentiles]]).
    *
    * Scale shape: two filtered user-keyed aggregates and one equi-join —
    * the min-reduction happens map-side before each shuffle; no window
    * over the raw stream. One summary row out.
    */
  def timeToConvert(ev: DataFrame, from: String = "view",
      to: String = "purchase"): DataFrame = {
    val f = ev.filter(col("event_type") === from)
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("from_us"))
    val t = ev.filter(col("event_type") === to)
      .select(col("user_id"), unix_micros(col("ts")).as("to_us"))
    f.join(t, Seq("user_id"))
      .filter(col("to_us") >= col("from_us"))
      .groupBy("user_id", "from_us").agg(min("to_us").as("first_to_us"))
      .select(expr("(first_to_us - from_us) div 1000000").as("delta_secs"))
      .agg(
        count(lit(1)).as("n_converted"),
        round(expr("percentile(delta_secs, 0.5)") * 1000).cast("long")
          .as("median_secs_e3"),
        round(expr("percentile(delta_secs, 0.9)") * 1000).cast("long")
          .as("p90_secs_e3"),
        max("delta_secs").as("max_secs"))
  }

  /** Rolling z-score anomaly detection over the daily-sales series: each
    * day scored against the TRAILING 28 days (exclusive of itself, so an
    * anomalous day can't mask itself), flagged at |z| > 3.
    *
    * Exactness: the scoring domain is integer DOLLARS (`cents div 100`)
    * — sf0.1 days run ~1e9 cents, whose squared window sums overflow
    * Long, while dollar-domain Σ² keeps headroom to ~1e8-dollar days.
    * The RANGE frame aggregates integer (n, Σ, Σ²); mean/sd/z derive in
    * the DOUBLE domain as `Σ²/n − mean²` (the integer `n·Σ² − Σ·Σ` form
    * re-hits overflow), built from correctly-rounded IEEE ops on
    * identical inputs, so z is bit-identical across engines.
    * Near-constant windows can round the double variance to a hair
    * below zero; sqrt yields NaN, which the `sd > 0` guard maps to NULL
    * on both sides. Days with under `minDays` trailing observations
    * score NULL (insufficient baseline, surfaced not guessed).
    *
    * Scale note: the window runs over the AGGREGATED daily series (one
    * row per day — years × 365, metadata-sized at any SF), never the
    * fact table; a per-dimension variant partitions the same window by
    * that dimension.
    */
  def dailyAnomalies(ord: DataFrame, minDays: Int = 8): DataFrame = {
    val daily = ord
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(cents("o_totalprice")).as("day_cents"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")).cast("long"))
      .withColumn("day_usd", expr("day_cents div 100"))
    val w = Window.orderBy("day_num").rangeBetween(-28, -1)
    daily
      .withColumn("n_base", count(lit(1)).over(w))
      .withColumn("s_base", sum("day_usd").over(w))
      .withColumn("ss_base", sum(col("day_usd") * col("day_usd")).over(w))
      .withColumn("mean_usd",
        col("s_base").cast("double") / col("n_base"))
      .withColumn("sd", sqrt(
        col("ss_base").cast("double") / col("n_base") -
          col("mean_usd") * col("mean_usd")))
      .withColumn("z",
        when(col("n_base") >= minDays && col("sd") > 0,
          (col("day_usd").cast("double") - col("mean_usd")) / col("sd")))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("day_cents"), col("n_base"), col("z"),
        // non-null: an unscorable day is "not flagged", and a nullable
        // boolean's NULL representation differs across engine bridges
        coalesce(col("z") > 3 || col("z") < -3, lit(false))
          .as("is_anomaly"))
  }

  /** Seasonal-naive forecast backtest — the baseline every demand/
    * capacity forecaster must beat before it earns deployment:
    * forecast(d) = actual(d−7) (weekly seasonality) vs the naive-1
    * forecast(d) = actual(d−1), both evaluated over the GAP-FILLED
    * calendar (a day with no orders counts zero, exactly as a real
    * forecaster would be scored). Reported: evaluable days, exact
    * integer-cents absolute-error totals for both baselines, their MAEs
    * (one division each), and which baseline wins — the backtest
    * decision row.
    *
    * Scale shape: the fact table collapses to the day domain first
    * (map-side combined); the lag window runs over that bounded
    * calendar, never the order stream.
    */
  def seasonalNaiveBacktest(ord: DataFrame): DataFrame = {
    val daily = ord.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(cents("o_totalprice")).as("rev_cents"))
    val cal = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"))
    val filled = cal.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("rev_cents"), lit(0L))
        .as("rev_cents"))
    val w = Window.orderBy("day")
    filled
      .withColumn("f7", lag("rev_cents", 7).over(w))
      .withColumn("f1", lag("rev_cents", 1).over(w))
      .filter(col("f7").isNotNull && col("f1").isNotNull)
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("rev_cents") - col("f7"))).as("abs_err7_cents"),
        sum(abs(col("rev_cents") - col("f1"))).as("abs_err1_cents"))
      .select(col("n_days"), col("abs_err7_cents"), col("abs_err1_cents"),
        (col("abs_err7_cents").cast("double") /
          col("n_days").cast("double")).as("mae7_cents"),
        (col("abs_err1_cents").cast("double") /
          col("n_days").cast("double")).as("mae1_cents"),
        (col("abs_err7_cents") < col("abs_err1_cents"))
          .as("seasonal_wins"))
  }

  /** Calibration share (percent of evaluable days) of
    * [[conformalBacktest]]'s split.
    */
  val ConformalCalPct = 70L

  /** SPLIT-CONFORMAL interval calibration for the seasonal-naive
    * forecaster (Vovk et al.; the distribution-free prediction-interval
    * recipe): the first [[ConformalCalPct]]% of evaluable days
    * calibrate, `q̂` = the ⌈(n_cal+1)·0.9⌉-th SMALLEST absolute
    * residual (the finite-sample-valid order statistic, NOT a plug-in
    * quantile), and the held-out tail reports empirical coverage of
    * `forecast ± q̂` against the 90% target. This is the "can I trust
    * the interval" readout that turns a point backtest
    * ([[seasonalNaiveBacktest]]) into a calibrated forecaster.
    *
    * Exactness: residuals are integer cents, the conformal rank
    * `⌈0.9·(n+1)⌉ = (9·(n+1) + 9) div 10` is computed in integers
    * (clamped to n_cal for calibration windows under 9 days, where the
    * finite-sample guarantee is vacuous anyway — documented, mirrored),
    * q̂ is an exact order statistic selected by (|resid|, day) rank,
    * and coverage is one division of exact counts.
    *
    * Scale shape: the fact stream collapses to the gap-filled day
    * calendar first; every window (day rank, residual rank) runs over
    * that bounded domain — PlanLint-whitelisted with this argument.
    */
  def conformalBacktest(ord: DataFrame): DataFrame = {
    val daily = ord.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(cents("o_totalprice")).as("rev_cents"))
    val cal = daily.agg(min("day").as("d0"), max("day").as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"))
    val filled = cal.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("rev_cents"), lit(0L))
        .as("rev_cents"))
    val w = Window.orderBy("day")
    val evBase = filled
      .withColumn("f7", lag("rev_cents", 7).over(w))
      .filter(col("f7").isNotNull)
      .withColumn("absresid", abs(col("rev_cents") - col("f7")))
      .withColumn("rn", row_number().over(Window.orderBy("day")))
    val nEval = evBase.agg(count(lit(1)).as("n_eval"))
    val ev = evBase.crossJoin(broadcast(nEval))
      .withColumn("n_cal",
        expr(s"(n_eval * $ConformalCalPct) div 100"))
    val calib = ev.filter(col("rn") <= col("n_cal"))
      .withColumn("qrank",
        row_number().over(Window.orderBy(col("absresid"), col("day"))))
    val q = calib
      .withColumn("k",
        least(expr("(9 * (n_cal + 1) + 9) div 10"), col("n_cal")))
      .filter(col("qrank") === col("k"))
      .select(col("absresid").as("q_cents"))
    val test = ev.filter(col("rn") > col("n_cal"))
    test.crossJoin(broadcast(q))
      .agg(max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        max(col("q_cents")).as("q_cents"),
        sum(when(col("absresid") <= col("q_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("n_cal"), col("n_test"), col("q_cents"),
        col("n_covered"),
        (col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"),
        lit(0.9).as("target_coverage"))
  }

  /** Week-over-week revenue: weekly sums with the previous week's value,
    * absolute delta, and percent change — the standard BI
    * period-over-period report. Exact integer cents end-to-end; the
    * percent change is the one IEEE division (NULL on a zero or missing
    * baseline rather than an ANSI divide error). The lag window runs
    * over the WEEK-level aggregate (domain-sized).
    */
  def weekOverWeek(ord: DataFrame): DataFrame = {
    val weekly = ord
      .groupBy(date_trunc("week", col("o_orderdate")).cast("date").as("week"))
      .agg(sum(cents("o_totalprice")).as("rev_cents"))
    val byWeek = Window.orderBy("week")
    weekly
      .withColumn("prev_cents", lag("rev_cents", 1).over(byWeek))
      .select(
        col("week").cast("string").as("week"),
        col("rev_cents"), col("prev_cents"),
        (col("rev_cents") - col("prev_cents")).as("delta_cents"),
        when(col("prev_cents") > 0,
          (col("rev_cents") - col("prev_cents")).cast("double") /
            col("prev_cents")).as("pct_change"))
  }

  /** Discrete-time survival (churn) table over customer tenure — the
    * Kaplan–Meier life-table shape every retention team computes. Each
    * customer contributes one observation: tenure = weeks between first
    * and last order; the customer has CHURNED (event) if their last
    * order is more than `churnDays` before the corpus cutoff (the max
    * order date), otherwise they are CENSORED at their current tenure.
    * Per tenure week: the at-risk count (customers whose tenure reached
    * that week), churn events, censored exits, and the discrete hazard
    * `n_churn / n_risk`.
    *
    * The survival curve S(t) = Π(1 − hazard) is a running product of
    * doubles, whose value depends on multiplication order — so this
    * emits the per-week hazard (exact integers + ONE division, the
    * Gold determinism rule) and leaves the product to the caller.
    *
    * Scale shape: one customer-keyed aggregate over orders (the only
    * fact-table shuffle), a 1-row cutoff broadcast, then a tenure-week
    * domain table (calendar-bounded, metadata-sized) where the at-risk
    * ladder is a single cumulative window — the same aggregated-domain
    * argument as [[dailyAnomalies]].
    */
  def survivalChurn(ord: DataFrame, churnDays: Int = 365): DataFrame = {
    val per = ord.groupBy(col("o_custkey")).agg(
      min(to_date(col("o_orderdate"))).as("first_d"),
      max(to_date(col("o_orderdate"))).as("last_d"))
    val cutoff = per.agg(max("last_d").as("cutoff"))
    val labeled = per.crossJoin(broadcast(cutoff))
      .select(
        floor(datediff(col("last_d"), col("first_d")) / 7).cast("long")
          .as("tenure_week"),
        (datediff(col("cutoff"), col("last_d")) > churnDays).as("churned"))
    val byWeek = labeled.groupBy("tenure_week").agg(
      sum(when(col("churned"), 1L).otherwise(0L)).as("n_churn"),
      sum(when(col("churned"), 0L).otherwise(1L)).as("n_censor"))
    val total = labeled.agg(count(lit(1)).as("n_total"))
    val ladder = Window.orderBy("tenure_week")
      .rowsBetween(Window.unboundedPreceding, -1)
    byWeek.crossJoin(broadcast(total))
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("n_churn") + col("n_censor")).over(ladder), lit(0L)))
      .select(col("tenure_week"), col("n_risk"), col("n_churn"),
        col("n_censor"),
        (col("n_churn").cast("double") / col("n_risk")).as("hazard"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "survival_churn" -> ((s, d) => survivalChurn(Tables.orders(s, d))),
    "ts_week_over_week" -> ((s, d) => weekOverWeek(Tables.orders(s, d))),
    "ts_anomalies" -> ((s, d) => dailyAnomalies(Tables.orders(s, d))),
    "funnel_latency" -> ((s, d) => timeToConvert(Tables.events(s, d))),
    "session_paths" -> ((s, d) => sessionPaths(Tables.events(s, d))),
    "pit_join_orders" -> ((s, d) =>
      pointInTimeJoin(ordersOnEventTimeline(Tables.orders(s, d)),
        Tables.events(s, d))),
    "interval_concurrency" -> ((s, d) =>
      sessionConcurrency(Tables.events(s, d))),
    "event_transitions" -> ((s, d) => transitionMatrix(Tables.events(s, d))),
    "ts_markov_steady" -> ((s, d) => markovSteadyState(Tables.events(s, d))),
    "cohort_retention" -> ((s, d) => cohortRetention(Tables.events(s, d))),
    "cohort_triangle" -> ((s, d) =>
      retentionTriangle(Tables.events(s, d))),
    "cohort_ltv" -> ((s, d) => cohortLtv(Tables.orders(s, d))),
    "twap_user_value" -> ((s, d) => twapUserValue(Tables.events(s, d))),
    "ts_cusum" -> ((s, d) => cusumDailyRevenue(Tables.orders(s, d))),
    "ts_holt" -> ((s, d) => holtDailyRevenue(Tables.orders(s, d))),
    "ts_holt_winters" -> ((s, d) =>
      holtWintersDailyRevenue(Tables.orders(s, d))),
    "ts_seasonal_naive" -> ((s, d) =>
      seasonalNaiveBacktest(Tables.orders(s, d))),
    "ts_conformal" -> ((s, d) =>
      conformalBacktest(Tables.orders(s, d))),
    "ts_forecast_backtest" -> ((s, d) =>
      forecastBacktest(Tables.orders(s, d))),
    "ts_decompose" -> ((s, d) => decomposeDaily(Tables.orders(s, d))),
    "ts_seasonal_anomalies" -> ((s, d) =>
      seasonalAnomalies(Tables.orders(s, d))),
    "ts_ffill" -> ((s, d) => forwardFillDaily(Tables.events(s, d))),
    "ts_interp_fill" -> ((s, d) => interpolateDaily(Tables.events(s, d))),
    "ts_active_users" -> ((s, d) => activeUsers(Tables.events(s, d))),
    "ts_user_streaks" -> ((s, d) => userStreaks(Tables.events(s, d))),
    "ts_new_returning" -> ((s, d) => newVsReturning(Tables.events(s, d))),
    "ts_threshold_episodes" -> ((s, d) =>
      thresholdEpisodes(Tables.orders(s, d))),
    "ts_robust_anomalies" -> ((s, d) =>
      robustAnomalies(Tables.orders(s, d))),
    "ts_rolling_median" -> ((s, d) =>
      rollingMedianDailyRevenue(Tables.orders(s, d))),
    "feature_lags" -> ((s, d) => lagFeatures(Tables.orders(s, d))),
    "ts_seasonality" -> ((s, d) => dowSeasonality(Tables.orders(s, d))),
    "funnel_conversion" -> ((s, d) => funnel(Tables.events(s, d))),
    "funnel_window" -> ((s, d) =>
      funnel(Tables.events(s, d), window = Some("1 day"))),
    "ts_gap_fill" -> ((s, d) => gapFillDailySales(Tables.orders(s, d))),
    "window_rolling_range" -> ((s, d) =>
      rollingCustomerSpend(Tables.orders(s, d))),
    "scd2_user_phases" -> ((s, d) => scd2UserPhases(Tables.events(s, d))),
  )

  /** DuckDB twins. */
  /** Holt-Winters twin: linear recursive CTE whose state row carries
    * the 7-slot seasonal register (sv1 = s_{t−6} … sv7 = s_t), shifted
    * one slot per step — slot sv1 is the `s_{t−7}` the step consumes.
    * The anchor aggregates the seed week (i ≤ 7): level = Σy/7.0 then
    * per-slot subtraction, in exactly the Scala fold's operation order.
    */
  /** The shared row-numbered daily-revenue CTE of the forecasting twins
    * — the SQL mirror of [[collectDaily]].
    */
  private def duckDailyCte: String =
    """dd AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY day) AS i, day, y_cents
      |  FROM (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |                    AS BIGINT) AS y_cents
      |        FROM orders GROUP BY 1))""".stripMargin

  /** The Holt recurrence as a named recursive state CTE over `dd` —
    * the new level is recomputed inline in the trend update (the
    * identical expression tree yields the identical double, and a
    * recursive term cannot reference its own select list).
    */
  private def duckHoltStateCte(name: String): String = {
    val a = HoltAlpha
    val oma = 1.0 - HoltAlpha
    val b = HoltBeta
    val omb = 1.0 - HoltBeta
    val newLevel =
      s"$a * CAST(d.y_cents AS DOUBLE) + $oma * ($name.level + $name.trend)"
    s"""$name AS (
       |  SELECT i, day, y_cents,
       |         CAST(y_cents AS DOUBLE) AS forecast,
       |         CAST(y_cents AS DOUBLE) AS level,
       |         CAST(0.0 AS DOUBLE) AS trend
       |  FROM dd WHERE i = 1
       |  UNION ALL
       |  SELECT d.i, d.day, d.y_cents,
       |         $name.level + $name.trend AS forecast,
       |         $newLevel AS level,
       |         $b * (($newLevel) - $name.level) + $omb * $name.trend
       |           AS trend
       |  FROM $name JOIN dd d ON d.i = $name.i + 1)""".stripMargin
  }

  /** The Holt-Winters recurrence as a named recursive state CTE over
    * `dd`, carrying the 7-slot seasonal register (sv1 = s_{t−6} … sv7 =
    * s_t), shifted one slot per step — slot sv1 is the `s_{t−7}` the
    * step consumes. The anchor aggregates the seed week (i ≤ 7): level
    * = Σy/7.0 then per-slot subtraction, in exactly the Scala fold's
    * operation order.
    */
  private def duckHwStateCte(name: String): String = {
    val a = HwAlpha
    val oma = 1.0 - HwAlpha
    val b = HwBeta
    val omb = 1.0 - HwBeta
    val g = HwGamma
    val omg = 1.0 - HwGamma
    // the new level, inlined wherever the step references l'
    val nl = s"$a * (CAST(d.y_cents AS DOUBLE) - $name.sv1) + " +
      s"$oma * ($name.level + $name.trend)"
    val seedSlots = (1 to HwPeriod).map { k =>
      s"""         max(CASE WHEN i = $k THEN CAST(y_cents AS DOUBLE) END)
         |           - CAST(sum(y_cents) AS DOUBLE) / 7.0 AS sv$k""".stripMargin
    }.mkString(",\n")
    s"""$name AS (
       |  SELECT $HwPeriod AS i,
       |         CAST(NULL AS VARCHAR) AS day,
       |         CAST(NULL AS BIGINT) AS y_cents,
       |         CAST(NULL AS DOUBLE) AS forecast,
       |         CAST(sum(y_cents) AS DOUBLE) / 7.0 AS level,
       |         CAST(0.0 AS DOUBLE) AS trend,
       |$seedSlots
       |  FROM dd WHERE i <= $HwPeriod
       |  UNION ALL
       |  SELECT d.i, d.day, d.y_cents,
       |         $name.level + $name.trend + $name.sv1 AS forecast,
       |         $nl AS level,
       |         $b * (($nl) - $name.level) + $omb * $name.trend AS trend,
       |         $name.sv2, $name.sv3, $name.sv4, $name.sv5, $name.sv6,
       |         $name.sv7,
       |         $g * (CAST(d.y_cents AS DOUBLE) - ($nl)) + $omg * $name.sv1
       |  FROM $name JOIN dd d ON d.i = $name.i + 1)""".stripMargin
  }

  private def duckHoltWintersSql: String =
    s"""WITH RECURSIVE $duckDailyCte,
       |${duckHwStateCte("h")}
       |SELECT day, y_cents, forecast, level, trend, sv7 AS seasonal
       |FROM h WHERE i > $HwPeriod""".stripMargin

  /** Backtest-rollup twin: both recursive state CTEs plus the integer
    * lag baselines over the same `dd`, each scored with the identical
    * `floor(abs(y − f)·1000)` millicent arithmetic.
    */
  private def duckForecastBacktestSql: String = {
    def milli(yExpr: String, fExpr: String) =
      s"CAST(sum(CAST(floor(abs(CAST($yExpr AS DOUBLE) - $fExpr) " +
        s"* 1000.0) AS BIGINT)) AS BIGINT)"
    s"""WITH RECURSIVE $duckDailyCte,
       |${duckHoltStateCte("hh")},
       |${duckHwStateCte("hw")},
       |eh AS (SELECT count(*) AS n, ${milli("y_cents", "forecast")} AS err
       |       FROM hh WHERE i > $HwPeriod),
       |ew AS (SELECT count(*) AS n, ${milli("y_cents", "forecast")} AS err
       |       FROM hw WHERE i > $HwPeriod),
       |e1 AS (SELECT count(*) AS n,
       |              ${milli("a.y_cents", "CAST(b.y_cents AS DOUBLE)")}
       |                AS err
       |       FROM dd a JOIN dd b ON a.i = b.i + 1
       |       WHERE a.i > $HwPeriod),
       |es AS (SELECT count(*) AS n,
       |              ${milli("a.y_cents", "CAST(b.y_cents AS DOUBLE)")}
       |                AS err
       |       FROM dd a JOIN dd b ON a.i = b.i + $HwPeriod),
       |u AS (
       |  SELECT 'holt' AS method, n, err FROM eh
       |  UNION ALL SELECT 'holt_winters', n, err FROM ew
       |  UNION ALL SELECT 'naive1', n, err FROM e1
       |  UNION ALL SELECT 'seasonal_naive', n, err FROM es)
       |SELECT method, CAST(n AS BIGINT) AS n_days, err AS abs_err_milli,
       |       CAST(err AS DOUBLE) / CAST(CAST(n AS BIGINT) AS DOUBLE)
       |         AS mae_milli,
       |       (row_number() OVER (ORDER BY err, method) = 1) AS is_best
       |FROM u""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "survival_churn" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |         min(CAST(o_orderdate AS DATE)) AS first_d,
        |         max(CAST(o_orderdate AS DATE)) AS last_d
        |  FROM orders GROUP BY 1),
        |cut AS (SELECT max(last_d) AS cutoff FROM per),
        |lab AS (
        |  SELECT CAST(datediff('day', first_d, last_d) // 7 AS BIGINT)
        |           AS tenure_week,
        |         datediff('day', last_d, cutoff) > 365 AS churned
        |  FROM per, cut),
        |wk AS (
        |  SELECT tenure_week,
        |         CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_churn,
        |         CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
        |           AS n_censor
        |  FROM lab GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM lab)
        |SELECT tenure_week,
        |       n_total - coalesce(CAST(sum(n_churn + n_censor) OVER (
        |         ORDER BY tenure_week
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |         AS BIGINT), 0) AS n_risk,
        |       n_churn, n_censor,
        |       CAST(n_churn AS DOUBLE) /
        |         (n_total - coalesce(CAST(sum(n_churn + n_censor) OVER (
        |            ORDER BY tenure_week
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |            AS BIGINT), 0)) AS hazard
        |FROM wk, tot""".stripMargin,
    "ts_week_over_week" ->
      """WITH w AS (
        |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1)
        |SELECT CAST(week AS VARCHAR) AS week, rev_cents,
        |       lag(rev_cents) OVER (ORDER BY week) AS prev_cents,
        |       rev_cents - lag(rev_cents) OVER (ORDER BY week)
        |         AS delta_cents,
        |       CASE WHEN lag(rev_cents) OVER (ORDER BY week) > 0
        |            THEN CAST(rev_cents - lag(rev_cents) OVER (ORDER BY week)
        |                      AS DOUBLE) /
        |                 lag(rev_cents) OVER (ORDER BY week)
        |       END AS pct_change
        |FROM w""".stripMargin,
    "ts_anomalies" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS day_cents
        |  FROM orders GROUP BY 1),
        |d2 AS (
        |  SELECT *, date_diff('day', DATE '1970-01-01', day) AS day_num,
        |         day_cents // 100 AS day_usd
        |  FROM daily),
        |r AS (
        |  SELECT day, day_cents, day_usd,
        |         count(*) OVER w AS n_base,
        |         CAST(sum(day_usd) OVER w AS BIGINT) AS s_base,
        |         CAST(sum(day_usd * day_usd) OVER w AS BIGINT) AS ss_base
        |  FROM d2
        |  WINDOW w AS (ORDER BY day_num
        |               RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT day, day_cents, n_base,
        |         CASE WHEN n_base >= 8 AND
        |                   sqrt(CAST(ss_base AS DOUBLE) / n_base -
        |                        (CAST(s_base AS DOUBLE) / n_base) *
        |                        (CAST(s_base AS DOUBLE) / n_base)) > 0
        |              THEN (CAST(day_usd AS DOUBLE) -
        |                    CAST(s_base AS DOUBLE) / n_base) /
        |                   sqrt(CAST(ss_base AS DOUBLE) / n_base -
        |                        (CAST(s_base AS DOUBLE) / n_base) *
        |                        (CAST(s_base AS DOUBLE) / n_base))
        |         END AS z
        |  FROM r)
        |SELECT strftime(day, '%Y-%m-%d') AS day, day_cents, n_base, z,
        |       COALESCE(z > 3 OR z < -3, FALSE) AS is_anomaly
        |FROM z""".stripMargin,
    "funnel_latency" ->
      """WITH f AS (
        |  SELECT user_id, min(epoch_us(ts)) AS from_us
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |t AS (
        |  SELECT user_id, epoch_us(ts) AS to_us
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT f.user_id, f.from_us, min(t.to_us) AS first_to_us
        |  FROM f JOIN t ON f.user_id = t.user_id AND t.to_us >= f.from_us
        |  GROUP BY 1, 2),
        |d AS (SELECT (first_to_us - from_us) // 1000000 AS delta_secs
        |      FROM conv)
        |SELECT count(*) AS n_converted,
        |       CAST(round(quantile_cont(delta_secs, 0.5) * 1000) AS BIGINT)
        |         AS median_secs_e3,
        |       CAST(round(quantile_cont(delta_secs, 0.9) * 1000) AS BIGINT)
        |         AS p90_secs_e3,
        |       CAST(max(delta_secs) AS BIGINT) AS max_secs
        |FROM d""".stripMargin,
    "session_paths" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN epoch_us(ts) -
        |                   epoch_us(lag(ts) OVER (PARTITION BY user_id
        |                                          ORDER BY ts))
        |                   > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |paths AS (
        |  SELECT user_id, session_id,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM sess GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions
        |FROM paths GROUP BY 1
        |ORDER BY n_sessions DESC, path
        |LIMIT 20""".stripMargin,
    // the oracle is the NAIVE interval join against the same SCD2
    // phases; the union-window implementation must agree exactly
    "pit_join_orders" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id, value NULLS FIRST,
        |                    props NULLS FIRST) AS rn,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id, value NULLS FIRST,
        |                    props NULLS FIRST) AS rn2
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_type, rn - rn2 AS grp,
        |         min(ts) AS valid_from_ts, min(rn) AS first_rn
        |  FROM e GROUP BY 1, 2, 3),
        |v AS (
        |  SELECT user_id, event_type, valid_from_ts,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY first_rn) AS version,
        |         lead(valid_from_ts) OVER (PARTITION BY user_id
        |                                   ORDER BY first_rn) AS valid_to_ts
        |  FROM runs),
        |o AS (
        |  SELECT o_orderkey, o_custkey % 150 AS o_custkey,
        |         make_timestamp(1704067200000000 +
        |           (o_orderkey * 1009) % 2592000000000) AS o_orderdate
        |  FROM orders)
        |SELECT o.o_orderkey, o.o_custkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
        |       v.event_type AS phase,
        |       CAST(v.version AS BIGINT) AS phase_version
        |FROM o LEFT JOIN v
        |  ON o.o_custkey = v.user_id
        | AND o.o_orderdate >= v.valid_from_ts
        | AND (v.valid_to_ts IS NULL OR o.o_orderdate < v.valid_to_ts)""".stripMargin,
    // the oracle computes the SAME sweep line with a plain global
    // running sum — the carry decomposition is exact, so they agree
    "interval_concurrency" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |         CASE WHEN epoch_us(ts) -
        |                   epoch_us(lag(ts) OVER (PARTITION BY user_id
        |                                          ORDER BY ts))
        |                   > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sess0 AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |sessions AS (
        |  SELECT user_id, session_id,
        |         min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |  FROM sess0 GROUP BY 1, 2),
        |deltas AS (
        |  SELECT start_us AS ts_us, 1 AS delta FROM sessions
        |  UNION ALL
        |  SELECT end_us AS ts_us, -1 AS delta FROM sessions),
        |run AS (
        |  SELECT strftime(make_timestamp(ts_us), '%Y-%m-%d') AS day,
        |         sum(delta) OVER (ORDER BY ts_us, delta DESC
        |                          ROWS UNBOUNDED PRECEDING) AS run
        |  FROM deltas)
        |SELECT day, CAST(max(run) AS BIGINT) AS peak_concurrency
        |FROM run GROUP BY day""".stripMargin,
    "ts_markov_steady" -> {
      val iters = (1 to MarkovIters).map { k =>
        s"""pi$k AS (
           |  SELECT p.next_type AS ty,
           |         CAST(sum((pi${k - 1}.ppb * p.p_ppm) // 1000000)
           |              AS BIGINT) AS ppb
           |  FROM pi${k - 1} JOIN p ON pi${k - 1}.ty = p.prev_type
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH steps AS (
         |  SELECT user_id, event_type,
         |         lag(event_type) OVER (PARTITION BY user_id
         |                               ORDER BY event_id) AS prev_type
         |  FROM events),
         |c AS (SELECT prev_type, event_type, count(*) AS c
         |      FROM steps WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT prev_type, CAST(sum(c) AS BIGINT) AS r
         |      FROM c GROUP BY 1),
         |p AS (
         |  SELECT c.prev_type, c.event_type AS next_type,
         |         CAST((c.c * 1000000) // t.r AS BIGINT) AS p_ppm
         |  FROM c JOIN t USING (prev_type)),
         |g AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM t),
         |pi0 AS (
         |  SELECT prev_type AS ty,
         |         CAST((r * 1000000000) // g.g AS BIGINT) AS ppb
         |  FROM t CROSS JOIN g),
         |$iters
         |SELECT pi$MarkovIters.ty AS event_type,
         |       pi$MarkovIters.ppb AS steady_ppb,
         |       CAST(pi$MarkovIters.ppb AS DOUBLE) / 1000000000.0
         |         AS steady_share,
         |       CAST(t.r AS DOUBLE) / CAST(g.g AS DOUBLE) AS from_share
         |FROM pi$MarkovIters JOIN t ON pi$MarkovIters.ty = t.prev_type
         |CROSS JOIN g""".stripMargin
    },
    "event_transitions" ->
      """WITH steps AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY event_id) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type, count(*) AS n_transitions
        |      FROM steps WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n_transitions) AS BIGINT) AS n_from
        |      FROM c GROUP BY 1)
        |SELECT c.prev_type, c.event_type, c.n_transitions,
        |       CAST(c.n_transitions AS DOUBLE) / t.n_from AS p_transition
        |FROM c JOIN t USING (prev_type)""".stripMargin,
    "ts_interp_fill" ->
      """WITH r AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(round(value * 100) AS BIGINT) AS v,
        |         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |daily AS (SELECT user_id, day, v AS v_obs FROM r WHERE rn = 1),
        |cal AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(min(day), max(day),
        |                                     INTERVAL 1 DAY)) AS DATE)
        |           AS day
        |  FROM daily GROUP BY user_id),
        |j AS (
        |  SELECT cal.user_id, cal.day, daily.v_obs
        |  FROM cal LEFT JOIN daily
        |    ON cal.user_id = daily.user_id AND cal.day = daily.day),
        |br AS (
        |  SELECT user_id, day, v_obs,
        |         last_value(CASE WHEN v_obs IS NOT NULL THEN day END
        |           IGNORE NULLS) OVER wb AS pd,
        |         last_value(v_obs IGNORE NULLS) OVER wb AS pv,
        |         first_value(CASE WHEN v_obs IS NOT NULL THEN day END
        |           IGNORE NULLS) OVER wf AS nd,
        |         first_value(v_obs IGNORE NULLS) OVER wf AS nv
        |  FROM j
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY day
        |                ROWS UNBOUNDED PRECEDING),
        |         wf AS (PARTITION BY user_id ORDER BY day
        |                ROWS BETWEEN CURRENT ROW AND
        |                             UNBOUNDED FOLLOWING))
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       CASE WHEN v_obs IS NOT NULL THEN CAST(v_obs AS DOUBLE)
        |            ELSE CAST(pv AS DOUBLE) +
        |                 CAST(nv - pv AS DOUBLE) *
        |                 (CAST(datediff('day', pd, day) AS DOUBLE) /
        |                  CAST(datediff('day', pd, nd) AS DOUBLE))
        |       END AS v_interp,
        |       v_obs IS NOT NULL AS is_observed
        |FROM br""".stripMargin,
    "ts_ffill" ->
      """WITH r AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(round(value * 100) AS BIGINT) AS v,
        |         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |           ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |daily AS (SELECT user_id, day, v AS v_obs FROM r WHERE rn = 1),
        |cal AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(min(day), max(day),
        |                                     INTERVAL 1 DAY)) AS DATE)
        |           AS day
        |  FROM daily GROUP BY user_id),
        |j AS (
        |  SELECT cal.user_id, cal.day, daily.v_obs
        |  FROM cal LEFT JOIN daily
        |    ON cal.user_id = daily.user_id AND cal.day = daily.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       last_value(v_obs IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY day
        |         ROWS UNBOUNDED PRECEDING) AS v_cents_filled,
        |       v_obs IS NOT NULL AS is_observed
        |FROM j""".stripMargin,
    "feature_lags" ->
      """WITH d AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1)
        |SELECT day, rev_cents,
        |       lag(rev_cents, 1) OVER wo AS lag1_cents,
        |       lag(rev_cents, 7) OVER wo AS lag7_cents,
        |       CAST(sum(rev_cents) OVER w7 AS DOUBLE)
        |         / CAST(count(*) OVER w7 AS DOUBLE) AS ma7_cents,
        |       CAST((datediff('day', DATE '1970-01-01',
        |                      CAST(day AS DATE)) + 3) % 7 AS BIGINT)
        |         AS dow
        |FROM d
        |WINDOW wo AS (ORDER BY day),
        |       w7 AS (ORDER BY day
        |              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "ts_rolling_median" ->
      """WITH d AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT day, rev_cents,
        |         list_sort(list(rev_cents) OVER (ORDER BY day
        |           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS vals
        |  FROM d)
        |SELECT day, rev_cents, CAST(len(vals) AS BIGINT) AS w,
        |       CASE WHEN len(vals) % 2 = 1
        |            THEN CAST(vals[(len(vals) + 1) // 2] AS DOUBLE)
        |            ELSE CAST(vals[len(vals) // 2]
        |                    + vals[len(vals) // 2 + 1] AS DOUBLE) / 2.0
        |       END AS median_cents
        |FROM r""".stripMargin,
    "ts_robust_anomalies" ->
      """WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |m AS (SELECT quantile_cont(rev_cents * 2, 0.5) AS med2 FROM daily),
        |d AS (
        |  SELECT daily.*, m.med2,
        |         abs(CAST(rev_cents AS DOUBLE) * 2 - m.med2) AS adev2
        |  FROM daily, m),
        |md AS (SELECT quantile_cont(adev2, 0.5) AS mad2 FROM d),
        |z AS (
        |  SELECT d.day, d.rev_cents, d.med2, md.mad2,
        |         CASE WHEN md.mad2 > 0.0
        |              THEN CAST(0.6745 AS DOUBLE) *
        |                   (CAST(d.rev_cents AS DOUBLE) * 2 - d.med2) /
        |                   md.mad2 END AS robust_z
        |  FROM d, md)
        |SELECT day, rev_cents,
        |       med2 / CAST(2.0 AS DOUBLE) AS median_cents,
        |       mad2 / CAST(2.0 AS DOUBLE) AS mad_cents,
        |       robust_z,
        |       coalesce(abs(robust_z) > CAST(3.5 AS DOUBLE), false)
        |         AS is_anomaly
        |FROM z""".stripMargin,
    "ts_threshold_episodes" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n_days, CAST(sum(rev_cents) AS BIGINT)
        |        AS total_cents FROM daily),
        |a AS (
        |  SELECT day, rev_cents FROM daily, t
        |  WHERE rev_cents * t.n_days > t.total_cents),
        |g AS (
        |  SELECT day, rev_cents,
        |         day - CAST(row_number() OVER (ORDER BY day) AS INT)
        |           AS grp
        |  FROM a)
        |SELECT strftime(min(day), '%Y-%m-%d') AS start_day,
        |       strftime(max(day), '%Y-%m-%d') AS end_day,
        |       count(*) AS n_days_above,
        |       CAST(sum(rev_cents) AS BIGINT) AS episode_cents
        |FROM g GROUP BY grp""".stripMargin,
    "ts_new_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
        |SELECT strftime(ud.day, '%Y-%m-%d') AS day,
        |       count(*) AS n_active,
        |       CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_new,
        |       count(*) - CAST(sum(CASE WHEN ud.day = f.first_day
        |                                THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_returning,
        |       CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
        |            AS DOUBLE) / count(*) AS new_share
        |FROM ud JOIN f USING (user_id)
        |GROUP BY ud.day""".stripMargin,
    "ts_user_streaks" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (
        |  SELECT user_id, day,
        |         date_diff('day', DATE '1970-01-01', day) -
        |           row_number() OVER (PARTITION BY user_id ORDER BY day)
        |           AS grp
        |  FROM d),
        |s AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |       count(*) AS n_streaks, CAST(max(len) AS BIGINT)
        |         AS longest_streak
        |FROM s GROUP BY 1""".stripMargin,
    "ts_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |cov AS (
        |  SELECT DISTINCT user_id, day FROM (
        |    SELECT user_id,
        |           CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
        |                                       INTERVAL 1 DAY)) AS DATE)
        |             AS day
        |    FROM ud)),
        |wau AS (SELECT day, count(*) AS wau FROM cov GROUP BY 1)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
        |       CAST(d.dau AS DOUBLE) / w.wau AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day""".stripMargin,
    "ts_conformal" ->
      s"""WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |cal AS (
        |  SELECT CAST(unnest(generate_series(min(day), max(day),
        |                                     INTERVAL 1 DAY)) AS DATE)
        |           AS day
        |  FROM daily),
        |filled AS (
        |  SELECT cal.day, coalesce(d.rev_cents, 0) AS rev_cents
        |  FROM cal LEFT JOIN daily d USING (day)),
        |l AS (
        |  SELECT day, rev_cents,
        |         lag(rev_cents, 7) OVER (ORDER BY day) AS f7
        |  FROM filled),
        |evb AS (
        |  SELECT day, abs(rev_cents - f7) AS absresid,
        |         row_number() OVER (ORDER BY day) AS rn
        |  FROM l WHERE f7 IS NOT NULL),
        |ne AS (SELECT count(*) AS n_eval FROM evb),
        |ev AS (
        |  SELECT evb.*, (n_eval * $ConformalCalPct) // 100 AS n_cal
        |  FROM evb, ne),
        |calib AS (
        |  SELECT *, row_number() OVER (ORDER BY absresid, day) AS qrank
        |  FROM ev WHERE rn <= n_cal),
        |q AS (
        |  SELECT absresid AS q_cents FROM calib
        |  WHERE qrank = least((9 * (n_cal + 1) + 9) // 10, n_cal)),
        |t AS (SELECT * FROM ev WHERE rn > n_cal)
        |SELECT CAST(max(n_cal) AS BIGINT) AS n_cal,
        |       count(*) AS n_test,
        |       CAST(max(q_cents) AS BIGINT) AS q_cents,
        |       CAST(sum(CASE WHEN absresid <= q_cents THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_covered,
        |       CAST(sum(CASE WHEN absresid <= q_cents THEN 1 ELSE 0 END)
        |            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage,
        |       0.9 AS target_coverage
        |FROM t, q""".stripMargin,
    "ts_seasonal_naive" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |cal AS (
        |  SELECT CAST(unnest(generate_series(min(day), max(day),
        |                                     INTERVAL 1 DAY)) AS DATE)
        |           AS day
        |  FROM daily),
        |filled AS (
        |  SELECT cal.day, coalesce(d.rev_cents, 0) AS rev_cents
        |  FROM cal LEFT JOIN daily d USING (day)),
        |l AS (
        |  SELECT rev_cents,
        |         lag(rev_cents, 7) OVER (ORDER BY day) AS f7,
        |         lag(rev_cents, 1) OVER (ORDER BY day) AS f1
        |  FROM filled),
        |e AS (SELECT * FROM l WHERE f7 IS NOT NULL AND f1 IS NOT NULL)
        |SELECT count(*) AS n_days,
        |       CAST(sum(abs(rev_cents - f7)) AS BIGINT)
        |         AS abs_err7_cents,
        |       CAST(sum(abs(rev_cents - f1)) AS BIGINT)
        |         AS abs_err1_cents,
        |       CAST(CAST(sum(abs(rev_cents - f7)) AS BIGINT) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS mae7_cents,
        |       CAST(CAST(sum(abs(rev_cents - f1)) AS BIGINT) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS mae1_cents,
        |       CAST(sum(abs(rev_cents - f7)) AS BIGINT) <
        |         CAST(sum(abs(rev_cents - f1)) AS BIGINT)
        |         AS seasonal_wins
        |FROM e""".stripMargin,
    // the Holt recurrence replayed as a linear recursive CTE over the
    // row-numbered day table; the new level is recomputed inline in the
    // trend update (the identical expression tree yields the identical
    // double, and a recursive term cannot reference its own select list)
    "ts_holt_winters" -> duckHoltWintersSql,
    "ts_holt" ->
      s"""WITH RECURSIVE $duckDailyCte,
         |${duckHoltStateCte("h")}
         |SELECT day, y_cents, forecast, level, trend FROM h""".stripMargin,
    "ts_forecast_backtest" -> duckForecastBacktestSql,
    "ts_cusum" ->
      """WITH daily AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n_days, CAST(sum(rev_cents) AS BIGINT)
        |        AS total_cents FROM daily),
        |c AS (
        |  SELECT day, rev_cents,
        |         CAST(sum(rev_cents) OVER (ORDER BY day
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        |         CAST(count(*) OVER (ORDER BY day
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tt
        |  FROM daily)
        |SELECT c.day, c.rev_cents,
        |       c.cum_cents * t.n_days - c.tt * t.total_cents
        |         AS cusum_scaled,
        |       CAST(c.cum_cents * t.n_days - c.tt * t.total_cents
        |            AS DOUBLE) / (t.n_days * t.total_cents) AS cusum_norm
        |FROM c, t""".stripMargin,
    "ts_decompose" ->
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |              AS BIGINT) AS y_cents
         |  FROM orders GROUP BY 1),
         |w AS (
         |  SELECT day, y_cents,
         |         CAST(sum(y_cents) OVER tw AS BIGINT) AS t_sum,
         |         CAST(count(*) OVER tw AS BIGINT) AS t_n,
         |         CAST(isodow(day) AS BIGINT) AS dw
         |  FROM daily
         |  WINDOW tw AS (ORDER BY day
         |                ROWS BETWEEN $DecomposeTrendHalfWindow PRECEDING
         |                         AND $DecomposeTrendHalfWindow FOLLOWING)),
         |tot AS (SELECT count(*) AS n_all,
         |               CAST(sum(y_cents) AS BIGINT) AS s_all FROM daily),
         |dws AS (
         |  SELECT CAST(isodow(day) AS BIGINT) AS dw, count(*) AS n_dow,
         |         CAST(sum(y_cents) AS BIGINT) AS s_dow
         |  FROM daily GROUP BY 1)
         |SELECT strftime(w.day, '%Y-%m-%d') AS day, w.y_cents,
         |       CAST(w.t_sum AS DOUBLE) / w.t_n AS trend,
         |       CAST(d.s_dow AS DOUBLE) / d.n_dow -
         |         CAST(t.s_all AS DOUBLE) / t.n_all AS seasonal,
         |       CAST(w.y_cents AS DOUBLE) -
         |         CAST(w.t_sum AS DOUBLE) / w.t_n -
         |         (CAST(d.s_dow AS DOUBLE) / d.n_dow -
         |          CAST(t.s_all AS DOUBLE) / t.n_all) AS remainder
         |FROM w JOIN dws d ON w.dw = d.dw, tot t""".stripMargin,
    "ts_seasonal_anomalies" ->
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS day,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |              AS BIGINT) AS y_cents
         |  FROM orders GROUP BY 1),
         |w AS (
         |  SELECT day, y_cents,
         |         CAST(sum(y_cents) OVER tw AS BIGINT) AS t_sum,
         |         CAST(count(*) OVER tw AS BIGINT) AS t_n,
         |         CAST(isodow(day) AS BIGINT) AS dw
         |  FROM daily
         |  WINDOW tw AS (ORDER BY day
         |                ROWS BETWEEN $DecomposeTrendHalfWindow PRECEDING
         |                         AND $DecomposeTrendHalfWindow FOLLOWING)),
         |tot AS (SELECT count(*) AS n_all,
         |               CAST(sum(y_cents) AS BIGINT) AS s_all FROM daily),
         |dws AS (
         |  SELECT CAST(isodow(day) AS BIGINT) AS dw, count(*) AS n_dow,
         |         CAST(sum(y_cents) AS BIGINT) AS s_dow
         |  FROM daily GROUP BY 1),
         |dc AS (
         |  SELECT strftime(w.day, '%Y-%m-%d') AS day, w.y_cents,
         |         CAST(floor((CAST(w.y_cents AS DOUBLE) -
         |              CAST(w.t_sum AS DOUBLE) / w.t_n -
         |              (CAST(d.s_dow AS DOUBLE) / d.n_dow -
         |               CAST(t.s_all AS DOUBLE) / t.n_all)) *
         |              CAST(1000.0 AS DOUBLE)) AS BIGINT) AS rem_milli
         |  FROM w JOIN dws d ON w.dw = d.dw, tot t),
         |m AS (SELECT quantile_cont(rem_milli * 2, 0.5) AS med2 FROM dc),
         |dv AS (
         |  SELECT dc.*, m.med2,
         |         abs(CAST(rem_milli AS DOUBLE) * 2 - m.med2) AS adev2
         |  FROM dc, m),
         |md AS (SELECT quantile_cont(adev2, 0.5) AS mad2 FROM dv),
         |z AS (
         |  SELECT dv.day, dv.y_cents, dv.rem_milli,
         |         CASE WHEN md.mad2 > 0.0
         |              THEN CAST(0.6745 AS DOUBLE) *
         |                   (CAST(dv.rem_milli AS DOUBLE) * 2 - dv.med2) /
         |                   md.mad2 END AS robust_z
         |  FROM dv, md)
         |SELECT day, y_cents, rem_milli, robust_z,
         |       coalesce(abs(robust_z) > CAST(3.5 AS DOUBLE), false)
         |         AS is_anomaly
         |FROM z""".stripMargin,
    "ts_seasonality" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n_total, CAST(sum(rev_cents) AS BIGINT)
        |        AS sum_total FROM daily),
        |d AS (
        |  SELECT CAST(isodow(day) AS BIGINT) AS isodow,
        |         count(*) AS n_days,
        |         CAST(sum(rev_cents) AS BIGINT) AS sum_cents
        |  FROM daily GROUP BY 1)
        |SELECT d.isodow, d.n_days, d.sum_cents,
        |       (CAST(d.sum_cents AS DOUBLE) * t.n_total) /
        |       (CAST(d.n_days AS DOUBLE) * t.sum_total) AS seasonal_index
        |FROM d, t""".stripMargin,
    "twap_user_value" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |         CAST(round(value * 100) AS BIGINT) AS v_cents
        |  FROM events),
        |d AS (
        |  SELECT user_id,
        |         lead(t_us) OVER (PARTITION BY user_id
        |                          ORDER BY t_us, event_id) - t_us AS dur_us,
        |         v_cents
        |  FROM e)
        |SELECT user_id, count(*) AS n_intervals,
        |       CAST(sum(dur_us) AS BIGINT) AS dur_total_us,
        |       CAST(sum(v_cents * dur_us) AS DOUBLE) / sum(dur_us)
        |         AS twap_cents
        |FROM d WHERE dur_us IS NOT NULL
        |GROUP BY 1 HAVING sum(dur_us) > 0""".stripMargin,
    "cohort_ltv" ->
      """WITH wk AS (
        |  SELECT o_custkey,
        |         CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS rev_cents
        |  FROM orders),
        |coh AS (SELECT o_custkey, min(week) AS cohort_week
        |        FROM wk GROUP BY 1),
        |sizes AS (SELECT cohort_week, count(*) AS n_customers
        |          FROM coh GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort_week,
        |         CAST(datediff('day', c.cohort_week, w.week) / 7 AS BIGINT)
        |           AS week_offset,
        |         CAST(sum(w.rev_cents) AS BIGINT) AS rev_cents
        |  FROM wk w JOIN coh c USING (o_custkey)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort_week, week_offset, rev_cents,
        |         CAST(sum(rev_cents) OVER (PARTITION BY cohort_week
        |           ORDER BY week_offset ROWS UNBOUNDED PRECEDING)
        |           AS BIGINT) AS cum_rev_cents
        |  FROM cells)
        |SELECT CAST(cu.cohort_week AS VARCHAR) AS cohort_week,
        |       cu.week_offset, cu.rev_cents, cu.cum_rev_cents,
        |       CAST(cu.cum_rev_cents AS DOUBLE) / s.n_customers
        |         AS ltv_cents_per_user
        |FROM cum cu JOIN sizes s USING (cohort_week)""".stripMargin,
    "cohort_triangle" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
        |           AS week
        |  FROM events),
        |cohorts AS (SELECT user_id, min(week) AS cohort_week
        |            FROM weeks GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_week,
        |         CAST((w.week - c.cohort_week) // 7 AS BIGINT)
        |           AS week_offset,
        |         count(DISTINCT w.user_id) AS n_active
        |  FROM weeks w JOIN cohorts c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
        |       CAST(coalesce(sum(CASE WHEN week_offset = 0
        |                               THEN n_active END), 0) AS BIGINT) AS w0,
        |       CAST(coalesce(sum(CASE WHEN week_offset = 1
        |                               THEN n_active END), 0) AS BIGINT) AS w1,
        |       CAST(coalesce(sum(CASE WHEN week_offset = 2
        |                               THEN n_active END), 0) AS BIGINT) AS w2,
        |       CAST(coalesce(sum(CASE WHEN week_offset = 3
        |                               THEN n_active END), 0) AS BIGINT) AS w3,
        |       CAST(coalesce(sum(CASE WHEN week_offset = 4
        |                               THEN n_active END), 0) AS BIGINT) AS w4,
        |       CAST(coalesce(sum(CASE WHEN week_offset = 5
        |                               THEN n_active END), 0) AS BIGINT) AS w5,
        |       CAST(coalesce(sum(CASE WHEN week_offset = 6
        |                               THEN n_active END), 0) AS BIGINT) AS w6,
        |       CAST(coalesce(sum(CASE WHEN week_offset = 7
        |                               THEN n_active END), 0) AS BIGINT) AS w7
        |FROM act WHERE week_offset <= 7
        |GROUP BY cohort_week""".stripMargin,
    "cohort_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
        |           AS week
        |  FROM events),
        |cohorts AS (SELECT user_id, min(week) AS cohort_week
        |            FROM weeks GROUP BY 1),
        |sizes AS (SELECT cohort_week, count(*) AS cohort_size
        |          FROM cohorts GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_week,
        |         CAST((w.week - c.cohort_week) // 7 AS BIGINT)
        |           AS week_offset,
        |         count(DISTINCT w.user_id) AS n_active
        |  FROM weeks w JOIN cohorts c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT CAST(a.cohort_week AS VARCHAR) AS cohort_week, a.week_offset,
        |       a.n_active, CAST(a.n_active AS DOUBLE) / s.cohort_size
        |         AS retention
        |FROM act a JOIN sizes s USING (cohort_week)""".stripMargin,
    "funnel_conversion" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1),
        |c AS (
        |  SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS n_users
        |  FROM s1
        |  UNION ALL SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |SELECT stage_idx, stage, n_users,
        |       CAST(n_users AS DOUBLE)
        |         / (SELECT n_users FROM c WHERE stage_idx = 1)
        |         AS conv_from_first
        |FROM c""".stripMargin,
    "funnel_window" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= s1.t
        |    AND e.ts <= s1.t + INTERVAL 1 DAY GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s2.t
        |    AND e.ts <= s2.t + INTERVAL 1 DAY GROUP BY 1),
        |c AS (
        |  SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS n_users
        |  FROM s1
        |  UNION ALL SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |SELECT stage_idx, stage, n_users,
        |       CAST(n_users AS DOUBLE)
        |         / (SELECT n_users FROM c WHERE stage_idx = 1)
        |         AS conv_from_first
        |FROM c""".stripMargin,
    "ts_gap_fill" ->
      """WITH daily AS (
        |  SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS day,
        |         count(*) AS n_orders,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS sales_cents
        |  FROM orders GROUP BY 1, 2),
        |cal AS (
        |  SELECT o_orderstatus,
        |         CAST(unnest(generate_series(min(day), max(day),
        |                                     INTERVAL 1 DAY)) AS DATE)
        |           AS day
        |  FROM daily GROUP BY o_orderstatus)
        |SELECT cal.o_orderstatus, strftime(cal.day, '%Y-%m-%d') AS day,
        |       coalesce(daily.n_orders, 0) AS n_orders,
        |       coalesce(daily.sales_cents, 0) AS sales_cents
        |FROM cal LEFT JOIN daily
        |  ON cal.o_orderstatus = daily.o_orderstatus
        |  AND cal.day = daily.day""".stripMargin,
    "window_rolling_range" ->
      """SELECT o_orderkey, o_custkey,
        |       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            OVER w AS BIGINT) AS rolling7_cents,
        |       count(*) OVER w AS rolling7_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY CAST(o_orderdate AS DATE)
        |             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
        |                   AND CURRENT ROW)""".stripMargin,
    "scd2_user_phases" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id, value NULLS FIRST,
        |                    props NULLS FIRST) AS rn,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id, value NULLS FIRST,
        |                    props NULLS FIRST) AS rn2
        |  FROM events),
        |runs AS (
        |  SELECT user_id, event_type, rn - rn2 AS grp,
        |         min(ts) AS valid_from_ts, count(*) AS n_events,
        |         min(rn) AS first_rn
        |  FROM e GROUP BY 1, 2, 3),
        |v AS (
        |  SELECT user_id, event_type, n_events, valid_from_ts,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY first_rn) AS version,
        |         lead(valid_from_ts) OVER (PARTITION BY user_id
        |                                   ORDER BY first_rn) AS valid_to_ts
        |  FROM runs)
        |SELECT user_id, version, event_type,
        |       strftime(valid_from_ts, '%Y-%m-%d %H:%M:%S.%f')
        |         AS valid_from,
        |       strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
        |       n_events, (valid_to_ts IS NULL) AS is_current
        |FROM v""".stripMargin,
  )
}
