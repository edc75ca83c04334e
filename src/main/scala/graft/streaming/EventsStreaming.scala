package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Windowed event analytics (SURVEY.md §2.9/§7.4 streaming mandate):
  * tumbling, sliding, and session windows over the `events` table.
  *
  * Every aggregation has a batch form (`*Batch`) registered in the
  * driver contract and hash-compared against a DuckDB oracle. A
  * Structured Streaming form (`*Stream`) exists only where its spec pins
  * what the batch form cannot — state carried across micro-batches and
  * bounded or finalized by the watermark — exercised via MemoryStream in
  * EventsStreamingSpec.
  *
  * == Scale design ==
  * Watermarks bound the streaming forms' state: dedup state holds the ids
  * inside the watermark horizon, join state the events inside the
  * attribution interval, independent of stream length. The batch twins
  * are single hash-shuffle groupBys with map-side partial aggregation;
  * window assignment is a narrow projection. Money sums use the
  * exact-integer-cents contract (see SparkEntry scaladoc).
  */
object EventsStreaming {

  private def centsSum(c: String) = round(sum(col(c)) * 100).cast("long")

  /** Tumbling 1-hour windows per event type. */
  def hourlyBatch(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), centsSum("value").as("value_cents"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("value_cents"))

  /** Sliding 1-hour windows every 30 minutes (each event in 2 windows). */
  def slidingBatch(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), centsSum("value").as("value_cents"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("value_cents"))

  /** 30-minute-gap session windows per user; span = last−first event. */
  def sessionsBatch(ev: DataFrame): DataFrame =
    ev.groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"), centsSum("value").as("value_cents"))
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        // session end = last ts + gap; span excludes the trailing gap
        ((unix_micros(col("w.end")) - unix_micros(col("w.start")) -
          lit(1800L * 1000000)) / lit(1000000L)).cast("long")
          .as("span_secs"),
        col("n_events"), col("value_cents"))

  /** Streaming exact dedup by event_id: duplicates arriving within the
    * watermark horizon are dropped, and state for an id is reclaimed once
    * the watermark passes it — bounded state, unlike a plain streaming
    * `dropDuplicates` whose id set grows forever. The streaming twin of
    * Silver's D2 key-dedup for at-least-once sources.
    */
  def dedupStream(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Click→purchase attribution: every purchase within 30 minutes of a
    * same-user click (batch form — the oracle-checked twin of
    * [[attributionStream]]). Plans as an equi-join on `user_id` with the
    * time range as a post-join filter — the right batch shape when users
    * are numerous and per-user event counts bounded; see
    * `operators.RangeJoin` for the binned variant when a time-only join
    * key would blow up.
    */
  def attributionBatch(ev: DataFrame): DataFrame =
    attributionJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"))

  /** Streaming twin of [[attributionBatch]]: a stream-stream inner join.
    * Both sides are watermarked and the join condition bounds
    * `purchase_ts` to a 30-minute interval after `click_ts`, so each
    * side's state is reclaimed once the other side's watermark passes the
    * interval — bounded state, the requirement for an unbounded two-stream
    * join. Exercised by EventsStreamingSpec (stream == batch, and a
    * purchase arriving in a later micro-batch than its click still joins).
    */
  def attributionStream(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attributionJoin(
      clicks.withWatermark("ts", "10 minutes"),
      purchases.withWatermark("ts", "10 minutes"))

  /** LEFT OUTER attribution: every click appears, converted or not —
    * the funnel-accounting form (an inner join silently drops the
    * non-converting majority, which is the interesting cohort). Batch
    * twin is oracle-checked; the streaming form is the stateful case the
    * inner join doesn't exercise: an unmatched click must be HELD until
    * the purchase-side watermark passes `click_ts + 30min` (only then is
    * "no purchase" final), at which point it emits once with nulls and
    * its state is reclaimed — same bounded-state guarantee, plus a
    * correctness obligation on the watermark, pinned by
    * EventsStreamingSpec (null row appears only after the watermark
    * passes; stream == batch).
    */
  def attributionOuterBatch(ev: DataFrame): DataFrame =
    attributionJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"), "left_outer")

  def attributionOuterStream(clicks: DataFrame,
      purchases: DataFrame): DataFrame =
    attributionJoin(
      clicks.withWatermark("ts", "10 minutes"),
      purchases.withWatermark("ts", "10 minutes"), "left_outer")

  /** Linear multi-touch attribution: each purchase's value is split
    * EVENLY (in exact integer cents) across all clicks in the 30 minutes
    * before it — `value_cents div n` per click, with the remainder cents
    * going to the earliest clicks, so per-purchase attributed sums
    * reconstruct `value_cents` EXACTLY (asserted in spec; a double split
    * would neither sum back nor hash-match across engines).
    *
    * Scale shape: the pair join shuffles both (filtered) event slices on
    * `user_id`; the per-purchase count and rank share one window
    * clustering on `purchase_id`. Zero-click purchases drop out (inner
    * form) — the outer accounting lives in [[attributionOuterBatch]].
    */
  def attributionLinear(ev: DataFrame): DataFrame = {
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        round(coalesce(col("value"), lit(0.0)) * 100).cast("long")
          .as("value_cents"))
    val pairs = c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTE"))
    val byPurchase = Window.partitionBy("purchase_id")
    val ranked = byPurchase.orderBy(col("click_ts"), col("click_id"))
    pairs
      .withColumn("n_clicks", count(lit(1)).over(byPurchase))
      .withColumn("rk", row_number().over(ranked).cast("long"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("rk"), col("n_clicks"),
        expr("value_cents div n_clicks + " +
          "IF(rk <= value_cents % n_clicks, 1L, 0L)").as("attributed_cents"))
  }

  /** Time-decay multi-touch attribution: clicks closer to the purchase
    * earn exponentially more credit (half-life 10 minutes inside the
    * 30-minute window). Weights are EXACT DYADIC INTEGERS — decay step
    * `k = Δminutes div 10` gives weight 8 >> k ∈ {8,4,2,1} — so shares
    * are `value·w div W` with the remainder cents going to the most
    * recent clicks, and per-purchase attributed sums reconstruct
    * `value_cents` exactly (same integer-split discipline as
    * [[attributionLinear]]; a float `2^(−Δ/h)` would neither sum back
    * nor cross engines).
    *
    * Scale shape identical to [[attributionLinear]]: one user-keyed
    * pair join, two window passes clustering on `purchase_id`.
    */
  def attributionTimeDecay(ev: DataFrame): DataFrame = {
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        round(coalesce(col("value"), lit(0.0)) * 100).cast("long")
          .as("value_cents"))
    val byPurchase = Window.partitionBy("purchase_id")
    val recencyRank = byPurchase
      .orderBy(col("click_ts").desc, col("click_id").desc)
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTE"))
      .withColumn("k",
        expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) " +
          "div 60000000 div 10"))
      .withColumn("w", expr(
        "CASE k WHEN 0 THEN 8L WHEN 1 THEN 4L WHEN 2 THEN 2L ELSE 1L END"))
      .withColumn("w_total", sum("w").over(byPurchase))
      .withColumn("floor_cents",
        expr("value_cents * w div w_total"))
      .withColumn("rem",
        col("value_cents") - sum("floor_cents").over(byPurchase))
      .withColumn("rk", row_number().over(recencyRank).cast("long"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("k"), col("w"),
        (col("floor_cents") + when(col("rk") <= col("rem"), 1L)
          .otherwise(0L)).as("attributed_cents"))
  }

  private def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts"))
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
      col("value"))
    c.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTE"),
        joinType)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_time"),
        date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss")
          .as("purchase_time"),
        round(col("value") * 100).cast("long").as("value_cents"))
  }

  /** Watermark delay audited by [[latenessAudit]] (10 min — the same
    * delay the streaming twins above carry in `withWatermark`).
    */
  val LateWatermarkSec = 600L

  /** Watermark lateness audit — the sizing query run BEFORE picking a
    * `withWatermark` delay: replaying each user's stream in ARRIVAL
    * order (`event_id`, the monotone ingestion id), how far behind that
    * user's event-time high-water mark does each event arrive, and how
    * many rows would a given watermark delay have dropped? Per event
    * type: row count, rows later than the delay, worst lateness, and
    * how many users ever produced such a row.
    *
    * The high-water mark is a self-exclusive per-user running max —
    * partitioned by the stream key, so the window parallelizes (never a
    * global sort); the rollup is one keyed aggregate. (Structured
    * Streaming's real watermark is global per trigger, which can only
    * drop FEWER rows than this per-user bound — the audit is the
    * conservative estimate.)
    */
  def latenessAudit(ev: DataFrame,
      watermarkSec: Long = LateWatermarkSec): DataFrame = {
    val hwm = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lateUs = greatest(lit(0L),
      coalesce(max(unix_micros(col("ts"))).over(hwm), lit(0L)) -
        unix_micros(col("ts")))
    val wmUs = watermarkSec * 1000000L
    ev
      .select(col("event_type"), col("user_id"), lateUs.as("late_us"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_us") > wmUs, 1L).otherwise(0L)).as("n_late"),
        expr("max(late_us) DIV 1000000").as("max_late_s"),
        countDistinct(when(col("late_us") > wmUs, col("user_id")))
          .as("n_late_users"))
  }

  /** Top users kept per event type by [[topUsersBatch]]. */
  val TopUsersK = 5

  /** Exact per-type top-k users by event count — the batch twin of the
    * streaming Misra–Gries heavy-hitter tracker
    * ([[HeavyUsersStream]]): one keyed count, then the bounded
    * [[graft.plans.TopKPerGroup]] heap (deterministic tie-break on
    * user_id) — no window over the per-user count table.
    */
  def topUsersBatch(ev: DataFrame, k: Int = TopUsersK): DataFrame = {
    val counts = ev.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n_events"))
    graft.plans.TopKPerGroup(counts, Seq("event_type"),
      Seq("n_events" -> true, "user_id" -> false), k = k)
      .select("event_type", "user_id", "n_events")
  }

  /** Batch twin of [[RateMonitorStream]]: per (event_type, minute)
    * counts, the truncated EWMA of the previous [[RateMonitorStream
    * .EwmaDepth]] OBSERVED minutes via the lag-window device
    * ([[graft.etl.WindowOps.ewmaCustomerSpend]]'s exact dyadic
    * weights), and the `count > SpikeFactor · ewma_prev` flag. First
    * minutes (no history) emit NULL baseline / false flag. Windows
    * partition by event type over the minute-level pre-aggregate —
    * calendar-bounded per type.
    */
  def rateMonitorBatch(ev: DataFrame,
      k: Int = RateMonitorStream.EwmaDepth): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("minute")
    val mc = ev
      .select(col("event_type"),
        expr("unix_micros(ts) div 60000000").as("minute"))
      .groupBy("event_type", "minute")
      .agg(count(lit(1)).as("n_events"))
    val terms = (1 to k).map { j =>
      val x = lag(col("n_events"), j).over(w)
      val wt = lit(math.pow(0.5, j))
      (when(x.isNotNull, x.cast("double") * wt).otherwise(lit(0.0)),
        when(x.isNotNull, wt).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    mc.withColumn("ewma_prev", when(den > 0.0, num / den))
      .withColumn("is_spike",
        coalesce(col("n_events").cast("double") >
          lit(RateMonitorStream.SpikeFactor) * col("ewma_prev"),
          lit(false)))
      .select("event_type", "minute", "n_events", "ewma_prev", "is_spike")
  }

  /** INDEX OF DISPERSION (Fano factor) of per-minute arrival counts per
    * event type — the burstiness diagnostic behind capacity planning
    * and the [[rateMonitorBatch]] thresholds: D = variance/mean of the
    * minute counts; D ≈ 1 is Poisson (memoryless arrivals), D ≫ 1 is
    * bursty. Cross-multiplied exact integers:
    * `D = (n·Σc² − S²) / (n·S)` — two integer aggregates, ONE
    * division; minutes with zero events are absent (observed-minute
    * convention, like the monitor's baseline).
    */
  def dispersionByType(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        expr("unix_micros(ts) div 60000000").as("minute"))
      .groupBy("event_type", "minute")
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_minutes"),
        sum("c").as("n_events"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("event_type"), col("n_minutes"), col("n_events"),
        ((col("n_minutes") * col("sum_sq") -
          col("n_events") * col("n_events")).cast("double") /
          (col("n_minutes") * col("n_events")).cast("double"))
          .as("dispersion"))

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_rate_monitor" -> ((s, d) =>
      rateMonitorBatch(Tables.events(s, d))),
    "ts_dispersion" -> ((s, d) => dispersionByType(Tables.events(s, d))),
    "stream_top_users" -> ((s, d) => topUsersBatch(Tables.events(s, d))),
    "stream_late_audit" -> ((s, d) => latenessAudit(Tables.events(s, d))),
    "stream_hourly"   -> ((s, d) => hourlyBatch(Tables.events(s, d))),
    "stream_sliding"  -> ((s, d) => slidingBatch(Tables.events(s, d))),
    "stream_sessions" -> ((s, d) => sessionsBatch(Tables.events(s, d))),
    "stream_attribution" -> ((s, d) => attributionBatch(Tables.events(s, d))),
    "attribution_linear" -> ((s, d) =>
      attributionLinear(Tables.events(s, d))),
    "attribution_time_decay" -> ((s, d) =>
      attributionTimeDecay(Tables.events(s, d))),
    "stream_attribution_outer" -> ((s, d) =>
      attributionOuterBatch(Tables.events(s, d))),
  )

  /** DuckDB twins of [[queries]]. Window starts are reproduced with
    * explicit epoch-microsecond floor arithmetic (Spark windows are
    * epoch-aligned); sessions use the lag/cumulative-sum islands form,
    * which is exactly `session_window`'s merge semantics.
    */
  def oracleSql: Map[String, String] = Map(
    "stream_rate_monitor" -> {
      val k = RateMonitorStream.EwmaDepth
      val lagCols = (1 to k).map(j =>
        s"lag(n_events, $j) OVER w AS x$j").mkString(",\n         ")
      val num = (1 to k).map { j =>
        val wt = java.math.BigDecimal.valueOf(math.pow(0.5, j)).toPlainString
        s"COALESCE(CAST(x$j AS DOUBLE), 0) * $wt"
      }.mkString("\n          + ")
      val den = (1 to k).map { j =>
        val wt = java.math.BigDecimal.valueOf(math.pow(0.5, j)).toPlainString
        s"CASE WHEN x$j IS NULL THEN 0 ELSE $wt END"
      }.mkString("\n          + ")
      s"""WITH mc AS (
         |  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
         |         count(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |lagged AS (
         |  SELECT event_type, minute, n_events,
         |         $lagCols
         |  FROM mc
         |  WINDOW w AS (PARTITION BY event_type ORDER BY minute)),
         |f AS (
         |  SELECT event_type, minute, n_events,
         |         ($num) AS num,
         |         ($den) AS den
         |  FROM lagged)
         |SELECT event_type, minute, n_events,
         |       CASE WHEN den > 0.0 THEN num / den END AS ewma_prev,
         |       coalesce(CAST(n_events AS DOUBLE) >
         |                ${RateMonitorStream.SpikeFactor} *
         |                (CASE WHEN den > 0.0 THEN num / den END), false)
         |         AS is_spike
         |FROM f""".stripMargin
    },
    "ts_dispersion" ->
      """WITH mc AS (
        |  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, count(*) AS n_minutes,
        |         CAST(sum(c) AS BIGINT) AS n_events,
        |         CAST(sum(c * c) AS BIGINT) AS sum_sq
        |  FROM mc GROUP BY 1)
        |SELECT event_type, n_minutes, n_events,
        |       CAST(n_minutes * sum_sq - n_events * n_events AS DOUBLE) /
        |         CAST(n_minutes * n_events AS DOUBLE) AS dispersion
        |FROM a""".stripMargin,
    "stream_top_users" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, user_id, n_events FROM c
        |QUALIFY row_number() OVER (
        |  PARTITION BY event_type
        |  ORDER BY n_events DESC, user_id) <= 5""".stripMargin,
    "stream_late_audit" ->
      """WITH o AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS ts_us,
        |         max(epoch_us(ts)) OVER (
        |           PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS hwm_us
        |  FROM events),
        |l AS (
        |  SELECT event_type, user_id,
        |         greatest(0, coalesce(hwm_us, 0) - ts_us) AS late_us
        |  FROM o)
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_late,
        |       CAST(max(late_us) // 1000000 AS BIGINT) AS max_late_s,
        |       CAST(count(DISTINCT CASE WHEN late_us > 600000000
        |                                THEN user_id END) AS BIGINT)
        |         AS n_late_users
        |FROM l GROUP BY 1""".stripMargin,
    "stream_hourly" ->
      """SELECT strftime(make_timestamp(
        |         (epoch_us(ts) // 3600000000) * 3600000000),
        |         '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, count(*) AS n_events,
        |       CAST(round(sum(value) * 100) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,
    "stream_sliding" ->
      """WITH assigned AS (
        |  SELECT unnest([
        |           (epoch_us(ts) // 1800000000) * 1800000000,
        |           (epoch_us(ts) // 1800000000) * 1800000000 - 1800000000
        |         ]) AS wstart_us, event_type, value
        |  FROM events)
        |SELECT strftime(make_timestamp(wstart_us), '%Y-%m-%d %H:%M:%S')
        |         AS window_start,
        |       event_type, count(*) AS n_events,
        |       CAST(round(sum(value) * 100) AS BIGINT) AS value_cents
        |FROM assigned GROUP BY 1, 2""".stripMargin,
    "stream_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN epoch_us(ts) -
        |                   epoch_us(lag(ts) OVER (PARTITION BY user_id
        |                                          ORDER BY ts))
        |                   > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
        |         AS span_secs,
        |       count(*) AS n_events,
        |       CAST(round(sum(value) * 100) AS BIGINT) AS value_cents
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,
    "stream_attribution_outer" ->
      """SELECT c.user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
        |       CAST(round(p.value * 100) AS BIGINT) AS value_cents
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"""
        .stripMargin,
    "attribution_linear" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user_id, event_id AS purchase_id,
        |         ts AS purchase_ts,
        |         CAST(round(coalesce(value, 0) * 100) AS BIGINT)
        |           AS value_cents
        |  FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT c.user_id, p.purchase_id, c.click_id, c.click_ts,
        |         p.value_cents
        |  FROM c JOIN p ON c.user_id = p.p_user_id
        |   AND p.purchase_ts >= c.click_ts
        |   AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE),
        |r AS (
        |  SELECT *,
        |         count(*) OVER (PARTITION BY purchase_id) AS n_clicks,
        |         row_number() OVER (PARTITION BY purchase_id
        |                            ORDER BY click_ts, click_id) AS rk
        |  FROM pairs)
        |SELECT user_id, purchase_id, click_id, rk,
        |       CAST(n_clicks AS BIGINT) AS n_clicks,
        |       value_cents // n_clicks +
        |         CASE WHEN rk <= value_cents % n_clicks THEN 1 ELSE 0 END
        |         AS attributed_cents
        |FROM r""".stripMargin,
    "attribution_time_decay" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user_id, event_id AS purchase_id,
        |         ts AS purchase_ts,
        |         CAST(round(coalesce(value, 0) * 100) AS BIGINT)
        |           AS value_cents
        |  FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT c.user_id, p.purchase_id, c.click_id, c.click_ts,
        |         p.value_cents,
        |         (epoch_us(p.purchase_ts) - epoch_us(c.click_ts))
        |           // 60000000 // 10 AS k
        |  FROM c JOIN p ON c.user_id = p.p_user_id
        |   AND p.purchase_ts >= c.click_ts
        |   AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE),
        |w AS (
        |  SELECT *, CASE k WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2
        |                   ELSE 1 END AS w
        |  FROM pairs),
        |r AS (
        |  SELECT *,
        |         CAST(sum(w) OVER (PARTITION BY purchase_id) AS BIGINT)
        |           AS w_total,
        |         row_number() OVER (PARTITION BY purchase_id
        |           ORDER BY click_ts DESC, click_id DESC) AS rk
        |  FROM w),
        |f AS (
        |  SELECT *, value_cents * w // w_total AS floor_cents
        |  FROM r),
        |g AS (
        |  SELECT *,
        |         value_cents - CAST(sum(floor_cents) OVER (
        |           PARTITION BY purchase_id) AS BIGINT) AS rem
        |  FROM f)
        |SELECT user_id, purchase_id, click_id, CAST(k AS BIGINT) AS k,
        |       CAST(w AS BIGINT) AS w,
        |       floor_cents + CASE WHEN rk <= rem THEN 1 ELSE 0 END
        |         AS attributed_cents
        |FROM g""".stripMargin,
    "stream_attribution" ->
      """SELECT c.user_id, c.event_id AS click_id,
        |       p.event_id AS purchase_id,
        |       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_time,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_time,
        |       CAST(round(p.value * 100) AS BIGINT) AS value_cents
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"""
        .stripMargin,
  )
}
