package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Retail analytics over the order/lineitem fact: ABC (Pareto)
  * classification and market-basket association scores — the two
  * assortment-analysis queries every commerce warehouse runs, absent
  * from the reference's Gold layer (`to_gold.py:25-132` stops at
  * per-entity aggregates).
  *
  * Both are exact-integer to the last step: revenues are integer cents,
  * supports are counts, and the single IEEE division (share, lift) is
  * the identical expression on both engines — the same determinism
  * contract as graft.etl.Gold.
  */
object Retail {

  private def cents(c: String) =
    round(col(c) * 100).cast("long")

  /** ABC / Pareto classification: parts ranked by revenue descending,
    * classified A while the running revenue share is ≤ 80%, B to 95%,
    * C above — boundaries tested on EXACT integers
    * (`cum*100 <= total*80`), never on a floating share.
    *
    * The global cumulative sum over revenue-descending order is the
    * scale hazard (a naive window is one partition). Same decomposition
    * as [[graft.etl.TimeSeries.sessionConcurrency]]: DIGIT-COUNT BANDS
    * of `rev_cents` are ordered blocks of the global revenue order
    * (every 6-digit revenue exceeds every 5-digit one), so a per-band
    * running sum (shuffle on band, parallel) plus a band-level carry
    * (≤ 19 rows — a Long has at most 19 digits — so its unpartitioned
    * window is metadata-sized) reconstructs the global prefix sum
    * exactly. Ties inside a band are totally ordered by
    * (rev desc, partkey).
    */
  def abcClassification(li: DataFrame): DataFrame = {
    // materialize the per-part revenue once: it feeds the banded running
    // sum, the band carry AND the grand total — without this the fact
    // scan + aggregate runs three times (visible as 3 Scan nodes in the
    // unfixed plan)
    val rev = graft.CheckpointLease.track(
      li.groupBy("l_partkey")
        .agg(sum(cents("l_extendedprice")).as("rev_cents"))
        .localCheckpoint())
    val banded = rev.withColumn("band",
      length(col("rev_cents").cast("string")).cast("int"))
    val wBand = Window.partitionBy("band")
      .orderBy(col("rev_cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRun = banded.withColumn("run", sum("rev_cents").over(wBand))
    // carry = total of all strictly-higher bands; ≤19 rows, see scaladoc
    val carry = banded.groupBy("band").agg(sum("rev_cents").as("band_total"))
      .withColumn("carry", coalesce(sum("band_total").over(
        Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("band", "carry")
    val total = rev.agg(sum("rev_cents").as("total_cents"))
    withRun.join(broadcast(carry), Seq("band"))
      .crossJoin(broadcast(total))
      .withColumn("cum_cents", col("run") + col("carry"))
      .select(
        col("l_partkey"), col("rev_cents"), col("cum_cents"),
        (col("cum_cents").cast("double") / col("total_cents"))
          .as("cum_share"),
        when(col("cum_cents") * 100 <= col("total_cents") * 80, "A")
          .when(col("cum_cents") * 100 <= col("total_cents") * 95, "B")
          .otherwise("C").as("abc_class"))
  }

  /** Market-basket association: for part pairs co-occurring in at least
    * `minSupport` orders, support counts and lift =
    * P(a,b)/(P(a)P(b)) = n_ab·n_orders/(n_a·n_b). Top-`k` pairs by
    * (co-occurrence count desc, pair key) — the tie-break never reads
    * the float lift, so the cut is deterministic.
    *
    * Scale shape: the pair explosion is the [[Graph.coPurchaseEdges]]
    * shape (order-keyed self-join, fan-out bounded by order size; a
    * production run caps items-per-order first); supports are two
    * count aggregates; the order total rides a broadcast 1-row
    * cross-join so no driver-side action exists in the plan.
    */
  def basketLift(li: DataFrame, minSupport: Int = 3, k: Int = 100): DataFrame = {
    // materialized once: feeds the pair self-join (twice), part counts,
    // and the order total — four scans otherwise
    val lo = graft.CheckpointLease.track(
      li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint())
    val partCnt = lo.groupBy("pk").agg(count(lit(1)).as("n_p"))
    val total = lo.groupBy().agg(countDistinct("ok").as("n_orders"))
    val pairs = lo.as("a").join(lo.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(partCnt.select(col("pk").as("part_a"), col("n_p").as("n_a")),
        Seq("part_a"))
      .join(partCnt.select(col("pk").as("part_b"), col("n_p").as("n_b")),
        Seq("part_b"))
      .crossJoin(broadcast(total))
      .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        ((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
      .limit(k)
  }

  /** RFM customer segmentation — recency / frequency / monetary quartile
    * scores, the standard commerce segmentation model. Each dimension is
    * scored 1–4 against its own quartile boundaries; boundaries follow
    * the boundaries-then-broadcast pattern of
    * [[graft.ext.Quality.decileBinning]] (one tiny percentile aggregate
    * broadcast back onto the customer aggregate — NO `ntile` global sort
    * over the customer dimension, which is billions of rows at 100 TB).
    *
    * Determinism: boundaries travel as e3-scaled integers and every
    * score comparison (`days·1000 < bound_e3`) is integer-only, so
    * boundary-straddling customers land identically in every engine.
    * Recency compares `<` (fewer days since last order ⇒ higher score);
    * frequency/monetary compare `>` (more ⇒ higher score).
    */
  def rfmSegments(ord: DataFrame): DataFrame = {
    val asOf = ord.agg(max(col("o_orderdate").cast("date")).as("as_of"))
    // dimension-sized: one row per customer
    val base = ord.groupBy("o_custkey")
      .agg(max(col("o_orderdate").cast("date")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(cents("o_totalprice")).as("monetary_cents"))
      .crossJoin(broadcast(asOf))
      .withColumn("recency_days",
        datediff(col("as_of"), col("last_order")).cast("long"))
    val bounds = base.agg(
      expr("transform(percentile(recency_days, array(0.25, 0.5, 0.75)), " +
        "x -> cast(round(x * 1000) as bigint))").as("r_e3"),
      expr("transform(percentile(frequency, array(0.25, 0.5, 0.75)), " +
        "x -> cast(round(x * 1000) as bigint))").as("f_e3"),
      expr("transform(percentile(monetary_cents, array(0.25, 0.5, 0.75)), " +
        "x -> cast(round(x * 1000) as bigint))").as("m_e3"))
    base.crossJoin(broadcast(bounds))
      .withColumn("r_score", expr(
        "cast(1 + size(filter(r_e3, b -> recency_days * 1000 < b)) as int)"))
      .withColumn("f_score", expr(
        "cast(1 + size(filter(f_e3, b -> frequency * 1000 > b)) as int)"))
      .withColumn("m_score", expr(
        "cast(1 + size(filter(m_e3, b -> monetary_cents * 1000 > b)) as int)"))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 3 && col("f_score") >= 3 &&
          col("m_score") >= 3, "champion")
          .when(col("r_score") >= 3 && col("f_score") <= 2, "recent")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .otherwise("regular").as("segment"))
  }

  /** Repeat-purchase intervals: per returning customer (≥ 2 orders),
    * order count, first→last span, mean inter-order gap, and the
    * longest gap. The mean gap never needs the per-gap window — the sum
    * of consecutive gaps telescopes to `last − first`, so it derives
    * from the plain aggregate; only `max_gap_days` reads the lag, and
    * that window is partitioned per customer (embarrassingly parallel —
    * no global sort anywhere).
    */
  def repeatIntervals(ord: DataFrame): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("od"), col("o_orderkey"))
    ord.select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"))
      .withColumn("gap",
        datediff(col("od"), lag("od", 1).over(byCust)).cast("long"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        min("od").as("first_d"), max("od").as("last_d"),
        max("gap").as("max_gap_days"))
      .filter(col("n_orders") >= 2)
      .select(col("o_custkey"), col("n_orders"),
        datediff(col("last_d"), col("first_d")).cast("long").as("span_days"),
        (datediff(col("last_d"), col("first_d")).cast("double") /
          (col("n_orders") - 1)).as("avg_gap_days"),
        col("max_gap_days"))
  }

  /** 2-D skyline (Pareto frontier) of the parts catalog: parts not
    * dominated on (price low, size high). `q` dominates `p` when
    * `q.price <= p.price && q.size >= p.size` with at least one strict —
    * the frontier is the price-performance menu a buyer actually
    * chooses from.
    *
    * The naive skyline is an all-pairs anti-join (the oracle's NOT
    * EXISTS — quadratic). The distributed form exploits the 2-D
    * monotone structure: aggregate `best(price) = max(size)` per
    * distinct price (ONE fact shuffle, key = price), then a running
    * `max` over strictly-cheaper prices on that PRICE-LEVEL table — its
    * unpartitioned window is bounded by the price domain (retail prices
    * in cents: ~1e5 distinct values at any corpus size), the same
    * bounded-domain argument as [[abcClassification]]'s band carry. A
    * price is on the frontier iff `best > max(best over cheaper)`; the
    * bounded frontier table broadcasts back onto parts, keeping rows
    * that achieve their price's best size. Ties (same price AND size)
    * all survive — neither strictly dominates.
    */
  def skylineParts(part: DataFrame): DataFrame = {
    val priced = part.select(col("p_partkey"),
      cents("p_retailprice").as("price_cents"), col("p_size"))
    val best = priced.groupBy("price_cents")
      .agg(max("p_size").as("best_size"))
    val cheaper = Window.orderBy("price_cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = best
      .withColumn("m", max("best_size").over(cheaper))
      .filter(col("m").isNull || col("best_size") > col("m"))
      .select("price_cents", "best_size")
    priced.join(broadcast(frontier), Seq("price_cents"))
      .filter(col("p_size") === col("best_size"))
      .select("p_partkey", "price_cents", "p_size")
  }

  /** Customer lifecycle classification: every order is labeled `new`
    * (customer's first), `reactivated` (gap since the previous order
    * exceeds `lapseDays`), or `active`, then rolled up to a monthly
    * (state × orders × distinct customers) report — the
    * acquisition/winback mix a lifecycle team tracks. The lag window
    * partitions per customer (parallel); the gap test is exact integer
    * days; the rollup shuffles the tiny (month, state) key.
    */
  def lifecycleStates(ord: DataFrame, lapseDays: Int = 180): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("od"), col("o_orderkey"))
    ord.select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"))
      .withColumn("gap",
        datediff(col("od"), lag("od", 1).over(byCust)).cast("long"))
      .withColumn("state",
        when(col("gap").isNull, "new")
          .when(col("gap") > lapseDays, "reactivated")
          .otherwise("active"))
      .groupBy(date_format(col("od"), "yyyy-MM").as("month"), col("state"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct("o_custkey").as("n_customers"))
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  /** UNIT-VALUE PRICE INDEX per ship month against the first observed
    * month's basket — the monitoring series a retailer (or a CPI shop)
    * tracks for price drift: restrict every month to the parts sold in
    * the BASE month (so mix shift into new products can't masquerade as
    * price change — the fixed-basket idea of a Laspeyres index, with
    * the unit value `Σrev/Σqty` standing in for a per-part price
    * survey), then `index_t = uv_t / uv_base`.
    *
    * Exactness: per month two exact integer sums (cents, units); unit
    * value is ONE division and the index one more over the broadcast
    * base row — a fixed tree, never an average of averages.
    *
    * Scale shape: one bounds aggregate (broadcast), one semi-join
    * against the part-bounded basket, one month-keyed partial-merging
    * aggregate; output is calendar-bounded.
    */
  def unitValueIndex(li: DataFrame): DataFrame = {
    val m = li.select(
      date_format(col("l_shipdate"), "yyyy-MM").as("month"),
      col("l_partkey"),
      round(col("l_extendedprice") * 100).cast("long").as("rev_cents"),
      round(col("l_quantity")).cast("long").as("qty"))
    val base = m.agg(min("month").as("base_month"))
    val basket = m.crossJoin(broadcast(base))
      .filter(col("month") === col("base_month"))
      .select("l_partkey").distinct()
    val monthly = m.join(basket, Seq("l_partkey"), "left_semi")
      .groupBy("month")
      .agg(sum("rev_cents").as("rev_cents"), sum("qty").as("qty"))
    val b0 = monthly.crossJoin(broadcast(base))
      .filter(col("month") === col("base_month"))
      .select(col("rev_cents").as("rev0"), col("qty").as("qty0"))
    monthly.crossJoin(broadcast(b0))
      .select(col("month"), col("rev_cents"), col("qty"),
        (col("rev_cents").cast("double") / col("qty").cast("double"))
          .as("unit_value"),
        ((col("rev_cents").cast("double") / col("qty").cast("double")) /
          (col("rev0").cast("double") / col("qty0").cast("double")))
          .as("price_index"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "abc_parts" -> ((s, d) => abcClassification(Tables.lineitem(s, d))),
    "retail_price_index" -> ((s, d) => unitValueIndex(Tables.lineitem(s, d))),
    "basket_lift" -> ((s, d) => basketLift(Tables.lineitem(s, d))),
    "rfm_segments" -> ((s, d) => rfmSegments(Tables.orders(s, d))),
    "repeat_intervals" -> ((s, d) => repeatIntervals(Tables.orders(s, d))),
    "skyline_parts" -> ((s, d) => skylineParts(Tables.part(s, d))),
    "lifecycle_states" -> ((s, d) => lifecycleStates(Tables.orders(s, d))),
  )

  /** DuckDB twins — the ABC oracle uses the plain single global window
    * the banded decomposition must reproduce exactly.
    */
  def oracleSql: Map[String, String] = Map(
    "retail_price_index" ->
      """WITH m AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS month, l_partkey,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS rev_cents,
        |         CAST(round(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem),
        |b AS (SELECT min(month) AS base_month FROM m),
        |bk AS (
        |  SELECT DISTINCT l_partkey FROM m CROSS JOIN b
        |  WHERE month = base_month),
        |mo AS (
        |  SELECT month, CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
        |         CAST(sum(qty) AS BIGINT) AS qty
        |  FROM m WHERE l_partkey IN (SELECT l_partkey FROM bk)
        |  GROUP BY 1),
        |b0 AS (
        |  SELECT mo.rev_cents AS rev0, mo.qty AS qty0
        |  FROM mo CROSS JOIN b WHERE mo.month = b.base_month)
        |SELECT month, rev_cents, qty,
        |       CAST(rev_cents AS DOUBLE) / CAST(qty AS DOUBLE)
        |         AS unit_value,
        |       (CAST(rev_cents AS DOUBLE) / CAST(qty AS DOUBLE)) /
        |       (CAST(rev0 AS DOUBLE) / CAST(qty0 AS DOUBLE))
        |         AS price_index
        |FROM mo CROSS JOIN b0""".stripMargin,
    "abc_parts" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT l_partkey, rev_cents,
        |         CAST(sum(rev_cents) OVER (
        |           ORDER BY rev_cents DESC, l_partkey
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        |         CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
        |  FROM rev)
        |SELECT l_partkey, rev_cents, cum_cents,
        |       CAST(cum_cents AS DOUBLE) / total_cents AS cum_share,
        |       CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
        |            WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
        |            ELSE 'C' END AS abc_class
        |FROM cum""".stripMargin,
    "basket_lift" ->
      """WITH lo AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pc AS (SELECT pk, count(*) AS n_p FROM lo GROUP BY 1),
        |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM lo),
        |pairs AS (
        |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_ab
        |  FROM lo a JOIN lo b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 3)
        |SELECT p.part_a, p.part_b, p.n_ab, ca.n_p AS n_a, cb.n_p AS n_b,
        |       CAST(p.n_ab * (SELECT n_orders FROM tot) AS DOUBLE) /
        |         CAST(ca.n_p * cb.n_p AS DOUBLE) AS lift
        |FROM pairs p
        |JOIN pc ca ON p.part_a = ca.pk
        |JOIN pc cb ON p.part_b = cb.pk
        |ORDER BY p.n_ab DESC, p.part_a, p.part_b
        |LIMIT 100""".stripMargin,
    "rfm_segments" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |         datediff('day', max(CAST(o_orderdate AS DATE)),
        |           (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
        |           AS recency_days,
        |         count(*) AS frequency,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |b AS (
        |  SELECT
        |    list_transform(quantile_cont(recency_days, [0.25, 0.5, 0.75]),
        |      x -> CAST(round(x * 1000) AS BIGINT)) AS r_e3,
        |    list_transform(quantile_cont(frequency, [0.25, 0.5, 0.75]),
        |      x -> CAST(round(x * 1000) AS BIGINT)) AS f_e3,
        |    list_transform(quantile_cont(monetary_cents, [0.25, 0.5, 0.75]),
        |      x -> CAST(round(x * 1000) AS BIGINT)) AS m_e3
        |  FROM base),
        |s AS (
        |  SELECT base.*,
        |    CAST(1 + len(list_filter(b.r_e3,
        |      x -> base.recency_days * 1000 < x)) AS INT) AS r_score,
        |    CAST(1 + len(list_filter(b.f_e3,
        |      x -> base.frequency * 1000 > x)) AS INT) AS f_score,
        |    CAST(1 + len(list_filter(b.m_e3,
        |      x -> base.monetary_cents * 1000 > x)) AS INT) AS m_score
        |  FROM base, b)
        |SELECT o_custkey, recency_days, frequency, monetary_cents,
        |       r_score, f_score, m_score,
        |       CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3
        |              THEN 'champion'
        |            WHEN r_score >= 3 AND f_score <= 2 THEN 'recent'
        |            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |            ELSE 'regular' END AS segment
        |FROM s""".stripMargin,
    "lifecycle_states" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey, od,
        |         datediff('day',
        |           lag(od) OVER (PARTITION BY o_custkey
        |                         ORDER BY od, o_orderkey), od) AS gap
        |  FROM o),
        |s AS (
        |  SELECT strftime(od, '%Y-%m') AS month,
        |         CASE WHEN gap IS NULL THEN 'new'
        |              WHEN gap > 180 THEN 'reactivated'
        |              ELSE 'active' END AS state,
        |         o_custkey
        |  FROM g)
        |SELECT month, state, count(*) AS n_orders,
        |       count(DISTINCT o_custkey) AS n_customers
        |FROM s GROUP BY 1, 2""".stripMargin,
    "skyline_parts" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |         p_size
        |  FROM part)
        |SELECT p_partkey, price_cents, p_size
        |FROM p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p q
        |  WHERE q.price_cents <= p.price_cents AND q.p_size >= p.p_size
        |    AND (q.price_cents < p.price_cents OR q.p_size > p.p_size))""".stripMargin,
    "repeat_intervals" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey, od,
        |         datediff('day',
        |           lag(od) OVER (PARTITION BY o_custkey
        |                         ORDER BY od, o_orderkey), od) AS gap
        |  FROM o)
        |SELECT o_custkey, count(*) AS n_orders,
        |       datediff('day', min(od), max(od)) AS span_days,
        |       CAST(datediff('day', min(od), max(od)) AS DOUBLE) /
        |         (count(*) - 1) AS avg_gap_days,
        |       CAST(max(gap) AS BIGINT) AS max_gap_days
        |FROM g GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
  )
}
