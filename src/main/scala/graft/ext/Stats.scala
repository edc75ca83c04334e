package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Exact-arithmetic statistics the reference's Gold layer stops short
  * of: per-group OLS trend lines, Pearson correlation, market
  * concentration (Herfindahl), and a Benford first-digit audit — the
  * next analyses an e-commerce warehouse (reference
  * `include/scripts/to_gold.py:57-132` ends at groupBy aggregates)
  * would run on the same tables.
  *
  * == Determinism contract ==
  * Every statistic here is derived from EXACT integer aggregates
  * (counts, integer-divided day means, ppm shares) through a fixed DAG
  * of correctly-rounded IEEE-754 ops (`+ − × ÷ sqrt`), the same
  * argument as graft.ext.Experiment's Wilson interval: identical
  * integer inputs + identical expression tree → bit-identical doubles
  * on both engines. No libm calls (no log/exp/pow) anywhere.
  *
  * == Scale shape ==
  * Each operator pre-aggregates to a VALUE-DOMAIN-BOUNDED table first
  * (days since anchor ≤ ~2.5k, nations = 25, digits = 9), so the
  * second-stage sums see metadata-sized inputs no matter the corpus
  * size — the same day-domain decomposition graft.etl.TimeSeries uses.
  * Per-day means use integer floor division, which both bounds the
  * magnitudes (overflow headroom is then set by the DOMAIN, not the
  * data: n·Σxy ≤ 2.5k·2.5k·2.5k·6e5 ≈ 1e16 ≪ 2^63) and keeps the
  * arithmetic exact at any scale factor.
  */
object Stats {

  /** Day index since a fixed literal anchor — identical on both
    * engines, no global-min scalar subquery needed.
    */
  private def dayX(c: Column): Column = datediff(c.cast("date"), lit("1995-01-01"))

  /** Per-segment OLS trend of daily average order value.
    *
    * Stage 1 (data-sized → day-domain): per (segment, day): order count
    * and exact revenue cents; the day's y = avg dollars per order by
    * integer division (bounded by max order value, not by data volume).
    * Stage 2 (day-domain, ≤ ~2.5k rows/segment): exact integer power
    * sums; slope/intercept from the closed form
    * `slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)` — integer numerator and
    * denominator emitted exactly, one double division each for
    * slope/intercept.
    */
  def trendSegmentSpend(orders: DataFrame, customer: DataFrame): DataFrame = {
    val daily = orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        dayX(col("o_orderdate")).cast("long").as("x"),
        col("o_totalprice"))
      .groupBy("c_mktsegment", "x")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      // y: the day's mean order value in whole dollars (exact floor div)
      .withColumn("y", expr("rev_cents div (n_orders * 100)"))
    daily.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope_den", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope",
        col("slope_num").cast("double") / col("slope_den").cast("double"))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double")) /
          col("n_days").cast("double"))
      .select("c_mktsegment", "n_days", "sx", "sy", "sxy", "sxx",
        "slope_num", "slope_den", "slope", "intercept")
  }

  /** Per-returnflag Pearson correlation between daily mean quantity and
    * daily mean line value — same two-stage day-domain decomposition as
    * [[trendSegmentSpend]]; `r = (nΣxy−ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))`
    * over exact integers, two sqrts + one multiply + one divide.
    */
  def corrQtyValue(lineitem: DataFrame): DataFrame = {
    val daily = lineitem
      .select(col("l_returnflag"),
        dayX(col("l_shipdate")).cast("long").as("day"),
        col("l_quantity"), col("l_extendedprice"))
      .groupBy("l_returnflag", "day")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("long").as("qty_sum"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("val_cents"))
      .select(col("l_returnflag"),
        expr("qty_sum div n_items").as("x"),
        expr("val_cents div (n_items * 100)").as("y"))
    daily.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_days"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("r_num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den_x", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .withColumn("den_y", col("n_days") * col("syy") - col("sy") * col("sy"))
      .withColumn("r", col("r_num").cast("double") /
        (sqrt(col("den_x").cast("double")) * sqrt(col("den_y").cast("double"))))
      .select("l_returnflag", "n_days", "r_num", "den_x", "den_y", "r")
  }

  /** Revenue concentration per region: Herfindahl–Hirschman index over
    * member nations' shares, in exact ppm arithmetic.
    *
    * Shares are integer ppm (`rev_k·10⁶ div tot_k` over whole-k$ revenue
    * — k$ units keep `rev·10⁶` inside int64 at any plausible scale), so
    * `hhi_ppm2 = Σ share_ppm²` is an exact integer at most 10¹²
    * regardless of data volume (shares sum to ≤ 10⁶ by construction);
    * the reported `hhi` is one double division. Nation cardinality is
    * 25, so stage 2 is metadata-sized.
    */
  def hhiRegionRevenue(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    // pre-aggregate the fact side to one row per customer BEFORE the
    // join — the customer⋈orders exchange then moves |customer| rows,
    // not |orders| (int cents re-associate exactly, oracle unaffected)
    val custRev = orders
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cust_cents"))
    val natRev = custRev
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(sum(col("cust_cents")).as("rev_cents"))
      .withColumn("rev_k", expr("rev_cents div 100000"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
    val tot = natRev.groupBy(col("r_name"))
      .agg(sum("rev_k").as("tot_k"), count(lit(1)).as("n_members"))
    natRev.join(broadcast(tot), Seq("r_name"))
      .withColumn("share_ppm", expr("(rev_k * 1000000) div tot_k"))
      .groupBy("r_name", "n_members", "tot_k")
      .agg(sum(col("share_ppm") * col("share_ppm")).as("hhi_ppm2"),
        max("share_ppm").as("top_share_ppm"))
      .withColumn("hhi", col("hhi_ppm2").cast("double") / lit(1.0e12))
      .select("r_name", "n_members", "tot_k", "hhi_ppm2", "top_share_ppm", "hhi")
  }

  /** Benford first-significant-digit audit of order totals: observed
    * count and share per leading digit 1–9. Fraud/quality screens
    * compare this profile against Benford's log curve; the log EXPECTED
    * values are left to the consumer (libm would break hash
    * portability) — the observed profile is the exact part. Digit via
    * integer-string extraction (totals ≥ 1 by domain), shares one
    * division off the exact counts.
    */
  def benfordOrderTotals(orders: DataFrame): DataFrame = {
    val digits = orders
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_orders"))
    val tot = digits.agg(sum("n_orders").as("n_total"))
    digits.crossJoin(broadcast(tot))
      .withColumn("share", col("n_orders").cast("double") / col("n_total"))
      .select("digit", "n_orders", "n_total", "share")
  }

  /** Lags reported by [[autocorrDailyRevenue]]: day-over-day, weekly,
    * and 4-weekly — the seasonality probes a forecasting pipeline checks
    * first.
    */
  val AutocorrLags: Seq[Int] = Seq(1, 7, 28)

  /** Autocorrelation of daily order revenue at fixed lags: one row per
    * lag with the exact integer power sums over (day, day−lag) pairs and
    * the Pearson r of the paired series — the standard seasonality
    * diagnostic (r(7) ≫ r(1) ⇒ weekly cycle dominates).
    *
    * Same day-domain decomposition as [[trendSegmentSpend]]: stage 1
    * collapses orders to ≤ ~2.5k daily rows (y = daily revenue in whole
    * k$ by exact floor division — k$ units keep `n·Σy²` under
    * 2.5k²·(10⁷)² ≈ 6·10²⁰ → 6·10¹⁴ inside int64 headroom at the tested
    * scales; a 1000× deployment bumps the unit, same as [[hhiRegionRevenue]]'s
    * `rev_k`), stage 2 self-joins the day table
    * per lag (day-domain-sized, broadcastable) and reduces to one row
    * per lag — all integer until the final sqrt/divide expression tree.
    * Missing days simply drop their pairs (no imputation), matching the
    * paired-observation definition.
    */
  def autocorrDailyRevenue(orders: DataFrame,
      lags: Seq[Int] = AutocorrLags): DataFrame = {
    val daily = orders
      .groupBy(dayX(col("o_orderdate")).cast("long").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      .withColumn("y", expr("rev_cents div 100000"))
      .select("day", "y")
    val lagged = lags.map { k =>
      daily.as("a")
        .join(daily.as("b"), col("a.day") === col("b.day") + lit(k))
        .select(lit(k).as("lag"), col("a.y").as("x"), col("b.y").as("z"))
    }.reduce(_ union _)
    lagged.groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum("x").as("sx"), sum("z").as("sz"),
        sum(col("x") * col("z")).as("sxz"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("z") * col("z")).as("szz"))
      .withColumn("r_num", col("n_pairs") * col("sxz") - col("sx") * col("sz"))
      .withColumn("den_x", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
      .withColumn("den_z", col("n_pairs") * col("szz") - col("sz") * col("sz"))
      .withColumn("r", col("r_num").cast("double") /
        (sqrt(col("den_x").cast("double")) * sqrt(col("den_z").cast("double"))))
      .select("lag", "n_pairs", "r_num", "den_x", "den_z", "r")
  }

  /** Trailing window (days) of [[rollingCorrDaily]]. */
  val RollingCorrWindow = 28

  /** ROLLING CORRELATION between daily order count and daily revenue —
    * the regime-shift monitor ("are busy days still big days?"): per
    * day, the Pearson r of the two metrics over the trailing
    * [[RollingCorrWindow]] days. All five moments are ROLLING exact
    * integer sums over the day-level series (w ≤ 28, counts ≤ ~10⁴,
    * k$ ≤ ~10⁵ — far inside int64), and r is the
    * [[autocorrDailyRevenue]] expression tree per row: one integer
    * cross-multiplied numerator, two variance integers, one
    * division-by-sqrt-product. Zero-variance windows surface NULL (the
    * degenerate-group convention), partial leading windows are emitted
    * with their own n_w. Windows ride the CALENDAR-BOUNDED day table.
    */
  def rollingCorrDaily(orders: DataFrame,
      window: Int = RollingCorrWindow): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(-(window - 1), 0)
    val daily = orders
      .groupBy(dayX(col("o_orderdate")).cast("long").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      .withColumn("z", expr("rev_cents div 100000"))
    daily
      .withColumn("n_w", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sz", sum("z").over(w))
      .withColumn("sxz", sum(col("x") * col("z")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("szz", sum(col("z") * col("z")).over(w))
      .withColumn("r_num", col("n_w") * col("sxz") - col("sx") * col("sz"))
      .withColumn("den_x", col("n_w") * col("sxx") - col("sx") * col("sx"))
      .withColumn("den_z", col("n_w") * col("szz") - col("sz") * col("sz"))
      .select(col("day"), col("n_w"),
        when(col("den_x") > 0L && col("den_z") > 0L,
          col("r_num").cast("double") /
            (sqrt(col("den_x").cast("double")) *
              sqrt(col("den_z").cast("double")))).as("r"))
  }

  /** Lags 1..[[PacfMaxLag]] emitted by [[pacfDailyRevenue]]. */
  val PacfMaxLag = 7

  /** PARTIAL AUTOCORRELATION (Durbin–Levinson) of daily revenue — the
    * AR-order diagnostic read next to [[autocorrDailyRevenue]]'s ACF:
    * PACF(k) is lag-k correlation with lags 1..k−1 regressed out, so an
    * AR(p) series cuts off sharply after lag p where the raw ACF decays
    * slowly. Stationary ACF first: with the global mean folded in by
    * cross-multiplication,
    * `num_k = n²·Σy_t y_{t+k} − n·S·(H_k+T_k) + m_k·S²` is an EXACT
    * integer (DECIMAL(38,0) sums / HUGEINT twin), and
    * `ρ_k = num_k/num_0` is one double division per lag. The DL
    * recursion then runs over those ≤[[PacfMaxLag]] ρ doubles as a
    * fixed cascade of `+ − × ÷` evaluated in identical order on both
    * sides — driver-side here (8 scalars, the collected-codebook
    * class), an UNROLLED CTE chain in the twin, subtraction order
    * pinned to the same left fold.
    *
    * Scale shape: the day-domain decomposition of
    * [[autocorrDailyRevenue]] (fact → ≤ ~2.5k daily rows, per-lag
    * self-joins on the day table); everything after the per-lag
    * aggregate is metadata-sized.
    */
  def pacfDailyRevenue(orders: DataFrame,
      maxLag: Int = PacfMaxLag): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val daily = orders
      .groupBy(dayX(col("o_orderdate")).cast("long").as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long"))
        .as("rev_cents"))
      .withColumn("y", expr("rev_cents div 100000"))
      .select("day", "y")
    val dailyM = daily.localCheckpoint()
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val lagged = (0 to maxLag).map { k =>
      dailyM.as("a")
        .join(dailyM.as("b"), col("a.day") === col("b.day") + lit(k))
        .select(lit(k).as("lag"), col("a.y").as("x"), col("b.y").as("z"))
    }.reduce(_ union _)
    val per = lagged.groupBy("lag")
      .agg(count(lit(1)).as("m"),
        sum(dec(col("x")) * dec(col("z"))).as("a_k"),
        sum(dec(col("z"))).as("h_k"),
        sum(dec(col("x"))).as("t_k"))
      .collect().map { r =>
        r.getAs[Int]("lag") -> ((r.getAs[Long]("m"),
          BigDecimal(r.getAs[java.math.BigDecimal]("a_k")),
          BigDecimal(r.getAs[java.math.BigDecimal]("h_k")),
          BigDecimal(r.getAs[java.math.BigDecimal]("t_k"))))
      }.toMap
    require(per.contains(0), "pacfDailyRevenue: empty series")
    val (n, _, s, _) = per(0)
    def num(k: Int): BigDecimal = per.get(k) match {
      case None => BigDecimal(0)
      case Some((m, ak, hk, tk)) =>
        BigDecimal(n) * BigDecimal(n) * ak -
          BigDecimal(n) * s * (hk + tk) + BigDecimal(m) * s * s
    }
    val num0 = num(0)
    val rho = Array.tabulate(maxLag + 1) { k =>
      if (k == 0) 1.0
      else if (num0 == 0) 0.0
      else num(k).toDouble / num0.toDouble
    }
    val phi = Array.ofDim[Double](maxLag + 1, maxLag + 1)
    if (maxLag >= 1) phi(1)(1) = rho(1)
    for (k <- 2 to maxLag) {
      var numv = rho(k)
      var j = 1
      while (j < k) { numv -= phi(k - 1)(j) * rho(k - j); j += 1 }
      var denv = 1.0
      j = 1
      while (j < k) { denv -= phi(k - 1)(j) * rho(j); j += 1 }
      val pkk = numv / denv
      phi(k)(k) = pkk
      j = 1
      while (j < k) {
        phi(k)(j) = phi(k - 1)(j) - pkk * phi(k - 1)(k - j); j += 1
      }
    }
    (1 to maxLag).map(k => (k.toLong, rho(k), phi(k)(k)))
      .toDF("lag", "rho", "pacf")
  }

  /** [[pacfDailyRevenue]]'s twin: same exact-integer ACF numerators in
    * HUGEINT, the Durbin–Levinson cascade UNROLLED as chained CTEs with
    * the subtraction order pinned to the Scala loop's left fold.
    */
  private def duckPacfSql(maxLag: Int = PacfMaxLag): String = {
    val pairArms = (0 to maxLag).map { k =>
      s"""  SELECT $k AS lag, a.y AS x, b.y AS z
         |  FROM daily a JOIN daily b ON a.day = b.day + $k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val pivot = (0 to maxLag).map { k =>
      s"coalesce(max(CASE WHEN lag = $k THEN num END), 0) AS num_$k"
    }.mkString(",\n         ")
    val rhoCols = (1 to maxLag).map { k =>
      s"""CASE WHEN num_0 = 0 THEN 0.0
         |              ELSE CAST(num_$k AS DOUBLE) / CAST(num_0 AS DOUBLE)
         |         END AS rho_$k""".stripMargin
    }.mkString(",\n         ")
    val dl = new StringBuilder
    var prev = "rhos2"
    if (maxLag >= 1) {
      dl.append("p1 AS (SELECT *, rho_1 AS phi_1_1 FROM rhos2)")
      prev = "p1"
    }
    for (k <- 2 to maxLag) {
      val numExpr = (1 until k).foldLeft(s"rho_$k") { (acc, j) =>
        s"$acc - phi_${k - 1}_$j * rho_${k - j}"
      }
      val denExpr = (1 until k).foldLeft("CAST(1.0 AS DOUBLE)") {
        (acc, j) => s"$acc - phi_${k - 1}_$j * rho_$j"
      }
      dl.append(",\n").append(
        s"q$k AS (SELECT *, ($numExpr) / ($denExpr) AS phi_${k}_$k " +
          s"FROM $prev)")
      prev = s"q$k"
      if (k < maxLag) {
        val updates = (1 until k).map { j =>
          s"phi_${k - 1}_$j - phi_${k}_$k * phi_${k - 1}_${k - j} " +
            s"AS phi_${k}_$j"
        }.mkString(",\n  ")
        dl.append(",\n").append(s"r$k AS (SELECT *,\n  $updates\nFROM $prev)")
        prev = s"r$k"
      }
    }
    val finals = (1 to maxLag).map { k =>
      s"  SELECT CAST($k AS BIGINT) AS lag, rho_$k AS rho, " +
        s"phi_${k}_$k AS pacf FROM $prev"
    }.mkString("\n  UNION ALL\n")
    s"""WITH daily AS (
       |  SELECT CAST(datediff('day', DATE '1995-01-01',
       |                       CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
       |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
       |              AS BIGINT) // 100000 AS y
       |  FROM orders GROUP BY 1),
       |pairs AS (
       |$pairArms),
       |per AS (
       |  SELECT lag, count(*) AS m,
       |         sum(CAST(x AS HUGEINT) * CAST(z AS HUGEINT)) AS a_k,
       |         sum(CAST(z AS HUGEINT)) AS h_k,
       |         sum(CAST(x AS HUGEINT)) AS t_k
       |  FROM pairs GROUP BY 1),
       |g AS (SELECT m AS n, h_k AS s FROM per WHERE lag = 0),
       |nums AS (
       |  SELECT per.lag,
       |         CAST(g.n AS HUGEINT) * CAST(g.n AS HUGEINT) * per.a_k -
       |         CAST(g.n AS HUGEINT) * g.s * (per.h_k + per.t_k) +
       |         CAST(per.m AS HUGEINT) * g.s * g.s AS num
       |  FROM per, g),
       |rhos AS (
       |  SELECT $pivot
       |  FROM nums),
       |rhos2 AS (
       |  SELECT *,
       |         $rhoCols
       |  FROM rhos),
       |$dl
       |$finals""".stripMargin
  }

  /** Mann-Kendall trend test per market segment over the daily mean
    * order value series — the non-parametric companion to
    * [[trendSegmentSpend]]'s OLS slope (robust to outliers and
    * non-linearity; the pair a forecasting review runs together).
    *
    * `S = Σ_{i<j} sign(y_j − y_i)` over day pairs, with the
    * ties-corrected variance `Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)
    * (2t_g+5)] / 18` and the continuity-corrected normal score
    * `z = (S∓1)/√Var(S)`. S, the variance numerator, and the tie terms
    * are EXACT integers; `var_s` and `z` are a fixed IEEE tree off them
    * (divide, sqrt, divide) — hash-portable like every statistic here.
    *
    * Scale shape: stage 1 collapses to the day domain (≤ ~2.5k rows per
    * segment); the pair join is day-domain² per segment (≈3M rows per
    * segment at most — bounded by the CALENDAR, not the data), with the
    * day table broadcast. Magnitudes: |S| ≤ n²/2 ≈ 3·10⁶ and
    * `var_num ≤ n·n·2n ≈ 3·10¹⁰` — far inside int64 at any SF.
    */
  def mannKendallSegment(orders: DataFrame, customer: DataFrame): DataFrame = {
    val daily = orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        dayX(col("o_orderdate")).cast("long").as("x"),
        col("o_totalprice"))
      .groupBy("c_mktsegment", "x")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      .withColumn("y", expr("rev_cents div (n_orders * 100)"))
      .select("c_mktsegment", "x", "y")
    val sTbl = daily.as("a")
      .join(broadcast(daily.as("b")),
        col("a.c_mktsegment") === col("b.c_mktsegment") &&
          col("a.x") < col("b.x"))
      .groupBy(col("a.c_mktsegment").as("c_mktsegment"))
      .agg(sum(when(col("b.y") > col("a.y"), 1L)
        .when(col("b.y") < col("a.y"), -1L).otherwise(0L)).as("s_stat"))
    val nTbl = daily.groupBy("c_mktsegment").agg(count(lit(1)).as("n_days"))
    val tieTbl = daily.groupBy("c_mktsegment", "y")
      .agg(count(lit(1)).as("t"))
      .groupBy("c_mktsegment")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tie_term"))
    sTbl.join(broadcast(nTbl), Seq("c_mktsegment"))
      .join(broadcast(tieTbl), Seq("c_mktsegment"))
      .withColumn("var_num",
        col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5) -
          col("tie_term"))
      .withColumn("var_s", col("var_num").cast("double") / lit(18.0))
      .withColumn("z",
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
        .when(col("s_stat") < 0,
          (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
        .otherwise(lit(0.0)))
      .select("c_mktsegment", "n_days", "s_stat", "tie_term", "var_num",
        "var_s", "z")
  }

  /** Theil–Sen robust trend per market segment: the LOWER MEDIAN of all
    * pairwise slopes of the weekly mean order value series — the
    * estimator that pairs with [[mannKendallSegment]] (Kendall tests
    * direction, Theil–Sen sizes it, both outlier-robust).
    *
    * Median selection is by RANK, not interpolation: slopes are exact
    * IEEE divisions of integer deltas, every engine computes the
    * identical doubles, and the lower median is the row with
    * `row_number = (n_pairs + 1) div 2` under the total order
    * (slope, week_a, week_b) — no midpoint averaging, whose
    * `lo + frac·(hi−lo)` interpolation trees differ across engines in
    * the last ulp. Reported with the exact integer delta pair behind
    * the chosen slope.
    *
    * Scale shape: weeks collapse the data to ≤ ~350 rows per segment, so
    * the pair table is C(weeks, 2) ≈ 60k per segment — CALENDAR²-bounded
    * at any corpus size; the ranking window is partitioned by segment
    * over that bounded table.
    */
  /** Weekly mean spend (whole dollars, floor) per market segment — the
    * shared (x, y) table of BOTH trend estimators ([[theilSenSegment]],
    * [[olsSegment]]), split out so the robust and least-squares slopes
    * can never drift onto different pre-aggregates.
    */
  private def weeklySegmentSpend(orders: DataFrame,
      customer: DataFrame): DataFrame =
    orders
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"),
        expr(s"datediff(cast(o_orderdate as date), date'1995-01-01') div 7")
          .cast("long").as("w"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      .withColumn("y", expr("rev_cents div (n_orders * 100)"))
      .select("c_mktsegment", "w", "y")

  /** GROUPED OLS TREND — per-segment least-squares slope/intercept/R²
    * over the SAME weekly spend table [[theilSenSegment]] medians: the
    * pair an analyst reads together (OLS is efficient under clean data,
    * Theil–Sen robust to outliers — divergence between them IS the
    * outlier signal). All five moments (n, Σx, Σy, Σx², Σxy, Σy²) are
    * exact int64 sums of the calendar-bounded weekly table;
    * `slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)`,
    * `intercept = (Σy − slope·Σx)/n`, and
    * `R² = num²/(den·(nΣy² − (Σy)²))` are fixed IEEE trees with one
    * division each, zero-variance groups pinned to 0 by the same CASE
    * both sides. One keyed aggregate — no window, no second pass.
    */
  def olsSegment(orders: DataFrame, customer: DataFrame): DataFrame = {
    val d = (c: Column) => c.cast("double")
    weeklySegmentSpend(orders, customer)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_weeks"),
        sum("w").as("sx"), sum("y").as("sy"),
        sum(col("w") * col("w")).as("sxx"),
        sum(col("w") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", col("n_weeks") * col("sxy") -
        col("sx") * col("sy"))
      .withColumn("den", col("n_weeks") * col("sxx") -
        col("sx") * col("sx"))
      .withColumn("deny", col("n_weeks") * col("syy") -
        col("sy") * col("sy"))
      .withColumn("slope", when(col("den") === 0L, lit(0.0))
        .otherwise(d(col("num")) / d(col("den"))))
      .withColumn("intercept",
        (d(col("sy")) - col("slope") * d(col("sx"))) / d(col("n_weeks")))
      .withColumn("r2",
        when(col("den") === 0L || col("deny") === 0L, lit(0.0))
          .otherwise((d(col("num")) * d(col("num"))) /
            (d(col("den")) * d(col("deny")))))
      .select("c_mktsegment", "n_weeks", "slope", "intercept", "r2")
  }

  def theilSenSegment(orders: DataFrame, customer: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = weeklySegmentSpend(orders, customer)
    val pairs = weekly.as("a")
      .join(broadcast(weekly.as("b")),
        col("a.c_mktsegment") === col("b.c_mktsegment") &&
          col("a.w") < col("b.w"))
      .select(col("a.c_mktsegment").as("c_mktsegment"),
        (col("b.y") - col("a.y")).as("dy"),
        (col("b.w") - col("a.w")).as("dx"),
        col("a.w").as("wa"), col("b.w").as("wb"))
      .withColumn("slope", col("dy").cast("double") / col("dx").cast("double"))
    val cnt = pairs.groupBy("c_mktsegment").agg(count(lit(1)).as("n_pairs"))
    val rn = Window.partitionBy("c_mktsegment")
      .orderBy(col("slope"), col("wa"), col("wb"))
    pairs.join(broadcast(cnt), Seq("c_mktsegment"))
      .withColumn("rn", row_number().over(rn).cast("long"))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("c_mktsegment"), col("n_pairs"), col("dy").as("med_dy"),
        col("dx").as("med_dx"), col("slope").as("theil_slope"))
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  /** Spearman rank correlation between daily mean quantity and daily
    * mean line value per returnflag — the robust companion to
    * [[corrQtyValue]]'s Pearson r (rank correlation ignores the
    * marginal distributions; the pair an analyst reads together).
    *
    * Ranks are `row_number` over (value, day) — a DETERMINISTIC
    * tie-break instead of fractional mid-ranks, so both engines produce
    * identical integer ranks and `ρ = 1 − 6Σd²/(n(n²−1))` is exact
    * integers through one fixed IEEE division. Windows are partitioned
    * by returnflag over the DAY-DOMAIN pre-aggregate (≤ ~2.5k rows per
    * group — calendar-bounded, same argument as [[trendSegmentSpend]]);
    * `Σd² ≤ n³ ≈ 1.4·10¹⁰` needs (and gets) int64.
    */
  def spearmanQtyValue(lineitem: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val daily = lineitem
      .select(col("l_returnflag"),
        dayX(col("l_shipdate")).cast("long").as("day"),
        col("l_quantity"), col("l_extendedprice"))
      .groupBy("l_returnflag", "day")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("long").as("qty_sum"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("val_cents"))
      .select(col("l_returnflag"), col("day"),
        expr("qty_sum div n_items").as("x"),
        expr("val_cents div (n_items * 100)").as("y"))
    val ranked = daily
      .withColumn("rx", row_number().over(
        w.partitionBy("l_returnflag").orderBy("x", "day")).cast("long"))
      .withColumn("ry", row_number().over(
        w.partitionBy("l_returnflag").orderBy("y", "day")).cast("long"))
    ranked.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_days"),
        sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("d2_sum"))
      .withColumn("rho",
        lit(1.0) - lit(6.0) * col("d2_sum").cast("double") /
          (col("n_days") * (col("n_days") * col("n_days") - 1))
            .cast("double"))
      .select("l_returnflag", "n_days", "d2_sum", "rho")
  }

  /** Critical-value coefficient for [[ksEventValues]]' α=0.05 line
    * (the classic two-sample Kolmogorov–Smirnov c(α)).
    */
  val KsCrit05 = 1.358

  /** Exact two-sample Kolmogorov–Smirnov test between the value
    * distributions of two event types — the drift check a pipeline runs
    * when one source's metric distribution may have shifted.
    *
    * The supremum statistic is computed in INTEGERS: with per-sample
    * cumulative counts over the pooled cent-value grid,
    * `D·n_a·n_b = max |n_b·cum_a − n_a·cum_b|` — no float CDFs, so the
    * max is exact and `d_stat`/`crit_05`/`reject_05` are a fixed IEEE
    * tree off exact integers. `n_b·cum_a ≤ n_a·n_b ≈ 4·10¹⁸` at n≈2·10⁹
    * per sample — the int64 envelope, documented here (beyond that,
    * pre-scale counts or lift to decimal).
    *
    * Scale shape: stage 1 collapses the fact table to the CENT-VALUE
    * domain (one keyed agg; ≤ ~5.6·10⁴ rows here — bounded by the price
    * grid, not the corpus); the cumulative window runs over that domain
    * (global window audited in PlanLint.BoundedDomainWindows); totals
    * ride a 1-row broadcast.
    */
  def ksEventValues(events: DataFrame, typeA: String = "click",
      typeB: String = "purchase"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val vals = events.filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy("vc")
      .agg(sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("cb"))
      .localCheckpoint() // feeds both the cumulative run and the totals
    val tot = vals.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    val cum = vals
      .withColumn("cum_a", sum("ca").over(w.orderBy("vc")
        .rowsBetween(w.unboundedPreceding, w.currentRow)))
      .withColumn("cum_b", sum("cb").over(w.orderBy("vc")
        .rowsBetween(w.unboundedPreceding, w.currentRow)))
    cum.crossJoin(broadcast(tot))
      .groupBy("n_a", "n_b")
      .agg(max(abs(col("n_b") * col("cum_a") - col("n_a") * col("cum_b")))
        .as("d_num"))
      .withColumn("d_stat", col("d_num").cast("double") /
        (col("n_a") * col("n_b")).cast("double"))
      .withColumn("crit_05", lit(KsCrit05) *
        sqrt((col("n_a") + col("n_b")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")))
      .withColumn("reject_05", (col("d_stat") > col("crit_05")).cast("int"))
      .select("n_a", "n_b", "d_num", "d_stat", "crit_05", "reject_05")
  }

  /** Per-day distribution-drift monitor: for every day, the EXACT
    * two-sample Kolmogorov–Smirnov distance between that day's event
    * values and the whole corpus — the "did today's metric distribution
    * shift?" sweep a pipeline runs over a new partition before
    * trusting it ([[ksEventValues]] is the pairwise form; this is the
    * partitioned production form).
    *
    * == Exactness without evaluating every day on the global grid ==
    * `sup_x |F_day − F_g|` needs, in principle, the day CDF at every
    * GLOBAL jump point (days × grid rows — quadratic). Instead: between
    * two consecutive day points F_day is constant and F_g is
    * non-decreasing, so on each interval the sup is attained at one of
    * the two one-sided endpoints. Hence per day point q it suffices to
    * take the larger of
    *   `|N·cum_d(q) − n_d·G(q)|`  (value AT q) and
    *   `|N·(cum_d(q)−m_d(q)) − n_d·(G(q)−g(q))|`  (left limit at q,
    * which also covers the interval before the day's first point),
    * all integers on the cross-multiplied `n_d·N` denominator. The
    * per-day max over those candidates is exactly `D·n_d·N`.
    *
    * Scale shape: stage 1 is one keyed agg to (day, cent) masses; the
    * day CDFs are day-partitioned windows; the global CDF is one
    * window over the CENT-VALUE grid (audited in
    * PlanLint.BoundedDomainWindows); the join back is keyed on the
    * cent value. Envelope: `N·n_d ≤ 9.2·10¹⁸` bounds int64 (past that,
    * coarsen the value grid or pre-scale counts).
    */
  def dailyValueDrift(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val vals = events.select(to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy("day", "vc").agg(count(lit(1)).as("m"))
      .localCheckpoint() // feeds day CDFs, the global CDF, and totals
    val gcum = vals.groupBy("vc").agg(sum("m").as("gm"))
      .withColumn("gc", sum("gm").over(w.orderBy("vc")
        .rowsBetween(w.unboundedPreceding, w.currentRow)))
    val nTot = vals.agg(sum("m").as("n_tot"))
    val nDay = vals.groupBy("day").agg(sum("m").as("n_day"))
    vals
      .withColumn("dc", sum("m").over(w.partitionBy("day").orderBy("vc")
        .rowsBetween(w.unboundedPreceding, w.currentRow)))
      .join(broadcast(gcum), Seq("vc"))
      .join(broadcast(nDay), Seq("day"))
      .crossJoin(broadcast(nTot))
      .select(col("day"), col("n_day"), col("n_tot"),
        greatest(
          abs(col("n_tot") * col("dc") - col("n_day") * col("gc")),
          abs(col("n_tot") * (col("dc") - col("m")) -
            col("n_day") * (col("gc") - col("gm")))).as("cand"))
      .groupBy("day", "n_day", "n_tot")
      .agg(max(col("cand")).as("d_num"))
      .withColumn("d_stat", col("d_num").cast("double") /
        (col("n_day") * col("n_tot")).cast("double"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_day"), col("n_tot"), col("d_num"), col("d_stat"))
  }

  /** Single changepoint in the daily-revenue series by binary
    * segmentation (the first split of the CUSUM-family segmentation
    * [[graft.etl.TimeSeries]]'s CUSUM monitors): the split day
    * maximizing the between-segment term `S₁²/n₁ + S₂²/n₂` — equivalent
    * to minimizing total within-segment SSE, since they differ by the
    * constant `Σx² − S²/n`.
    *
    * Cumulative sums are EXACT int64 cents over the day domain (global
    * window audited in PlanLint.BoundedDomainWindows; `S ≤ 2.4·10¹⁸`
    * cents only past ~10⁶× this SF — switch the pre-agg to whole
    * dollars first). The score squares S in doubles (S² would overflow
    * int64), as the identical IEEE tree on both engines; argmax is
    * TakeOrdered on (score DESC, day) — one row out, ties broken on the
    * raw day index.
    */
  def changepointDailyRevenue(orders: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val daily = orders
      .select(dayX(col("o_orderdate")).cast("long").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum("cents").as("rev"))
    val tot = daily.agg(sum("rev").as("s_tot"), count(lit(1)).as("n_tot"))
    daily
      .withColumn("n1", row_number().over(w.orderBy("day")).cast("long"))
      .withColumn("s1", sum("rev").over(w.orderBy("day")
        .rowsBetween(w.unboundedPreceding, w.currentRow)))
      .crossJoin(broadcast(tot))
      .filter(col("n1") < col("n_tot")) // a split leaves both sides non-empty
      .withColumn("n2", col("n_tot") - col("n1"))
      .withColumn("s2", col("s_tot") - col("s1"))
      .withColumn("score",
        col("s1").cast("double") * col("s1").cast("double") /
          col("n1").cast("double") +
        col("s2").cast("double") * col("s2").cast("double") /
          col("n2").cast("double"))
      .orderBy(desc("score"), asc("day")).limit(1)
      .select(col("day").as("split_day"), col("n1"), col("n2"),
        col("s1"), col("s2"), col("score"),
        (col("s1").cast("double") / (col("n1") * 100).cast("double"))
          .as("mean_left"),
        (col("s2").cast("double") / (col("n2") * 100).cast("double"))
          .as("mean_right"))
  }

  /** Bootstrap resample arms — 16 keeps the arm table readable while
    * the arm-to-arm spread is already a usable CI width. */
  val BootstrapArms = 16

  /** Poisson(1) inverse-CDF thresholds on the u32 hash domain
    * (`floor(P(X ≤ k) · 2³²)` for k = 0..5; the k=6 cap absorbs the
    * ~5.9e-4 tail): a uniform u32 compared against these integer
    * literals yields a deterministic Poisson(1) draw with NO floating
    * comparison anywhere, so the resample replays exactly cross-engine.
    */
  val PoissonCdfU32: Seq[Long] = Seq(1580030168L, 3160060337L,
    3950075421L, 4213413783L, 4279248373L, 4292415291L)

  /** POISSON BOOTSTRAP over mean order value — the distributed
    * bootstrap (each row draws its per-arm multiplicity from
    * Poisson(1) instead of the n-out-of-n resample, the standard
    * streaming/MapReduce reformulation): `arms` deterministic resample
    * arms of `orders`, each reporting draw count, exact drawn cents,
    * and the arm mean. The arm table IS the bootstrap distribution of
    * the mean — CI endpoints are order statistics of these rows.
    *
    * == Scale shape ==
    * One narrow explode (×arms) over the fact stream feeding ONE
    * keyed aggregation on the `arms`-sized domain — map-side partials
    * absorb everything, no join, no window, no second pass. At any
    * corpus size the output is `arms` rows.
    *
    * == Determinism ==
    * The per-(row, arm) multiplicity is the portable Knuth-hash u32 of
    * `o_orderkey·arms + arm` (same hash + id-domain guard as
    * [[graft.ext.Corpus.shardAssign]]) cut by [[PoissonCdfU32]] —
    * all-integer; the only double is the final mean, an identical
    * IEEE division of exact BIGINT sums on both engines.
    */
  def poissonBootstrap(orders: DataFrame,
      arms: Int = BootstrapArms): DataFrame = {
    val maxId = Long.MaxValue / 2654435761L
    val key = col("o_orderkey") * arms + col("arm")
    val guarded = when(key.between(0L, maxId), key)
      .otherwise(raise_error(lit(
        s"poissonBootstrap: key outside portable-hash domain [0, $maxId]")))
    val h = (guarded * 2654435761L) % 4294967296L
    val draw = PoissonCdfU32.zipWithIndex
      .foldRight(lit(PoissonCdfU32.length): Column) {
        case ((t, k), els) => when(h < t, lit(k)).otherwise(els)
      }
    orders
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        explode(sequence(lit(0L), lit((arms - 1).toLong))).as("arm"))
      .select(col("arm"), col("cents"), draw.cast("long").as("w"))
      .groupBy("arm")
      .agg(sum("w").as("n_draws"),
        sum(col("w") * col("cents")).as("draw_cents"))
      .select(col("arm"), col("n_draws"), col("draw_cents"),
        when(col("n_draws") === 0L, lit(null).cast("double"))
          .otherwise(col("draw_cents").cast("double") / col("n_draws"))
          .as("mean_cents"))
  }

  /** Replicates drawn by [[permutationTest]]. */
  val PermutationReps = 64

  /** PERMUTATION TEST of the variant effect on per-user spend — the
    * assumption-free companion of `ab_test_*`: under H₀ (assignment
    * doesn't matter) every relabeling of users is equally likely, so
    * the observed arm-mean difference is compared against the
    * difference under [[PermutationReps]] pseudo-random relabelings
    * and `p = (#{|Δ_r| ≥ |Δ_obs|} + 1) / (R + 1)` — the Phipson &
    * Smith (2010) estimator: the observed labeling is itself one valid
    * permutation, so the p-value can never be exactly 0, keeping the
    * test calibrated under H₀. Relabelings come from the
    * portable Knuth hash of `user_id·R + rep` (the [[poissonBootstrap]]
    * key device) — deterministic and exactly replayable on both
    * engines, the same replayability-over-secrecy trade documented on
    * `privacy_dp_counts`.
    *
    * Exactness: each replicate reduces to two exact integers (its arm-0
    * count and cent sum) against the shared totals; every Δ is the
    * same fixed four-division IEEE tree on both sides, so the ≥
    * comparisons — and therefore the p-value — can never split
    * engines. Degenerate one-arm relabelings (possible only on tiny
    * fixtures) yield NULL Δ and count as non-exceeding on both sides.
    *
    * Scale shape: ONE corpus aggregate to per-user spend; the
    * replicate explosion rides the USER-level table (R× users rows,
    * partial-aggregated map-side into R groups), never the event
    * stream. Two metadata-sized broadcasts close the readout.
    */
  def permutationTest(ev: DataFrame,
      reps: Int = PermutationReps): DataFrame = {
    val perUser = ev.groupBy(col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("variant", (col("user_id") % 2).cast("long"))
    val obs = perUser.agg(
      count(lit(1)).as("n"), sum("cents").as("s"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 0, col("cents")).otherwise(0L)).as("s0"))
    val maxId = Long.MaxValue / 2654435761L
    val key = col("user_id") * reps + col("rep")
    val guarded = when(key.between(0L, maxId), key)
      .otherwise(raise_error(lit(
        s"permutationTest: key outside portable-hash domain [0, $maxId]")))
    // arm = HIGH bit of the 32-bit hash (h >= 2^31): the LOW bit of a
    // multiplicative hash is just the key's parity (odd constant), which
    // with an even `reps` would collapse every replicate to one arm
    val assign = (((guarded * 2654435761L) % 4294967296L) >=
      lit(2147483648L)).cast("long")
    val repAgg = perUser
      .select(col("user_id"), col("cents"),
        explode(sequence(lit(0L), lit((reps - 1).toLong))).as("rep"))
      .withColumn("a", assign)
      .groupBy("rep")
      .agg(sum(when(col("a") === 0L, 1L).otherwise(0L)).as("rn0"),
        sum(when(col("a") === 0L, col("cents")).otherwise(0L)).as("rs0"))
    val d = (c: Column) => c.cast("double")
    val joined = repAgg.crossJoin(broadcast(obs))
      .withColumn("obs_delta",
        when(col("n0") === 0L || col("n0") === col("n"),
          lit(null).cast("double"))
          .otherwise(d(col("s0")) / d(col("n0")) -
            d(col("s") - col("s0")) / d(col("n") - col("n0"))))
      .withColumn("delta",
        when(col("rn0") === 0L || col("rn0") === col("n"),
          lit(null).cast("double"))
          .otherwise(d(col("rs0")) / d(col("rn0")) -
            d(col("s") - col("rs0")) / d(col("n") - col("rn0"))))
      .withColumn("exceeds",
        when(col("delta").isNull || col("obs_delta").isNull, 0L)
          .otherwise(when(abs(col("delta")) >= abs(col("obs_delta")), 1L)
            .otherwise(0L)))
    val p = joined.agg(sum("exceeds").as("n_exceed"))
    joined.crossJoin(broadcast(p))
      .select(col("rep"), col("rn0").as("n0"), col("rs0").as("s0_cents"),
        col("delta"), col("obs_delta"),
        ((col("n_exceed") + 1L).cast("double") / lit((reps + 1).toDouble))
          .as("p_value"))
  }

  /** BH numerator of the FDR level: q = [[BhFdrQNum]]/10. */
  val BhFdrQNum = 1L

  /** BENJAMINI–HOCHBERG FDR across per-segment permutation tests — the
    * multiple-testing step every metrics platform needs once it tests
    * MANY segments (test 20 segments at α=0.05 and one "wins" by
    * chance): per event-type segment, the [[permutationTest]] machinery
    * yields an EXACT RATIONAL p-value `(c+1)/(R+1)` (exceed count over
    * replicates, Phipson & Smith 2010 — the observed labeling counts as
    * one permutation), and the BH step-up at q = 0.1 — reject all
    * segments ranked ≤ max{k : p₍ₖ₎ ≤ k·q/m} — is then decided ENTIRELY
    * in integers: `p_k ≤ k·q/m  ⇔  (c_k+1)·m·10 ≤ k·(R+1)·`[[BhFdrQNum]],
    * so the
    * reject set can never split engines. Ties in p rank by segment name
    * (deterministic); degenerate segments (one-arm observed split)
    * carry NULL p and stand outside the BH family on both sides.
    *
    * Scale shape: one corpus aggregate to (user, segment) spend; the
    * replicate explosion rides that table; everything after is keyed by
    * (segment, rep) — both bounded. The BH window runs over m ≤ dozens
    * of segment rows.
    */
  def bhFdrSegments(ev: DataFrame,
      reps: Int = PermutationReps): DataFrame = {
    val perUser = ev
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      .withColumn("variant", (col("user_id") % 2).cast("long"))
    val obs = perUser.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum("cents").as("s"),
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 0, col("cents")).otherwise(0L)).as("s0"))
    val maxId = Long.MaxValue / 2654435761L
    val key = col("user_id") * reps + col("rep")
    val guarded = when(key.between(0L, maxId), key)
      .otherwise(raise_error(lit(
        s"bhFdrSegments: key outside portable-hash domain [0, $maxId]")))
    val assign = (((guarded * 2654435761L) % 4294967296L) >=
      lit(2147483648L)).cast("long")
    val repAgg = perUser
      .select(col("event_type"), col("user_id"), col("cents"),
        explode(sequence(lit(0L), lit((reps - 1).toLong))).as("rep"))
      .withColumn("a", assign)
      .groupBy("event_type", "rep")
      .agg(sum(when(col("a") === 0L, 1L).otherwise(0L)).as("rn0"),
        sum(when(col("a") === 0L, col("cents")).otherwise(0L)).as("rs0"))
    val d = (c: Column) => c.cast("double")
    val joined = repAgg.join(broadcast(obs), Seq("event_type"))
      .withColumn("obs_delta",
        when(col("n0") === 0L || col("n0") === col("n"),
          lit(null).cast("double"))
          .otherwise(d(col("s0")) / d(col("n0")) -
            d(col("s") - col("s0")) / d(col("n") - col("n0"))))
      .withColumn("delta",
        when(col("rn0") === 0L || col("rn0") === col("n"),
          lit(null).cast("double"))
          .otherwise(d(col("rs0")) / d(col("rn0")) -
            d(col("s") - col("rs0")) / d(col("n") - col("rn0"))))
      .withColumn("exceeds",
        when(col("obs_delta").isNull, lit(null).cast("long"))
          .otherwise(when(col("delta").isNotNull &&
            abs(col("delta")) >= abs(col("obs_delta")), 1L).otherwise(0L)))
    val perSeg = joined.groupBy("event_type")
      .agg(max(when(col("obs_delta").isNull, 1L).otherwise(0L))
        .as("degenerate"),
        sum("exceeds").as("c"))
      .withColumn("c", when(col("degenerate") === 1L,
        lit(null).cast("long")).otherwise(col("c")))
      .drop("degenerate")
    val mDf = perSeg.agg(
      sum(when(col("c").isNotNull, 1L).otherwise(0L)).as("m"))
    val wRank = Window.orderBy(col("c").asc_nulls_last, col("event_type"))
    val ranked = perSeg.crossJoin(broadcast(mDf))
      .withColumn("rank",
        when(col("c").isNull, lit(null).cast("long"))
          .otherwise(row_number().over(wRank).cast("long")))
      .withColumn("bh_ok",
        when(col("c").isNull, 0L)
          .otherwise(when((col("c") + 1L) * col("m") * 10L <=
            col("rank") * (reps + 1) * BhFdrQNum, 1L).otherwise(0L)))
    val kmax = ranked.agg(
      coalesce(max(when(col("bh_ok") === 1L, col("rank"))), lit(0L))
        .as("kmax"))
    ranked.crossJoin(broadcast(kmax))
      .select(col("event_type"), col("c").as("n_exceed"),
        when(col("c").isNull, lit(null).cast("double"))
          .otherwise(d(col("c") + 1L) / lit((reps + 1).toDouble))
          .as("p_value"),
        col("rank"), col("m"),
        when(col("rank").isNotNull && col("rank") <= col("kmax"), 1L)
          .otherwise(0L).as("rejected"))
  }

  /** WELCH'S UNEQUAL-VARIANCE t-TEST between two order-priority
    * cohorts' order values — the parametric companion of
    * [[ksEventValues]] (distribution-free) and `ab_test_mann_whitney`
    * (rank-based): same two-sample question, answered through means
    * and variances with the Welch–Satterthwaite degrees of freedom.
    *
    * Exactness: the corpus pass reduces each cohort to three exact
    * integers — n, Σx, Σx² over whole-DOLLAR order values (`cents div
    * 100`; at sf0.1 Σx² ≈ 10¹⁶, inside int64 through sf≈10⁴ — past
    * that, lift ss to DECIMAL(38,0), the sums stay exact). Every
    * fractional column is then a fixed IEEE tree over those six
    * integers, written ONCE on each side in the same operation order
    * (mean → variance → per-cohort SE² → t → df), so the doubles agree
    * bit-for-bit: `var = (Σx² − Σx·mean)/(n−1)`, `t = Δmean/√(se²ₐ +
    * se²ᵦ)`, `df = (se²ₐ+se²ᵦ)² / (se²ₐ²/(nₐ−1) + se²ᵦ²/(nᵦ−1))`.
    *
    * Scale shape: one partial-aggregating groupBy over the fact table
    * into TWO rows, then a single-row pivot — no window, no sort, no
    * second corpus pass at any SF.
    */
  def welchTOrderValues(orders: DataFrame,
      priA: String = "1-URGENT", priB: String = "5-LOW"): DataFrame = {
    val byGrp = orders
      .filter(col("o_orderpriority").isin(priA, priB))
      .select(
        when(col("o_orderpriority") === priA, "a").otherwise("b").as("grp"),
        expr("cast(round(o_totalprice * 100) as long) div 100").as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"))
    byGrp.agg(
        max(when(col("grp") === "a", col("n"))).as("n_a"),
        max(when(col("grp") === "b", col("n"))).as("n_b"),
        max(when(col("grp") === "a", col("s"))).as("s_a"),
        max(when(col("grp") === "b", col("s"))).as("s_b"),
        max(when(col("grp") === "a", col("ss"))).as("ss_a"),
        max(when(col("grp") === "b", col("ss"))).as("ss_b"))
      .withColumn("mean_a", col("s_a").cast("double") / col("n_a"))
      .withColumn("mean_b", col("s_b").cast("double") / col("n_b"))
      .withColumn("var_a",
        (col("ss_a").cast("double") - col("s_a").cast("double") * col("mean_a")) /
          (col("n_a") - 1))
      .withColumn("var_b",
        (col("ss_b").cast("double") - col("s_b").cast("double") * col("mean_b")) /
          (col("n_b") - 1))
      .withColumn("se2_a", col("var_a") / col("n_a"))
      .withColumn("se2_b", col("var_b") / col("n_b"))
      .withColumn("t_stat", (col("mean_a") - col("mean_b")) /
        sqrt(col("se2_a") + col("se2_b")))
      .withColumn("df_welch",
        ((col("se2_a") + col("se2_b")) * (col("se2_a") + col("se2_b"))) /
          (col("se2_a") * col("se2_a") / (col("n_a") - 1) +
            col("se2_b") * col("se2_b") / (col("n_b") - 1)))
      .select("n_a", "n_b", "s_a", "s_b", "ss_a", "ss_b",
        "mean_a", "mean_b", "var_a", "var_b", "t_stat", "df_welch")
  }

  /** The five TPC-H order priorities, in fixed slot order — the ANOVA
    * pivot and its twin must sum group terms in the SAME order for the
    * IEEE trees to agree. */
  val AnovaPriorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** ONE-WAY ANOVA F-TEST across all five order-priority cohorts — the
    * k-group generalization of [[welchTOrderValues]]: does order value
    * differ anywhere across priorities? Same exact-moments contract:
    * the corpus pass reduces each cohort to (n, Σx, Σx²) over
    * whole-dollar values, the pivot packs the 15 integers into one
    * row, and every fractional column is a fixed IEEE tree evaluated
    * in the SAME left-to-right group order on both sides:
    * `SST = Σx²_tot − Σx_tot·x̄`, `SSW = Σ_g (Σx²_g − Σx_g·x̄_g)`
    * (five terms, slot order), `SSB = SST − SSW`,
    * `F = (SSB/(k−1)) / (SSW/(N−k))`.
    *
    * Scale shape: identical to Welch — one partial-aggregating groupBy
    * into FIVE rows, a single-row pivot, no second corpus pass.
    */
  def anovaOrderValues(orders: DataFrame): DataFrame = {
    val k = AnovaPriorities.length
    val byGrp = orders
      .filter(col("o_orderpriority").isin(AnovaPriorities: _*))
      .select(col("o_orderpriority").as("grp"),
        expr("cast(round(o_totalprice * 100) as long) div 100").as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"))
    val slots = AnovaPriorities.zipWithIndex
    val pivots =
      slots.map { case (p, i) =>
        max(when(col("grp") === p, col("n"))).as(s"n_$i") } ++
      slots.map { case (p, i) =>
        max(when(col("grp") === p, col("s"))).as(s"s_$i") } ++
      slots.map { case (p, i) =>
        max(when(col("grp") === p, col("ss"))).as(s"ss_$i") }
    var row = byGrp.agg(pivots.head, pivots.tail: _*)
    row = row
      .withColumn("n_tot",
        slots.map { case (_, i) => col(s"n_$i") }.reduce(_ + _))
      .withColumn("s_tot",
        slots.map { case (_, i) => col(s"s_$i") }.reduce(_ + _))
      .withColumn("ss_tot",
        slots.map { case (_, i) => col(s"ss_$i") }.reduce(_ + _))
      .withColumn("grand_mean", col("s_tot").cast("double") / col("n_tot"))
      .withColumn("sst", col("ss_tot").cast("double") -
        col("s_tot").cast("double") * col("grand_mean"))
    for ((_, i) <- slots) {
      row = row.withColumn(s"w_$i",
        col(s"ss_$i").cast("double") - col(s"s_$i").cast("double") *
          (col(s"s_$i").cast("double") / col(s"n_$i")))
    }
    row
      .withColumn("ssw",
        slots.map { case (_, i) => col(s"w_$i") }.reduce(_ + _))
      .withColumn("ssb", col("sst") - col("ssw"))
      .withColumn("df1", lit((k - 1).toLong))
      .withColumn("df2", col("n_tot") - k)
      .withColumn("f_stat",
        (col("ssb") / col("df1")) / (col("ssw") / col("df2")))
      .select("n_tot", "df1", "df2", "sst", "ssw", "ssb", "f_stat")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stats_anova" -> ((s, d) => anovaOrderValues(Tables.orders(s, d))),
    "stats_welch_t" -> ((s, d) => welchTOrderValues(Tables.orders(s, d))),
    "stats_bootstrap" -> ((s, d) => poissonBootstrap(Tables.orders(s, d))),
    "stats_spearman" -> ((s, d) => spearmanQtyValue(Tables.lineitem(s, d))),
    "stats_ks" -> ((s, d) => ksEventValues(Tables.events(s, d))),
    "stats_permutation" -> ((s, d) => permutationTest(Tables.events(s, d))),
    "stats_bh_fdr" -> ((s, d) => bhFdrSegments(Tables.events(s, d))),
    "drift_daily_ks" -> ((s, d) => dailyValueDrift(Tables.events(s, d))),
    "stats_changepoint" -> ((s, d) =>
      changepointDailyRevenue(Tables.orders(s, d))),
    "stats_theil_sen" -> ((s, d) =>
      theilSenSegment(Tables.orders(s, d), Tables.customer(s, d))),
    "stats_ols_segment" -> ((s, d) =>
      olsSegment(Tables.orders(s, d), Tables.customer(s, d))),
    "stats_mann_kendall" -> ((s, d) =>
      mannKendallSegment(Tables.orders(s, d), Tables.customer(s, d))),
    "ts_autocorr" -> ((s, d) => autocorrDailyRevenue(Tables.orders(s, d))),
    "ts_pacf" -> ((s, d) => pacfDailyRevenue(Tables.orders(s, d))),
    "ts_rolling_corr" -> ((s, d) => rollingCorrDaily(Tables.orders(s, d))),
    "stats_trend_segment" -> ((s, d) =>
      trendSegmentSpend(Tables.orders(s, d), Tables.customer(s, d))),
    "stats_corr_qty_value" -> ((s, d) => corrQtyValue(Tables.lineitem(s, d))),
    "concentration_hhi" -> ((s, d) =>
      hhiRegionRevenue(Tables.orders(s, d), Tables.customer(s, d),
        Tables.nation(s, d), Tables.region(s, d))),
    "quality_benford" -> ((s, d) => benfordOrderTotals(Tables.orders(s, d))),
  )

  /** DuckDB twins — CTEs pin the same exact-integer stages and the same
    * IEEE expression trees (`//` is DuckDB's integer floor division,
    * equal to Spark's `div` for the non-negative operands here).
    */
  /** ANOVA twin, generated from [[AnovaPriorities]] so the slot order —
    * and therefore every left-associated group sum — matches the Spark
    * pivot exactly. */
  private def duckAnovaSql: String = {
    val k = AnovaPriorities.length
    val slots = AnovaPriorities.zipWithIndex
    val inList = AnovaPriorities.map(p => s"'$p'").mkString(", ")
    val pivots = (slots.map { case (p, i) =>
      s"max(CASE WHEN grp = '$p' THEN n END) AS n_$i" } ++
      slots.map { case (p, i) =>
        s"max(CASE WHEN grp = '$p' THEN s END) AS s_$i" } ++
      slots.map { case (p, i) =>
        s"max(CASE WHEN grp = '$p' THEN ss END) AS ss_$i" })
      .mkString(",\n         ")
    def sumOf(pfx: String) =
      slots.map { case (_, i) => s"${pfx}_$i" }.mkString(" + ")
    val wTerms = slots.map { case (_, i) =>
      s"""CAST(ss_$i AS DOUBLE) - CAST(s_$i AS DOUBLE) *
         |           (CAST(s_$i AS DOUBLE) / n_$i) AS w_$i""".stripMargin
    }.mkString(",\n         ")
    s"""WITH v AS (
       |  SELECT o_orderpriority AS grp,
       |         CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS x
       |  FROM orders WHERE o_orderpriority IN ($inList)),
       |g AS (
       |  SELECT grp, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
       |         CAST(sum(x * x) AS BIGINT) AS ss
       |  FROM v GROUP BY 1),
       |p AS (
       |  SELECT $pivots
       |  FROM g),
       |t AS (
       |  SELECT *, ${sumOf("n")} AS n_tot, ${sumOf("s")} AS s_tot,
       |         ${sumOf("ss")} AS ss_tot
       |  FROM p),
       |m AS (SELECT *, CAST(s_tot AS DOUBLE) / n_tot AS grand_mean FROM t),
       |a AS (
       |  SELECT *,
       |         CAST(ss_tot AS DOUBLE) - CAST(s_tot AS DOUBLE) * grand_mean
       |           AS sst,
       |         $wTerms
       |  FROM m),
       |b AS (SELECT *, ${sumOf("w")} AS ssw FROM a),
       |c AS (SELECT *, sst - ssw AS ssb, CAST(${k - 1} AS BIGINT) AS df1,
       |             n_tot - $k AS df2 FROM b)
       |SELECT n_tot, df1, df2, sst, ssw, ssb,
       |       (ssb / df1) / (ssw / df2) AS f_stat
       |FROM c""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "stats_bh_fdr" -> {
      val reps = PermutationReps
      s"""WITH pu AS (
         |  SELECT event_type, user_id,
         |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |           AS cents,
         |         user_id % 2 AS variant
         |  FROM events GROUP BY 1, 2),
         |o AS (
         |  SELECT event_type, count(*) AS n,
         |         CAST(sum(cents) AS BIGINT) AS s,
         |         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n0,
         |         CAST(sum(CASE WHEN variant = 0 THEN cents ELSE 0 END)
         |              AS BIGINT) AS s0
         |  FROM pu GROUP BY 1),
         |r AS (SELECT range AS rep FROM range(0, $reps)),
         |asg AS (
         |  SELECT event_type, rep,
         |         CAST(sum(CASE WHEN ((pu.user_id * $reps + rep)
         |               * 2654435761) % 4294967296 < 2147483648
         |               THEN 1 ELSE 0 END) AS BIGINT) AS rn0,
         |         CAST(sum(CASE WHEN ((pu.user_id * $reps + rep)
         |               * 2654435761) % 4294967296 < 2147483648
         |               THEN cents ELSE 0 END) AS BIGINT) AS rs0
         |  FROM pu CROSS JOIN r GROUP BY 1, 2),
         |j AS (
         |  SELECT asg.event_type, rn0, rs0, n, s, n0, s0,
         |         CASE WHEN n0 = 0 OR n0 = n THEN NULL
         |              ELSE CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
         |                 - CAST(s - s0 AS DOUBLE) / CAST(n - n0 AS DOUBLE)
         |         END AS obs_delta,
         |         CASE WHEN rn0 = 0 OR rn0 = n THEN NULL
         |              ELSE CAST(rs0 AS DOUBLE) / CAST(rn0 AS DOUBLE)
         |                 - CAST(s - rs0 AS DOUBLE)
         |                   / CAST(n - rn0 AS DOUBLE)
         |         END AS delta
         |  FROM asg JOIN o USING (event_type)),
         |x AS (
         |  SELECT event_type,
         |         CASE WHEN obs_delta IS NULL THEN NULL
         |              WHEN delta IS NOT NULL
         |                   AND abs(delta) >= abs(obs_delta) THEN 1
         |              ELSE 0 END AS exceeds,
         |         CASE WHEN obs_delta IS NULL THEN 1 ELSE 0 END AS degen
         |  FROM j),
         |ps AS (
         |  SELECT event_type,
         |         CASE WHEN max(degen) = 1 THEN NULL
         |              ELSE CAST(sum(exceeds) AS BIGINT) END AS c
         |  FROM x GROUP BY 1),
         |mm AS (
         |  SELECT CAST(sum(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS m
         |  FROM ps),
         |rk AS (
         |  SELECT ps.event_type, ps.c, mm.m,
         |         CASE WHEN ps.c IS NULL THEN NULL
         |              ELSE CAST(row_number() OVER (
         |                     ORDER BY ps.c ASC NULLS LAST, ps.event_type)
         |                   AS BIGINT) END AS rank
         |  FROM ps CROSS JOIN mm),
         |fl AS (
         |  SELECT *, CASE WHEN c IS NULL THEN 0
         |                 WHEN (c + 1) * m * 10
         |                      <= rank * ${reps + 1} * $BhFdrQNum
         |                 THEN 1 ELSE 0 END AS bh_ok
         |  FROM rk),
         |km AS (
         |  SELECT coalesce(max(CASE WHEN bh_ok = 1 THEN rank END),
         |                  CAST(0 AS BIGINT)) AS kmax
         |  FROM fl)
         |SELECT event_type, c AS n_exceed,
         |       CASE WHEN c IS NULL THEN NULL
         |            ELSE CAST(c + 1 AS DOUBLE) / ${reps + 1}.0
         |       END AS p_value,
         |       rank, m,
         |       CAST(CASE WHEN rank IS NOT NULL AND rank <= kmax
         |                 THEN 1 ELSE 0 END AS BIGINT) AS rejected
         |FROM fl CROSS JOIN km""".stripMargin
    },
    "stats_permutation" -> {
      val reps = PermutationReps
      s"""WITH pu AS (
         |  SELECT user_id,
         |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |           AS cents,
         |         user_id % 2 AS variant
         |  FROM events GROUP BY user_id),
         |o AS (
         |  SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
         |         CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n0,
         |         CAST(sum(CASE WHEN variant = 0 THEN cents ELSE 0 END)
         |              AS BIGINT) AS s0
         |  FROM pu),
         |r AS (SELECT range AS rep FROM range(0, $reps)),
         |asg AS (
         |  SELECT rep,
         |         CAST(sum(CASE WHEN ((pu.user_id * $reps + rep)
         |               * 2654435761) % 4294967296 < 2147483648
         |               THEN 1 ELSE 0 END) AS BIGINT) AS rn0,
         |         CAST(sum(CASE WHEN ((pu.user_id * $reps + rep)
         |               * 2654435761) % 4294967296 < 2147483648
         |               THEN cents ELSE 0 END) AS BIGINT) AS rs0
         |  FROM pu CROSS JOIN r GROUP BY rep),
         |j AS (
         |  SELECT rep, rn0, rs0, n, s, n0, s0,
         |         CASE WHEN n0 = 0 OR n0 = n THEN NULL
         |              ELSE CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
         |                 - CAST(s - s0 AS DOUBLE) / CAST(n - n0 AS DOUBLE)
         |         END AS obs_delta,
         |         CASE WHEN rn0 = 0 OR rn0 = n THEN NULL
         |              ELSE CAST(rs0 AS DOUBLE) / CAST(rn0 AS DOUBLE)
         |                 - CAST(s - rs0 AS DOUBLE)
         |                   / CAST(n - rn0 AS DOUBLE)
         |         END AS delta
         |  FROM asg CROSS JOIN o),
         |x AS (
         |  SELECT *, CASE WHEN delta IS NULL OR obs_delta IS NULL THEN 0
         |                 WHEN abs(delta) >= abs(obs_delta) THEN 1
         |                 ELSE 0 END AS exceeds
         |  FROM j),
         |p AS (SELECT CAST(sum(exceeds) AS BIGINT) AS n_exceed FROM x)
         |SELECT rep, rn0 AS n0, rs0 AS s0_cents, delta, obs_delta,
         |       CAST(n_exceed + 1 AS DOUBLE) / ${reps + 1}.0 AS p_value
         |FROM x CROSS JOIN p""".stripMargin
    },
    "stats_anova" -> duckAnovaSql,
    "stats_welch_t" ->
      """WITH v AS (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a'
        |              ELSE 'b' END AS grp,
        |         CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS x
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |g AS (
        |  SELECT grp, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
        |         CAST(sum(x * x) AS BIGINT) AS ss
        |  FROM v GROUP BY 1),
        |p AS (
        |  SELECT max(CASE WHEN grp = 'a' THEN n END) AS n_a,
        |         max(CASE WHEN grp = 'b' THEN n END) AS n_b,
        |         max(CASE WHEN grp = 'a' THEN s END) AS s_a,
        |         max(CASE WHEN grp = 'b' THEN s END) AS s_b,
        |         max(CASE WHEN grp = 'a' THEN ss END) AS ss_a,
        |         max(CASE WHEN grp = 'b' THEN ss END) AS ss_b
        |  FROM g),
        |m AS (
        |  SELECT *, CAST(s_a AS DOUBLE) / n_a AS mean_a,
        |            CAST(s_b AS DOUBLE) / n_b AS mean_b FROM p),
        |w AS (
        |  SELECT *,
        |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * mean_a) / (n_a - 1)
        |      AS var_a,
        |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * mean_b) / (n_b - 1)
        |      AS var_b
        |  FROM m),
        |e AS (
        |  SELECT *, var_a / n_a AS se2_a, var_b / n_b AS se2_b FROM w)
        |SELECT n_a, n_b, s_a, s_b, ss_a, ss_b, mean_a, mean_b,
        |       var_a, var_b,
        |       (mean_a - mean_b) / sqrt(se2_a + se2_b) AS t_stat,
        |       (se2_a + se2_b) * (se2_a + se2_b) /
        |         (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1))
        |         AS df_welch
        |FROM e""".stripMargin,
    "stats_bootstrap" -> {
      val cases = PoissonCdfU32.zipWithIndex
        .map { case (t, k) => s"WHEN m < $t THEN $k" }.mkString(" ")
      s"""WITH a AS (SELECT range AS arm FROM range(0, $BootstrapArms)),
         |b AS (
         |  SELECT a.arm,
         |         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         |         ((o.o_orderkey * $BootstrapArms + a.arm)
         |           * 2654435761) % 4294967296 AS m
         |  FROM orders o CROSS JOIN a),
         |w AS (SELECT arm, cents,
         |        CAST(CASE $cases ELSE ${PoissonCdfU32.length} END
         |          AS BIGINT) AS w
         |      FROM b)
         |SELECT arm, CAST(sum(w) AS BIGINT) AS n_draws,
         |       CAST(sum(w * cents) AS BIGINT) AS draw_cents,
         |       CASE WHEN CAST(sum(w) AS BIGINT) = 0 THEN NULL
         |            ELSE CAST(CAST(sum(w * cents) AS BIGINT) AS DOUBLE)
         |                 / CAST(sum(w) AS BIGINT) END AS mean_cents
         |FROM w GROUP BY 1""".stripMargin
    },
    "stats_spearman" ->
      """WITH daily AS (
        |  SELECT l_returnflag,
        |         datediff('day', DATE '1995-01-01',
        |                  CAST(l_shipdate AS DATE)) AS day,
        |         CAST(sum(l_quantity) AS BIGINT)
        |           // count(*) AS x,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) // (count(*) * 100) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (
        |  SELECT l_returnflag,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY x, day) AS rx,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY y, day) AS ry
        |  FROM daily)
        |SELECT l_returnflag, count(*) AS n_days,
        |       CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS d2_sum,
        |       1.0 - 6.0 * CAST(CAST(sum((rx - ry) * (rx - ry)) AS BIGINT)
        |                        AS DOUBLE) /
        |         CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE) AS rho
        |FROM r GROUP BY 1""".stripMargin,
    "stats_ks" ->
      """WITH v AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS vc,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |              END) AS BIGINT) AS cb
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1),
        |c AS (
        |  SELECT CAST(sum(ca) OVER (ORDER BY vc ROWS BETWEEN UNBOUNDED
        |              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_a,
        |         CAST(sum(cb) OVER (ORDER BY vc ROWS BETWEEN UNBOUNDED
        |              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_b
        |  FROM v),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |             CAST(sum(cb) AS BIGINT) AS n_b FROM v),
        |s AS (
        |  SELECT n_a, n_b,
        |         max(abs(n_b * cum_a - n_a * cum_b)) AS d_num
        |  FROM c, t GROUP BY 1, 2),
        |d AS (
        |  SELECT n_a, n_b, d_num,
        |         CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS d_stat,
        |         1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) /
        |                      CAST(n_a * n_b AS DOUBLE)) AS crit_05
        |  FROM s)
        |SELECT n_a, n_b, d_num, d_stat, crit_05,
        |       CASE WHEN d_stat > crit_05 THEN 1 ELSE 0 END AS reject_05
        |FROM d""".stripMargin,
    "drift_daily_ks" ->
      """WITH v AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(round(value * 100) AS BIGINT) AS vc,
        |         count(*) AS m
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT vc, CAST(sum(m) AS BIGINT) AS gm,
        |         CAST(sum(sum(m)) OVER (ORDER BY vc ROWS BETWEEN UNBOUNDED
        |              PRECEDING AND CURRENT ROW) AS BIGINT) AS gc
        |  FROM v GROUP BY vc),
        |t AS (SELECT CAST(sum(m) AS BIGINT) AS n_tot FROM v),
        |nd AS (SELECT day, CAST(sum(m) AS BIGINT) AS n_day
        |       FROM v GROUP BY 1),
        |dc AS (
        |  SELECT day, vc, m,
        |         CAST(sum(m) OVER (PARTITION BY day ORDER BY vc ROWS
        |              BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |              AS BIGINT) AS dc
        |  FROM v),
        |cand AS (
        |  SELECT dc.day, nd.n_day, t.n_tot,
        |         greatest(
        |           abs(t.n_tot * dc.dc - nd.n_day * g.gc),
        |           abs(t.n_tot * (dc.dc - dc.m) -
        |               nd.n_day * (g.gc - g.gm))) AS cand
        |  FROM dc JOIN g USING (vc) JOIN nd USING (day), t)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_day, n_tot,
        |       max(cand) AS d_num,
        |       CAST(max(cand) AS DOUBLE) /
        |         CAST(n_day * n_tot AS DOUBLE) AS d_stat
        |FROM cand GROUP BY 1, 2, 3""".stripMargin,
    "stats_changepoint" ->
      """WITH daily AS (
        |  SELECT datediff('day', DATE '1995-01-01',
        |                  CAST(o_orderdate AS DATE)) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(rev) AS BIGINT) AS s_tot,
        |             count(*) AS n_tot FROM daily),
        |c AS (
        |  SELECT day,
        |         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS n1,
        |         CAST(sum(rev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |              PRECEDING AND CURRENT ROW) AS BIGINT) AS s1
        |  FROM daily),
        |x AS (
        |  SELECT c.day, c.n1, t.n_tot - c.n1 AS n2, c.s1,
        |         t.s_tot - c.s1 AS s2
        |  FROM c, t WHERE c.n1 < t.n_tot),
        |sc AS (
        |  SELECT day, n1, n2, s1, s2,
        |         CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) /
        |           CAST(n1 AS DOUBLE) +
        |         CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) /
        |           CAST(n2 AS DOUBLE) AS score
        |  FROM x)
        |SELECT day AS split_day, n1, n2, s1, s2, score,
        |       CAST(s1 AS DOUBLE) / CAST(n1 * 100 AS DOUBLE) AS mean_left,
        |       CAST(s2 AS DOUBLE) / CAST(n2 * 100 AS DOUBLE) AS mean_right
        |FROM sc ORDER BY score DESC, split_day LIMIT 1""".stripMargin,
    "stats_ols_segment" ->
      """WITH weekly AS (
        |  SELECT c.c_mktsegment,
        |         CAST(datediff('day', DATE '1995-01-01',
        |                       CAST(o.o_orderdate AS DATE)) AS BIGINT)
        |           // 7 AS w,
        |         count(*) AS n_orders,
        |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |w2 AS (SELECT c_mktsegment, w, rev_cents // (n_orders * 100) AS y
        |       FROM weekly),
        |m AS (
        |  SELECT c_mktsegment, count(*) AS n_weeks,
        |         CAST(sum(w) AS BIGINT) AS sx,
        |         CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(w * w) AS BIGINT) AS sxx,
        |         CAST(sum(w * y) AS BIGINT) AS sxy,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM w2 GROUP BY 1),
        |m2 AS (
        |  SELECT *, n_weeks * sxy - sx * sy AS num,
        |         n_weeks * sxx - sx * sx AS den,
        |         n_weeks * syy - sy * sy AS deny
        |  FROM m),
        |m3 AS (
        |  SELECT *, CASE WHEN den = 0 THEN 0.0
        |                 ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |            END AS slope
        |  FROM m2)
        |SELECT c_mktsegment, n_weeks, slope,
        |       (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) /
        |         CAST(n_weeks AS DOUBLE) AS intercept,
        |       CASE WHEN den = 0 OR deny = 0 THEN 0.0
        |            ELSE (CAST(num AS DOUBLE) * CAST(num AS DOUBLE)) /
        |                 (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE))
        |       END AS r2
        |FROM m3""".stripMargin,
    "stats_theil_sen" ->
      """WITH weekly AS (
        |  SELECT c.c_mktsegment,
        |         CAST(datediff('day', DATE '1995-01-01',
        |                       CAST(o.o_orderdate AS DATE)) AS BIGINT)
        |           // 7 AS w,
        |         count(*) AS n_orders,
        |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |w2 AS (SELECT c_mktsegment, w, rev_cents // (n_orders * 100) AS y
        |       FROM weekly),
        |pairs AS (
        |  SELECT a.c_mktsegment, b.y - a.y AS dy, b.w - a.w AS dx,
        |         a.w AS wa, b.w AS wb,
        |         CAST(b.y - a.y AS DOUBLE) / CAST(b.w - a.w AS DOUBLE)
        |           AS slope
        |  FROM w2 a JOIN w2 b
        |    ON a.c_mktsegment = b.c_mktsegment AND a.w < b.w),
        |cnt AS (SELECT c_mktsegment, count(*) AS n_pairs
        |        FROM pairs GROUP BY 1),
        |ranked AS (
        |  SELECT p.*, c.n_pairs,
        |         row_number() OVER (PARTITION BY p.c_mktsegment
        |                            ORDER BY p.slope, p.wa, p.wb) AS rn
        |  FROM pairs p JOIN cnt c USING (c_mktsegment))
        |SELECT c_mktsegment, n_pairs, dy AS med_dy, dx AS med_dx,
        |       slope AS theil_slope
        |FROM ranked WHERE rn = (n_pairs + 1) // 2""".stripMargin,
    "stats_mann_kendall" ->
      """WITH daily AS (
        |  SELECT c.c_mktsegment,
        |         CAST(datediff('day', DATE '1995-01-01',
        |                       CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x,
        |         count(*) AS n_orders,
        |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |d2 AS (SELECT c_mktsegment, x, rev_cents // (n_orders * 100) AS y
        |       FROM daily),
        |s AS (
        |  SELECT a.c_mktsegment,
        |         CAST(sum(CASE WHEN b.y > a.y THEN 1
        |                       WHEN b.y < a.y THEN -1 ELSE 0 END)
        |              AS BIGINT) AS s_stat
        |  FROM d2 a JOIN d2 b
        |    ON a.c_mktsegment = b.c_mktsegment AND a.x < b.x
        |  GROUP BY 1),
        |n AS (SELECT c_mktsegment, count(*) AS n_days FROM d2 GROUP BY 1),
        |ties AS (
        |  SELECT c_mktsegment,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT c_mktsegment, y, count(*) AS t
        |        FROM d2 GROUP BY 1, 2)
        |  GROUP BY 1),
        |f AS (
        |  SELECT s.c_mktsegment, n.n_days, s.s_stat, ties.tie_term,
        |         n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
        |           - ties.tie_term AS var_num
        |  FROM s JOIN n USING (c_mktsegment)
        |         JOIN ties USING (c_mktsegment)),
        |g AS (SELECT *, CAST(var_num AS DOUBLE) / 18.0 AS var_s FROM f)
        |SELECT c_mktsegment, n_days, s_stat, tie_term, var_num, var_s,
        |       CASE WHEN s_stat > 0
        |              THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |            WHEN s_stat < 0
        |              THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |            ELSE 0.0 END AS z
        |FROM g""".stripMargin,
    "ts_pacf" -> duckPacfSql(),
    "ts_rolling_corr" ->
      s"""WITH daily AS (
         |  SELECT CAST(datediff('day', DATE '1995-01-01',
         |                       CAST(o_orderdate AS DATE)) AS BIGINT)
         |           AS day,
         |         count(*) AS x,
         |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |              AS BIGINT) // 100000 AS z
         |  FROM orders GROUP BY 1),
         |r AS (
         |  SELECT day,
         |         CAST(count(*) OVER tw AS BIGINT) AS n_w,
         |         CAST(sum(x) OVER tw AS BIGINT) AS sx,
         |         CAST(sum(z) OVER tw AS BIGINT) AS sz,
         |         CAST(sum(x * z) OVER tw AS BIGINT) AS sxz,
         |         CAST(sum(x * x) OVER tw AS BIGINT) AS sxx,
         |         CAST(sum(z * z) OVER tw AS BIGINT) AS szz
         |  FROM daily
         |  WINDOW tw AS (ORDER BY day
         |                ROWS BETWEEN ${RollingCorrWindow - 1} PRECEDING
         |                         AND CURRENT ROW)),
         |f AS (
         |  SELECT day, n_w,
         |         n_w * sxz - sx * sz AS r_num,
         |         n_w * sxx - sx * sx AS den_x,
         |         n_w * szz - sz * sz AS den_z
         |  FROM r)
         |SELECT day, n_w,
         |       CASE WHEN den_x > 0 AND den_z > 0
         |            THEN CAST(r_num AS DOUBLE) /
         |                 (sqrt(CAST(den_x AS DOUBLE)) *
         |                  sqrt(CAST(den_z AS DOUBLE)))
         |       END AS r
         |FROM f""".stripMargin,
    "ts_autocorr" ->
      """WITH daily AS (
        |  SELECT CAST(datediff('day', DATE '1995-01-01',
        |                       CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) // 100000 AS y
        |  FROM orders GROUP BY 1),
        |lags AS (SELECT unnest([1, 7, 28]) AS lag),
        |pairs AS (
        |  SELECT l.lag, a.y AS x, b.y AS z
        |  FROM lags l
        |  JOIN daily a ON TRUE
        |  JOIN daily b ON a.day = b.day + l.lag),
        |s AS (
        |  SELECT lag, count(*) AS n_pairs,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(z) AS BIGINT) AS sz,
        |         CAST(sum(x * z) AS BIGINT) AS sxz,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(z * z) AS BIGINT) AS szz
        |  FROM pairs GROUP BY 1),
        |f AS (
        |  SELECT *, n_pairs * sxz - sx * sz AS r_num,
        |            n_pairs * sxx - sx * sx AS den_x,
        |            n_pairs * szz - sz * sz AS den_z
        |  FROM s)
        |SELECT CAST(lag AS INT) AS lag, n_pairs, r_num, den_x, den_z,
        |       CAST(r_num AS DOUBLE) /
        |         (sqrt(CAST(den_x AS DOUBLE)) * sqrt(CAST(den_z AS DOUBLE)))
        |         AS r
        |FROM f""".stripMargin,
    "stats_trend_segment" ->
      """WITH daily AS (
        |  SELECT c.c_mktsegment,
        |         CAST(datediff('day', DATE '1995-01-01',
        |                       CAST(o.o_orderdate AS DATE)) AS BIGINT) AS x,
        |         count(*) AS n_orders,
        |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) AS rev_cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |d2 AS (SELECT c_mktsegment, x, rev_cents // (n_orders * 100) AS y
        |       FROM daily),
        |s AS (
        |  SELECT c_mktsegment, count(*) AS n_days,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM d2 GROUP BY 1),
        |f AS (
        |  SELECT *, n_days * sxy - sx * sy AS slope_num,
        |            n_days * sxx - sx * sx AS slope_den
        |  FROM s),
        |g AS (
        |  SELECT *, CAST(slope_num AS DOUBLE) / CAST(slope_den AS DOUBLE)
        |            AS slope
        |  FROM f)
        |SELECT c_mktsegment, n_days, sx, sy, sxy, sxx,
        |       slope_num, slope_den, slope,
        |       (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) /
        |         CAST(n_days AS DOUBLE) AS intercept
        |FROM g""".stripMargin,
    "stats_corr_qty_value" ->
      """WITH daily AS (
        |  SELECT l_returnflag,
        |         CAST(datediff('day', DATE '1995-01-01',
        |                       CAST(l_shipdate AS DATE)) AS BIGINT) AS day,
        |         count(*) AS n_items,
        |         CAST(sum(l_quantity) AS BIGINT) AS qty_sum,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) AS val_cents
        |  FROM lineitem GROUP BY 1, 2),
        |d2 AS (SELECT l_returnflag, qty_sum // n_items AS x,
        |              val_cents // (n_items * 100) AS y
        |       FROM daily),
        |s AS (
        |  SELECT l_returnflag, count(*) AS n_days,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM d2 GROUP BY 1),
        |f AS (
        |  SELECT *, n_days * sxy - sx * sy AS r_num,
        |            n_days * sxx - sx * sx AS den_x,
        |            n_days * syy - sy * sy AS den_y
        |  FROM s)
        |SELECT l_returnflag, n_days, r_num, den_x, den_y,
        |       CAST(r_num AS DOUBLE) /
        |         (sqrt(CAST(den_x AS DOUBLE)) * sqrt(CAST(den_y AS DOUBLE)))
        |         AS r
        |FROM f""".stripMargin,
    "concentration_hhi" ->
      """WITH natrev AS (
        |  SELECT c.c_nationkey,
        |         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |              AS BIGINT) // 100000 AS rev_k
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1),
        |reg AS (
        |  SELECT r.r_name, nr.rev_k
        |  FROM natrev nr
        |  JOIN nation n ON nr.c_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey),
        |tot AS (
        |  SELECT r_name, CAST(sum(rev_k) AS BIGINT) AS tot_k,
        |         count(*) AS n_members
        |  FROM reg GROUP BY 1),
        |shares AS (
        |  SELECT reg.r_name, tot.n_members, tot.tot_k,
        |         (reg.rev_k * 1000000) // tot.tot_k AS share_ppm
        |  FROM reg JOIN tot ON reg.r_name = tot.r_name)
        |SELECT r_name, n_members, tot_k,
        |       CAST(sum(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2,
        |       CAST(max(share_ppm) AS BIGINT) AS top_share_ppm,
        |       CAST(CAST(sum(share_ppm * share_ppm) AS BIGINT) AS DOUBLE) /
        |         1000000000000.0 AS hhi
        |FROM shares GROUP BY 1, 2, 3""".stripMargin,
    "quality_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
        |                1, 1) AS digit,
        |         count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM d)
        |SELECT d.digit, d.n_orders, t.n_total,
        |       CAST(d.n_orders AS DOUBLE) / t.n_total AS share
        |FROM d, t""".stripMargin,
  )
}
