package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ext.Components

/** Relational-surface completeness beyond the reference's own operators
  * (SURVEY.md §2.5/2.6 notes them absent; a user switching engines still
  * expects them): ranking windows, global top-k, set operations, distinct
  * and approximate-distinct aggregation, rollup, pivot.
  *
  * == Scale design ==
  * - Per-group top-k is a window `row_number` over a hash-partitioned sort
  *   — one shuffle on the group key.
  * - Global top-k uses `orderBy(...).limit(k)`, which Spark plans as
  *   `TakeOrderedAndProject` — per-partition heaps + driver merge of k
  *   rows, NOT a global sort; the only plan that survives 100 TB.
  * - Set ops compile to hash aggregates/joins; distinct counts shuffle
  *   once per distinct column (Spark expands); `approx_count_distinct` is
  *   the single-shuffle HLL path for when exactness isn't required.
  */
object Relational {

  private def centsSum(c: String) = round(sum(col(c)) * 100).cast("long")

  /** Order-invariant exact e4 discounted revenue: 2-decimal inputs make
    * `round(price·100)` and `round(disc·100)` exact longs, so each row's
    * `price_cents · (100 − disc_pct)` is an exactly-representable e4
    * integer; summing those (through decimal(38,0) so no intermediate
    * long wrap) is associative/commutative — bit-identical under ANY
    * partitioning, unlike a double sum rounded once at the end whose
    * accumulated ULP error can cross the 0.5e-4 boundary as groups grow.
    */
  private def revenueE4Sum: Column =
    sum((round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long")))
      .cast("decimal(38,0)")).cast("long")

  /** The DuckDB operand-for-operand twin of [[revenueE4Sum]] (HUGEINT
    * accumulation; the final BIGINT cast fails loudly on overflow).
    */
  private val revenueE4SumSql: String =
    """CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |         * (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |     AS BIGINT)""".stripMargin

  /** Top-5 customers by spend within each market segment (ranking window
    * over an aggregate).
    */
  def topCustomersPerSegment(li: DataFrame, ord: DataFrame,
      cust: DataFrame): DataFrame = {
    val spend = li
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(centsSum("l_extendedprice").as("spent_cents"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("spent_cents").desc, col("c_custkey"))
    spend
      .withColumn("rn", row_number().over(w))
      .withColumn("rnk", rank().over(w))
      .filter(col("rn") <= 5)
      .select("c_mktsegment", "rn", "rnk", "c_custkey", "spent_cents")
  }

  /** Same top-5-per-segment result through the custom heap operator
    * (graft.plans.TopKPerGroup: LogicalPlan + Strategy + SparkPlan,
    * O(n log k) per group, no sort) — oracle-checked against the same
    * DuckDB SQL minus the rank columns, proving the custom physical
    * operator is semantics-identical to the window formulation.
    */
  def topCustomersPerSegmentHeap(li: DataFrame, ord: DataFrame,
      cust: DataFrame): DataFrame = {
    val spend = li
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(centsSum("l_extendedprice").as("spent_cents"))
    graft.plans.TopKPerGroup(spend, Seq("c_mktsegment"),
      Seq("spent_cents" -> true, "c_custkey" -> false), k = 5)
      .select("c_mktsegment", "c_custkey", "spent_cents")
  }

  /** Global top-100 orders by price — planned as TakeOrderedAndProject. */
  def topOrders(ord: DataFrame): DataFrame =
    ord.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** Set operations: (BUILDING ∪ high-balance) ∖ low-nation customers. */
  def customerSetOps(cust: DataFrame): DataFrame = {
    val building = cust.filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val highBal = cust.filter(col("c_acctbal") > 5000).select("c_custkey")
    val lowNation = cust.filter(col("c_nationkey") < 5).select("c_custkey")
    building.union(highBal).distinct().except(lowNation)
  }

  /** Distinct aggregation per return flag. */
  def distinctAggs(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag")
      .agg(
        countDistinct("l_orderkey").as("n_orders"),
        countDistinct("l_partkey").as("n_parts"),
        count(lit(1)).as("n_lines"))

  /** Exact vs approximate (HLL++) distinct counts — HLL sketches are
    * engine-specific, so this is rows-only; RelationalSpec bounds the
    * relative error.
    */
  def approxDistinct(li: DataFrame): DataFrame = {
    // exact and approx in SEPARATE aggregates joined on the (3-row)
    // group key: mixing a distinct and a non-distinct aggregate in one
    // call plans through Expand (2× every input row before the
    // shuffle); two plain aggregates scan the same two columns with
    // map-side partials and no multiply. Measured 4.1 s → ~1.5 s at
    // sf0.1 under the prune-proof action.
    val keyed = li.select(col("l_returnflag"), col("l_orderkey"))
    val exact = keyed.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact_orders"))
    val approx = keyed.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02)
        .as("approx_orders"))
    exact.join(broadcast(approx), Seq("l_returnflag"))
  }

  /** MERGEABLE distinct-count sketches (Datasketches HLL via Spark's
    * `hll_sketch_agg`/`hll_union_agg`): per-group sketches built in one
    * pass, then union-merged to the corpus-wide estimate WITHOUT
    * re-touching rows — the property that lets a 100 TB deployment keep
    * per-partition/day sketch columns and answer any rollup by merging
    * bytes. [[approxDistinct]]'s `approx_count_distinct` gives only the
    * final number; this surfaces the sketch algebra itself. Estimates
    * are engine-specific (rows-only registration); RelationalSpec gates
    * the merged estimate against the exact count and pins
    * merge-of-groups == direct whole-table sketch.
    */
  def hllSketchMerge(li: DataFrame): DataFrame = {
    // two separate fixes the prune-proof bench motivated (3.2 s → ~2.2 s
    // at sf0.1; the irreducible remainder IS the sketch aggregation):
    // the sketch and the exact count live in SEPARATE aggregates (the
    // [[approxDistinct]] Expand argument — a distinct + non-distinct mix
    // doubles every input row), and the 3-row sketch table is
    // checkpoint-materialized ONCE because both the per-group estimate
    // and the merged-union estimate consume it — un-materialized, the
    // full sketch aggregation ran twice.
    val keyed = li.select(col("l_returnflag"), col("l_orderkey"))
    val sk = graft.CheckpointLease.track(keyed.groupBy("l_returnflag")
      .agg(hll_sketch_agg(col("l_orderkey")).as("sk"))
      .localCheckpoint())
    val exact = keyed.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact_orders"))
    val merged = sk.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    sk.join(broadcast(exact), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        col("exact_orders"),
        hll_sketch_estimate(col("sk")).as("est_orders"))
      .unionByName(merged.select(lit("ALL(merged)").as("l_returnflag"),
        lit(null).cast("long").as("exact_orders"),
        col("est").as("est_orders")))
  }

  /** Sketch set-algebra — the audience-overlap readout mergeable HLL
    * sketches exist for: the 1995 and 1996 buyer populations are each
    * ONE sketch (map-side combined), the union estimate comes from
    * `hll_union_agg` over the two, and the intersection estimate falls
    * out by inclusion–exclusion (|A∩B| ≈ |A|+|B|−|A∪B|) — no re-scan,
    * no pairwise join of members. Exact counterparts (distinct counts +
    * a semi-join overlap) ride along so the estimate error is visible in
    * the output. At 100 TB the sketches are the only thing that moves
    * between stages; the exact columns are the test-scale audit.
    * Estimates are implementation-defined → rows-only (the
    * `agg_hll_sketch` family), gated in RelationalSpec against the exact
    * values.
    */
  def hllOverlap(orders: DataFrame): DataFrame = {
    val yr = year(to_date(col("o_orderdate")))
    val base = orders.filter(yr.isin(1995, 1996))
      .select(yr.as("yr"), col("o_custkey"))
    val perYear = base.groupBy("yr")
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
        countDistinct(col("o_custkey")).as("exact"))
    val a = perYear.filter(col("yr") === 1995)
      .select(col("sk").as("sk_a"), col("exact").as("exact_a"))
    val b = perYear.filter(col("yr") === 1996)
      .select(col("sk").as("sk_b"), col("exact").as("exact_b"))
    val exactInter = base.filter(col("yr") === 1995)
      .select("o_custkey").distinct()
      .join(base.filter(col("yr") === 1996)
        .select("o_custkey").distinct(), Seq("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("exact_intersect"))
    val u = perYear.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(u))
      .crossJoin(broadcast(exactInter))
      .select(
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        col("est_union"),
        (hll_sketch_estimate(col("sk_a")) +
          hll_sketch_estimate(col("sk_b")) - col("est_union"))
          .as("est_intersect"),
        col("exact_a"), col("exact_b"), col("exact_intersect"))
  }

  /** Collect aggregates surfaced deterministically: the per-group value
    * SET as a sorted CSV (`collect_set` itself is unordered and
    * partitioning-dependent — `sort_array` + join to a scalar pins a
    * stable cross-engine output; raw arrays also can't pass the verify
    * harness's pandas sort).
    */
  def collectedStatuses(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag")
      .agg(
        concat_ws(",", sort_array(collect_set(col("l_linestatus"))))
          .as("statuses_csv"),
        size(collect_set(col("l_linestatus"))).as("n_statuses"))

  /** Rollup over (returnflag, linestatus): subtotal + grand-total rows. */
  def rollupSales(li: DataFrame): DataFrame =
    li.rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_lines"),
        centsSum("l_extendedprice").as("sales_cents"))

  /** Cube over (returnflag, linestatus): all 2^2 grouping combinations. */
  def cubeSales(li: DataFrame): DataFrame =
    li.cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_lines"),
        centsSum("l_extendedprice").as("sales_cents"))

  /** Unpivot (melt): customer per-metric long format from wide columns. */
  def unpivotCustomer(cust: DataFrame): DataFrame =
    cust.select(col("c_custkey"),
        col("c_acctbal").as("acctbal"),
        col("c_nationkey").cast("double").as("nationkey"))
      .unpivot(
        ids = Array(col("c_custkey")),
        values = Array(col("acctbal"), col("nationkey")),
        variableColumnName = "metric",
        valueColumnName = "value")

  /** Pivot linestatus into columns (fixed pivot values: F, O). */
  def pivotSales(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(centsSum("l_extendedprice"))
      .withColumnRenamed("F", "cents_f")
      .withColumnRenamed("O", "cents_o")

  /** TPC-H-Q1-shape pricing summary: flag/status rollup of quantities and
    * discounted revenue. Revenue is [[revenueE4Sum]] — a per-row exact e4
    * long summed as integers, order-invariant by construction.
    */
  def pricingSummary(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity")).cast("long").as("sum_qty"),
        centsSum("l_extendedprice").as("base_cents"),
        revenueE4Sum.as("revenue_e4"),
        count(lit(1)).as("n_lines"))
      .withColumn("revenue", col("revenue_e4") / 10000.0)
      .withColumn("avg_qty",
        col("sum_qty").cast("double") / col("n_lines"))

  /** Cutoff date shared by [[shippingPriority]]'s both predicates. */
  val Q3Cutoff = "1996-03-15"

  /** TPC-H-Q3-shape shipping priority: the top 10 unshipped orders by
    * discounted revenue for one market segment — the classic
    * star-probe: a SELECTIVE dim (≈1/5 of customers) broadcast into
    * the orders scan, the surviving orders joined to lineitem on the
    * natural orderkey, revenue as the order-invariant per-row e4 integer
    * sum ([[revenueE4Sum]]), and a TakeOrdered cut whose tie-break
    * (revenue_e4 desc, o_orderdate, l_orderkey) is total — no global
    * sort, no nondeterministic cut.
    *
    * The segment-key dim GROWS with SF (it is 1/5 of customers), so its
    * broadcast is not hardcoded: [[graft.plans.Layout.advisedBroadcast]]
    * measures the projection's exact bytes (8/row) at plan time and
    * tags it only while it fits — past ~1.3 M matching customers the
    * join flips to shuffle instead of OOMing executors.
    */
  def shippingPriority(cust: DataFrame, ord: DataFrame,
      li: DataFrame): DataFrame = {
    val cut = lit(Q3Cutoff).cast("timestamp")
    val seg = graft.plans.Layout.advisedBroadcast(
      cust.filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey"), fixed = 8L)
    ord.filter(col("o_orderdate") < cut)
      .join(seg, col("o_custkey") === col("c_custkey"))
      .join(li.filter(col("l_shipdate") > cut),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .agg(revenueE4Sum.as("revenue_e4"))
      .withColumn("revenue", col("revenue_e4") / 10000.0)
      .orderBy(col("revenue_e4").desc, col("o_orderdate"),
        col("l_orderkey"))
      .limit(10)
  }

  /** Year window of [[localSupplierVolume]]. */
  val Q5Year = "1996"

  /** TPC-H-Q5-shape local supplier volume: discounted revenue per
    * nation where the CUSTOMER and the SUPPLIER sit in the same nation
    * of one region, over one order year — the five-way star join every
    * warehouse benchmarks: region→nation (broadcast, bounded),
    * customer/supplier resolved against the broadcast nation set, the
    * orders⋈lineitem fact spine shuffled once on orderkey, and the
    * locality predicate `c_nationkey = s_nationkey` applied as a join
    * condition (not a post-filter), so non-local pairs never
    * materialize. Revenue is the order-invariant per-row e4 integer sum
    * per nation ([[revenueE4Sum]]).
    *
    * region/nation broadcasts stay hardcoded (≤5/25 rows at ANY SF);
    * the supplier projection grows with SF, so its broadcast goes
    * through [[graft.plans.Layout.advisedBroadcast]] (16 exact bytes
    * per row) and flips to shuffle past ~650 k suppliers.
    */
  def localSupplierVolume(region: DataFrame, nation: DataFrame,
      cust: DataFrame, supp: DataFrame, ord: DataFrame,
      li: DataFrame): DataFrame = {
    val asiaNations = nation
      .join(broadcast(region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = cust.join(broadcast(asiaNations),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val o = ord.filter(
        col("o_orderdate") >= lit(s"$Q5Year-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${Q5Year.toInt + 1}-01-01")
          .cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val s = graft.plans.Layout.advisedBroadcast(
      supp.select(col("s_suppkey"), col("s_nationkey")), fixed = 16L)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy("n_name")
      .agg(revenueE4Sum.as("revenue_e4"))
      .withColumn("revenue", col("revenue_e4") / 10000.0)
  }

  /** Semi/anti joins: tag every customer by order existence. Left-semi and
    * left-anti plan as one hash join each with NO payload from the right
    * side — at 100 TB the build side carries only the key column, and
    * Catalyst rewrites them from EXISTS/NOT EXISTS subqueries too.
    */
  def semiAntiCustomers(cust: DataFrame, ord: DataFrame): DataFrame = {
    val semi = cust
      .join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_orders").as("segment_tag"))
    val anti = cust
      .join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("segment_tag"))
    semi.unionAll(anti)
  }

  /** Quarter window of [[returnedItemReport]]. */
  val Q10Quarter = "1996-10-01"

  /** TPC-H-Q10-shape returned-item report: the 20 customers who returned
    * the most discounted revenue in one order quarter. Plan shape at
    * scale: the fact spine (quarter-filtered orders ⋈ lineitem filtered
    * to `l_returnflag = 'R'` — both predicates reach the parquet scans)
    * shuffles once on orderkey, the per-customer rollup shuffles once on
    * custkey, and only THEN does the small aggregate join customer and
    * the 25-row broadcast nation — dimension payload never rides through
    * the fact shuffles. Revenue is the order-invariant [[revenueE4Sum]];
    * the top-20 cut is TakeOrdered with a total tie-break (revenue desc,
    * c_custkey), so the selected SET is deterministic.
    */
  def returnedItemReport(cust: DataFrame, ord: DataFrame, li: DataFrame,
      nation: DataFrame): DataFrame = {
    val lo = lit(Q10Quarter).cast("timestamp")
    val o = ord.filter(col("o_orderdate") >= lo &&
        col("o_orderdate") < add_months(lo, 3))
      .select("o_orderkey", "o_custkey")
    val perCust = li.filter(col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(revenueE4Sum.as("revenue_e4"))
    perCust
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
        col("revenue_e4"),
        (col("revenue_e4") / 10000.0).as("revenue"))
      .orderBy(col("revenue_e4").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H-Q13-shape customer order-count distribution: how many
    * customers placed exactly k qualifying orders, INCLUDING k = 0 — the
    * zero bucket is why the filter (`o_orderstatus <> 'F'`) must live in
    * the JOIN CONDITION of the left outer join, not a WHERE (a where
    * would delete the unmatched customers the query exists to count).
    * Two aggregations: per-customer count shuffles on custkey (the only
    * fact-sized shuffle), then the count-of-counts reduces to at most
    * |max orders per customer| rows. `count(o_orderkey)` — not
    * `count(*)` — so unmatched outer rows count 0.
    */
  def customerOrderDistribution(cust: DataFrame, ord: DataFrame): DataFrame =
    cust.join(ord,
        cust("c_custkey") === ord("o_custkey") &&
          ord("o_orderstatus") =!= "F", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Ship month of [[promoRevenue]]. */
  val Q14Month = "1996-09-01"

  /** TPC-H-Q14-shape promotion effect: the share of one ship-month's
    * discounted revenue that came from parts of type `PROMO`, as a
    * conditional aggregate over the lineitem ⋈ part join. Both operands
    * of the ratio are exact per-row e4 longs ([[revenueE4Sum]] gated by
    * a `when`), so the percentage is one double division of two
    * order-invariant integers — no accumulation noise. The part side
    * projects to (key, 8-byte flag) and goes through
    * [[graft.plans.Layout.advisedBroadcast]]: broadcast while the
    * 9-byte/row projection fits, shuffle past that — part grows with SF.
    */
  def promoRevenue(li: DataFrame, pt: DataFrame): DataFrame = {
    val lo = lit(Q14Month).cast("timestamp")
    val flags = graft.plans.Layout.advisedBroadcast(
      pt.select(col("p_partkey"),
        (col("p_type") === "PROMO").as("is_promo")), fixed = 9L)
    val rowE4 = round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))
    li.filter(col("l_shipdate") >= lo && col("l_shipdate") < add_months(lo, 1))
      .join(flags, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("is_promo"), rowE4).otherwise(lit(0L))
          .cast("decimal(38,0)")).cast("long").as("promo_e4"),
        sum(rowE4.cast("decimal(38,0)")).cast("long").as("total_e4"))
      .withColumn("promo_pct",
        col("promo_e4") * 100.0 / col("total_e4"))
  }

  /** Quantity threshold of [[largeOrders]] (classic Q18 value: ~99.9th
    * percentile of per-order quantity in this fixture family).
    */
  val Q18MinQty = 300.0

  /** TPC-H-Q18-shape large-volume customers: orders whose total ordered
    * quantity exceeds [[Q18MinQty]], with their customer. The HAVING
    * subquery becomes ONE lineitem aggregation whose survivors (a few
    * per 100 k orders) then drive the joins — the aggregated quantity is
    * reused directly instead of re-scanning lineitem (TPC-H's phrasing
    * scans it twice), and orders/customer join AFTER the threshold cut,
    * so the big tables join against a vanishingly small build side.
    * Top-100 by (o_totalprice desc, o_orderkey) — a total order.
    */
  def largeOrders(cust: DataFrame, ord: DataFrame, li: DataFrame): DataFrame = {
    val big = li.groupBy("l_orderkey")
      .agg(round(sum("l_quantity")).cast("long").as("total_qty"))
      .filter(col("total_qty") > Q18MinQty)
    ord.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("totalprice_cents"),
        col("total_qty"))
      .orderBy(col("totalprice_cents").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H-Q19-shape disjunctive predicate revenue: discounted revenue
    * from lineitem ⋈ part pairs matching ANY of three (brand, size
    * range, quantity range) conjunct groups. The brand disjunction's
    * union bound (`p_brand IN (...) AND p_size BETWEEN 1 AND 25`) is
    * applied as an explicit pre-filter on part so the scan prunes even
    * where the optimizer won't factor a common term out of the OR; the
    * exact three-way disjunction then evaluates as the JOIN condition on
    * the (typically broadcastable) survivor set, never as a post-join
    * filter over non-qualifying pairs. Output is one exact
    * [[revenueE4Sum]] row.
    */
  def disjunctiveRevenue(li: DataFrame, pt: DataFrame): DataFrame = {
    val arms = Seq(("Brand#12", 15, 1.0, 11.0), ("Brand#23", 20, 10.0, 20.0),
      ("Brand#34", 25, 20.0, 30.0))
    val prefiltered = graft.plans.Layout.advisedBroadcast(
      pt.filter(col("p_brand").isin(arms.map(_._1): _*) &&
          col("p_size").between(1, arms.map(_._2).max))
        .select("p_partkey", "p_brand", "p_size"), fixed = 24L)
    val cond = arms.map { case (brand, maxSize, qLo, qHi) =>
      col("p_brand") === brand && col("p_size").between(1, maxSize) &&
        col("l_quantity").between(qLo, qHi)
    }.reduce(_ || _)
    li.join(prefiltered, col("l_partkey") === col("p_partkey") && cond)
      .agg(revenueE4Sum.as("revenue_e4"))
      .withColumn("revenue", col("revenue_e4") / 10000.0)
  }

  /** Dormancy cutoff of [[dormantRichCustomers]]. */
  val Q22Cutoff = "2000-01-01"

  /** TPC-H-Q22-shape dormant high-balance customers: per nation, the
    * count and held balance of customers whose balance exceeds the
    * global positive-balance average but who placed NO order since
    * [[Q22Cutoff]]. The scalar subquery (global average) is computed as
    * an EXACT pair (cents sum, count) cross-joined as one broadcast row,
    * and the threshold test is the integer cross-multiplication
    * `bal_cents · n > sum_cents` — order-invariant, no float average to
    * sit within an ULP of. The NOT EXISTS is a left-anti join against
    * date-filtered orders projected to the key column only (the filter
    * reaches the orders scan; the anti build side carries 8 bytes/row).
    */
  def dormantRichCustomers(cust: DataFrame, ord: DataFrame): DataFrame = {
    val balCents = round(col("c_acctbal") * 100).cast("long")
    val thr = cust.filter(col("c_acctbal") > 0)
      .agg(sum(balCents.cast("decimal(38,0)")).cast("long").as("sum_cents"),
        count(lit(1)).as("n_pos"))
    val recent = ord
      .filter(col("o_orderdate") >= lit(Q22Cutoff).cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(thr))
      .filter(balCents * col("n_pos") > col("sum_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_dormant"),
        sum(balCents.cast("decimal(38,0)")).cast("long")
          .as("held_cents"))
  }

  /** Ship-year window of [[forecastRevenue]]. */
  val Q6Year = "1996"

  /** TPC-H-Q6-shape forecasting revenue change: one scan, three range
    * predicates (ship year, discount band, quantity cap), one exact-e4
    * aggregate — the pushdown benchmark: ALL three predicates must
    * reach the parquet scan (no join to hide behind), and the
    * aggregation is a single map-side-combined reduction. The discount
    * band compares stored 2-decimal doubles against the same literals
    * on both engines — identical IEEE comparisons, no epsilon.
    */
  def forecastRevenue(li: DataFrame): DataFrame = {
    val lo = lit(s"$Q6Year-01-01").cast("timestamp")
    li.filter(col("l_shipdate") >= lo &&
        col("l_shipdate") < add_months(lo, 12) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"), revenueE4Sum.as("revenue_e4"))
      .withColumn("revenue", col("revenue_e4") / 10000.0)
  }

  /** Region pair of [[tradeVolume]]. */
  val Q7Regions: (String, String) = ("ASIA", "AMERICA")

  /** TPC-H-Q7-shape trade volume: discounted revenue shipped BETWEEN
    * two regions (either direction, same-region pairs excluded by the
    * disjunctive pair predicate), per (supplier region, customer
    * region, ship year). Both sides pre-filter to the two regions
    * against the broadcast nation→region map BEFORE the fact joins, so
    * the OR pair condition evaluates on an already-restricted stream —
    * the join order every optimizer wants for a band of selective
    * dimension predicates. Exact e4 revenue per cell.
    */
  def tradeVolume(region: DataFrame, nation: DataFrame, cust: DataFrame,
      supp: DataFrame, ord: DataFrame, li: DataFrame): DataFrame = {
    val (ra, rb) = Q7Regions
    val natRegion = nation
      .join(broadcast(region.filter(col("r_name").isin(ra, rb))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val cn = cust.join(broadcast(natRegion),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("r_name").as("cust_region"))
    val sn = graft.plans.Layout.advisedBroadcast(
      supp.join(broadcast(natRegion),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("r_name").as("supp_region")),
      fixed = 16L, strCols = Seq("supp_region"))
    val lo = lit(s"$Q6Year-01-01").cast("timestamp")
    li.filter(col("l_shipdate") >= lo &&
        col("l_shipdate") < add_months(lo, 24))
      .join(ord.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cn, col("o_custkey") === col("c_custkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .filter((col("supp_region") === ra && col("cust_region") === rb) ||
        (col("supp_region") === rb && col("cust_region") === ra))
      .groupBy(col("supp_region"), col("cust_region"),
        year(col("l_shipdate")).as("l_year"))
      .agg(revenueE4Sum.as("revenue_e4"))
      .withColumn("revenue", col("revenue_e4") / 10000.0)
  }

  /** Market region / target supplier nation of [[marketShare]]. */
  val Q8Market = "AMERICA"
  val Q8Nation = "NATION_3"

  /** TPC-H-Q8-shape national market share: within one region's customer
    * market over two order years, the share of discounted revenue
    * supplied by one nation — per year, one division of two exact e4
    * longs (the conditional sum gated by a `when`, the [[promoRevenue]]
    * device on a five-way star). Customers resolve against the
    * broadcast region map; the supplier side carries only an 8-byte
    * is-target flag through the advisor-gated broadcast.
    */
  def marketShare(region: DataFrame, nation: DataFrame, cust: DataFrame,
      supp: DataFrame, ord: DataFrame, li: DataFrame): DataFrame = {
    val mktCust = cust
      .join(broadcast(nation
          .join(broadcast(region.filter(col("r_name") === Q8Market)),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val targetKeys = nation.filter(col("n_name") === Q8Nation)
      .select(col("n_nationkey").as("target_nk"))
    val suppFlag = graft.plans.Layout.advisedBroadcast(
      supp.join(broadcast(targetKeys),
          col("s_nationkey") === col("target_nk"), "left_outer")
        .select(col("s_suppkey"),
          col("target_nk").isNotNull.as("is_target")),
      fixed = 9L)
    val lo = lit("1995-01-01").cast("timestamp")
    val rowE4 = round(col("l_extendedprice") * 100).cast("long") *
      (lit(100L) - round(col("l_discount") * 100).cast("long"))
    ord.filter(col("o_orderdate") >= lo &&
        col("o_orderdate") < add_months(lo, 24))
      .join(mktCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .join(suppFlag, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("is_target"), rowE4).otherwise(lit(0L))
          .cast("decimal(38,0)")).cast("long").as("target_e4"),
        sum(rowE4.cast("decimal(38,0)")).cast("long").as("total_e4"))
      .withColumn("mkt_share",
        col("target_e4").cast("double") / col("total_e4").cast("double"))
  }

  /** Brand under [[smallQtyRevenue]]'s correlated-average predicate. */
  val Q17Brand = "Brand#23"

  /** TPC-H-Q17-shape small-quantity-order revenue: lineitems of one
    * brand whose quantity falls below 20% of that PART's average
    * quantity — the classic correlated scalar-aggregate subquery,
    * decorrelated by hand into one per-part aggregate joined back to
    * the fact (exactly the plan Catalyst's decorrelation would emit,
    * declared explicitly so the threshold arithmetic can be EXACT:
    * `qty·5·n_p < Σqty_p` compares integers — quantities are whole
    * numbers — instead of a float `avg` whose ULPs could flip boundary
    * rows between engines).
    */
  def smallQtyRevenue(li: DataFrame, pt: DataFrame): DataFrame = {
    val brandKeys = graft.plans.Layout.advisedBroadcast(
      pt.filter(col("p_brand") === Q17Brand).select("p_partkey"),
      fixed = 8L)
    // ONE brand-restricted stream feeds BOTH sides (q18's build-side-
    // reuse shape): the per-part aggregate only ever contributes groups
    // that survive the inner join back to the brand fact rows, so
    // semi-joining BEFORE the groupBy is output-identical while cutting
    // the aggregate's groups (and both scans' surviving rows) by the
    // brand selectivity (~25x here) — at fact scale that is the
    // difference between aggregating the whole corpus and one brand.
    val restricted = li.join(brandKeys,
      col("l_partkey") === col("p_partkey"), "left_semi")
    val perPart = restricted.groupBy(col("l_partkey").as("pk"))
      .agg(round(sum("l_quantity")).cast("long").as("sq"),
        count(lit(1)).as("nq"))
    restricted
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(round(col("l_quantity")).cast("long") * 5L * col("nq") <
        col("sq"))
      .agg(count(lit(1)).as("n_lines"), revenueE4Sum.as("revenue_e4"))
      .withColumn("revenue", col("revenue_e4") / 10000.0)
  }

  /** First ship month of [[topSupplier]]'s 3-month revenue view. */
  val Q15Start = "1996-01-01"

  /** TPC-H-Q15-shape top supplier: the supplier(s) whose discounted
    * revenue over a 3-month ship window equals the maximum over ALL
    * suppliers — Q15's scalar-subquery-over-a-view shape. The revenue
    * view is materialized ONCE (localCheckpoint; one row per supplier
    * that shipped in the window — dimension-sized, never fact-sized) and
    * BOTH consumers read it: the 1-row scalar MAX and the equality
    * probe. Without the checkpoint each consumer would re-run the fact
    * aggregate — the exact double-scan Q15's view syntax exists to
    * avoid. Ties are EXACT: revenue is the integer [[revenueE4Sum]], so
    * `= max` admits every tied supplier with no float-ULP ambiguity
    * (the reason the reference-shape `WHERE total = (SELECT max …)`
    * can be mirrored bit-for-bit). The max row broadcasts into the view
    * probe; the surviving supplier keys (≥1 row) broadcast into the
    * supplier dimension. Output ordered by s_suppkey (Q15's tie order).
    */
  def topSupplier(supp: DataFrame, li: DataFrame): DataFrame = {
    val lo = lit(Q15Start).cast("timestamp")
    val rev = graft.CheckpointLease.track(
      li.filter(col("l_shipdate") >= lo &&
          col("l_shipdate") < add_months(lo, 3))
        .groupBy(col("l_suppkey"))
        .agg(revenueE4Sum.as("total_revenue_e4"))
        .localCheckpoint())
    val mx = rev.agg(max("total_revenue_e4").as("max_rev_e4"))
    val winners = rev.join(broadcast(mx),
      col("total_revenue_e4") === col("max_rev_e4"))
    supp.join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_e4"),
        (col("total_revenue_e4") / 10000.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** Generator (UDTF-shape): one output row per word of `p_name`, with
    * its 0-based position. `posexplode` runs inside whole-stage codegen
    * (GenerateExec) — no shuffle, output partitioning inherits the scan.
    */
  def explodeWords(pt: DataFrame): DataFrame =
    pt.select(col("p_partkey"),
      posexplode(split(col("p_name"), " ")).as(Seq("word_idx", "word")))

  /** GROUPING SETS with explicit grouping-flag columns: per-flag totals,
    * per-status totals, and the grand total in ONE pass (Spark plans a
    * single Expand + hash aggregate — one shuffle regardless of how many
    * sets, vs one job per set if unioned by hand).
    */
  def groupingSetsSales(li: DataFrame): DataFrame =
    li.groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n_lines"),
        centsSum("l_extendedprice").as("sales_cents"))

  /** Statistical aggregates under the exact-integer determinism contract:
    * every moment is an exact BIGINT (quantities are integral; discounts
    * are 2-dp so e2/e4 scaling is exact), and variance/stddev/corr are
    * derived from those integers with the IDENTICAL IEEE-754 expression
    * the DuckDB oracle uses — bit-equal without rounding. Built-in
    * `stddev`/`corr` would hash-mismatch (Welford vs textbook sums).
    */
  def statsAggs(li: DataFrame): DataFrame = {
    val agg = li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum("l_quantity")).cast("long").as("sum_qty"),
        round(sum(col("l_quantity") * col("l_quantity"))).cast("long")
          .as("sum_qty_sq"),
        round(sum(col("l_discount") * 100)).cast("long").as("sum_disc_e2"),
        round(sum(col("l_discount") * col("l_discount") * 10000))
          .cast("long").as("sum_disc_sq_e4"),
        round(sum(col("l_quantity") * col("l_discount") * 100)).cast("long")
          .as("sum_qd_e2"))
    val n  = col("n_lines").cast("double")
    val sq = col("sum_qty").cast("double")
    val sq2 = col("sum_qty_sq").cast("double")
    val sd = col("sum_disc_e2").cast("double")
    val sd2 = col("sum_disc_sq_e4").cast("double")
    val sqd = col("sum_qd_e2").cast("double")
    agg
      .withColumn("var_qty", (sq2 - sq * sq / n) / (n - lit(1.0)))
      .withColumn("stddev_qty", sqrt(col("var_qty")))
      .withColumn("corr_qd",
        (n * sqd - sq * sd) /
          (sqrt(n * sq2 - sq * sq) * sqrt(n * sd2 - sd * sd)))
  }

  /** Skewness and excess kurtosis per return flag from EXACT integer
    * power sums — Spark's builtin `skewness`/`kurtosis` accumulate
    * doubles in partition order (non-deterministic across runs, let
    * alone engines), so the higher moments are derived instead from
    * Σq..Σq⁴ (exact Longs: quantity ≤ 50 ⇒ q⁴ ≤ 6.25e6, safe to ~1e12
    * rows per group) through a fixed DAG of correctly-rounded IEEE ops
    * mirrored operand-for-operand by the oracle — the same contract as
    * [[statsAggs]]' variance/correlation, extended two moments up.
    */
  def momentStats(li: DataFrame): DataFrame = {
    // per-row rounding BEFORE the sum: each power term is an exact
    // integer-valued double (q ≤ 50 ⇒ q⁴ ≤ 6.25e6 ≪ 2^53), so the
    // aggregate is a sum of exact Longs — summing the raw doubles
    // instead would drift past 2^53 at ~1e9 rows/group and reintroduce
    // the partition-order dependence this function exists to avoid
    val q = col("l_quantity")
    def pow(e: Column) = round(e).cast("long")
    val agg = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n_lines"),
      sum(pow(q)).as("s1"),
      sum(pow(q * q)).as("s2"),
      sum(pow(q * q * q)).as("s3"),
      sum(pow(q * q * q * q)).as("s4"))
    agg
      .withColumn("m", col("s1").cast("double") / col("n_lines"))
      .withColumn("e2", col("s2").cast("double") / col("n_lines"))
      .withColumn("e3", col("s3").cast("double") / col("n_lines"))
      .withColumn("e4", col("s4").cast("double") / col("n_lines"))
      .withColumn("mu2", col("e2") - col("m") * col("m"))
      .withColumn("mu3", col("e3") - lit(3.0) * col("m") * col("e2") +
        lit(2.0) * col("m") * col("m") * col("m"))
      .withColumn("mu4", col("e4") - lit(4.0) * col("m") * col("e3") +
        lit(6.0) * col("m") * col("m") * col("e2") -
        lit(3.0) * (col("m") * col("m")) * (col("m") * col("m")))
      .select(col("l_returnflag"), col("n_lines"), col("s1"), col("s2"),
        col("s3"), col("s4"),
        // zero-variance group → NULL, not NaN (same discipline as
        // zscoreQuantity / robustAnomalies' degenerate guards)
        when(col("mu2") > 0.0,
          col("mu3") / (col("mu2") * sqrt(col("mu2")))).as("skewness"),
        when(col("mu2") > 0.0,
          col("mu4") / (col("mu2") * col("mu2")) - lit(3.0))
          .as("excess_kurtosis"))
  }

  /** Modal quantity per return flag (most frequent value, smallest wins
    * ties) with its count and frequency share — the categorical summary
    * `avg` can't give. Counts aggregate the fact once; the argmax
    * window rides the (flag × distinct quantity)-sized count table.
    */
  def modalQuantity(li: DataFrame): DataFrame = {
    // materialized once: feeds both the argmax window and the totals —
    // without this the fact scan + aggregate run twice
    val counts = graft.CheckpointLease.track(li
      .groupBy(col("l_returnflag"), round(col("l_quantity")).cast("long")
        .as("qty"))
      .agg(count(lit(1)).as("n_at_mode"))
      .localCheckpoint())
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("n_at_mode").desc, col("qty"))
    val totals = counts.groupBy("l_returnflag")
      .agg(sum("n_at_mode").as("n_total"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(broadcast(totals), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("qty").as("mode_qty"),
        col("n_at_mode"), col("n_total"),
        (col("n_at_mode").cast("double") / col("n_total"))
          .as("mode_share"))
  }

  /** Exact WEIGHTED median: the smallest price whose cumulative quantity
    * weight reaches half the group's total — all-integer comparisons
    * (`2·cumw ≥ totw`), no interpolation, no float anywhere, so it
    * hash-matches trivially. (Neither engine ships a portable weighted
    * quantile: Spark has none, DuckDB's `quantile` is unweighted — this
    * is the canonical prefix-sum formulation both can express.)
    *
    * Scale shape: one shuffle+sort per group key for the cumulative
    * window (the same exchange the group total reuses), then a min per
    * group. The window runs over the FACT table — at 100 TB one would
    * pre-aggregate equal prices per group first (price cardinality ≪
    * row count), which this plan's first projection already enables.
    */
  def weightedMedian(li: DataFrame): DataFrame = {
    val base = li.select(col("l_returnflag"),
      round(col("l_extendedprice") * 100).cast("long").as("pc"),
      col("l_quantity").cast("long").as("w"),
      col("l_orderkey"), col("l_linenumber"))
    val cum = Window.partitionBy("l_returnflag")
      .orderBy(col("pc"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("l_returnflag")
    base
      .withColumn("cumw", sum("w").over(cum))
      .withColumn("totw", sum("w").over(tot))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy("l_returnflag")
      .agg(min("pc").as("wmedian_cents"), max("totw").as("total_weight"))
  }

  /** Exact percentiles (continuous interpolation at (n-1)p). Both engines
    * interpolate between the same two 2-dp values, so the e3-scaled result
    * is a mathematical integer — `round(x*1000)` is engine-stable even
    * though the raw interpolated double might differ in the last bit.
    */
  def percentiles(li: DataFrame): DataFrame =
    // one ARRAY-form percentile aggregate, not three scalar ones: each
    // scalar percentile buffers the group's full value multiset
    // independently (3× the memory and 3× the per-group sort under the
    // hood); the array form holds ONE buffer and reads three order
    // statistics from it. Same interpolation, identical output.
    // Measured 3.4 s → ~1.6 s at sf0.1 under the prune-proof action.
    li.groupBy("l_returnflag")
      .agg(expr(
        "percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1) * 1000).cast("long").as("median_e3"),
        round(element_at(col("ps"), 2) * 1000).cast("long").as("p90_e3"),
        round(element_at(col("ps"), 3) * 1000).cast("long").as("p99_e3"))

  /** Approximate percentiles (Greenwald-Khanna sketch via
    * `percentile_approx`) beside the exact answers — the quantile
    * counterpart of [[approxDistinct]]: at 100 TB the sketch merges
    * map-side in fixed memory while the exact form must hold each group's
    * full value multiset. Sketch internals are engine-specific, so this
    * is rows-only; RelationalSpec bounds the approximation against the
    * exact percentile.
    */
  def approxPercentiles(li: DataFrame, accuracy: Int = 10000): DataFrame =
    // array-form sketch call (one GK sketch, two order statistics) for
    // the same single-buffer reason as [[percentiles]]
    li.groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)") * 1000).cast("long")
          .as("exact_median_e3"),
        expr(s"percentile_approx(l_extendedprice, array(0.5D, 0.99D), " +
          s"$accuracy)").as("aps"))
      .select(col("l_returnflag"), col("exact_median_e3"),
        round(element_at(col("aps"), 1) * 1000).cast("long")
          .as("approx_median_e3"),
        round(element_at(col("aps"), 2) * 1000).cast("long")
          .as("approx_p99_e3"))

  /** Full outer join: every customer and every order-aggregate row kept,
    * null-filled on the unmatched side. Planned as a sort-merge full
    * outer (hash joins can't stream both unmatched sides); keys stay
    * co-partitioned with the aggregate before it, so the join reuses the
    * agg's exchange at scale.
    */
  def fullOuterCustomerOrders(cust: DataFrame, ord: DataFrame): DataFrame = {
    val orderAgg = ord.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), centsSum("o_totalprice").as("order_cents"))
    cust.select(col("c_custkey"), col("c_mktsegment"))
      .join(orderAgg, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("cust_id"),
        col("c_mktsegment"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("order_cents"), lit(0L)).as("order_cents"))
  }

  /** INTERSECT / INTERSECT ALL: nation keys present among both BUILDING
    * and high-balance customers — distinct semantics and multiset
    * (min-multiplicity) semantics side by side. Spark plans the former
    * as a left-semi over distincts and the latter via a counted expand.
    */
  def intersectNations(cust: DataFrame): DataFrame = {
    val building = cust.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey"))
    val highBal = cust.filter(col("c_acctbal") > 5000).select(col("c_nationkey"))
    building.intersect(highBal)
      .select(lit("distinct").as("op"), col("c_nationkey"))
      .unionAll(building.intersectAll(highBal)
        .select(lit("all").as("op"), col("c_nationkey")))
  }

  /** Systematic (deterministic) sample: every 20th order key. The
    * hash-free form of sampling that an oracle can replay exactly;
    * at scale it's a pushed-down filter — no data moves.
    */
  def systematicSampleOrders(ord: DataFrame): DataFrame =
    ord.filter(pmod(col("o_orderkey"), lit(20)) === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  /** Randomized sampling surface (engine-specific RNG → rows-only
    * checks): Bernoulli row sample of orders plus a per-language
    * stratified sample of documents (`sampleBy` — the class-balancing
    * primitive of training-data curation). Registered as
    * `sample_native_rng`: Spark's sampler draws from a partition-seeded
    * XORShift stream no other engine can replay, so this arm is
    * rows-only BY DECLARATION — [[hashSampledUnion]] is the
    * hash-compared twin with the same rates and shape.
    */
  def sampledUnion(ord: DataFrame, docs: DataFrame): DataFrame = {
    val bern = ord.sample(withReplacement = false, fraction = 0.05, seed = 42)
      .select(col("o_orderkey").as("id"), lit("bernoulli_order").as("method"))
    val strata = docs.stat.sampleBy("lang",
      Map("en" -> 0.1, "es" -> 0.5, "fr" -> 0.5, "de" -> 1.0), 42L)
      .select(col("doc_id").as("id"), lit("stratified_doc").as("method"))
    bern.unionAll(strata)
  }

  /** Per-language keep fractions shared by both sampling arms. */
  val StratifiedFracs: Seq[(String, Double)] =
    Seq("en" -> 0.1, "es" -> 0.5, "fr" -> 0.5, "de" -> 1.0)

  /** u32 keep-threshold of a fraction: keep iff Knuth-hash(id) <
    * floor(frac·2³²) — exact integer comparison, no float anywhere.
    */
  private def keepThreshold(frac: Double): Long =
    math.min(4294967296L, math.floor(frac * 4294967296.0).toLong)

  /** [[sampledUnion]]'s hash-compared twin (r16 verdict #5): the SAME
    * two sampling semantics — 5% Bernoulli over orders, per-language
    * stratified over documents — with the RNG replaced by the portable
    * Knuth multiplicative hash `h = (id·2654435761) mod 2³²` and each
    * keep decision the exact integer comparison `h < floor(frac·2³²)`
    * (the `sample_weighted` device). Both engines evaluate the
    * identical integer formula per row, so the sample is bit-identical
    * under any partitioning AND replayable by the DuckDB oracle — the
    * property Spark's partition-seeded XORShift can never have. Ids are
    * domain-guarded (≤ Long.MaxValue / 2654435761) so the multiply
    * cannot wrap. Scale shape: a pushed-down-able narrow filter; no
    * shuffle, no RNG state.
    */
  def hashSampledUnion(ord: DataFrame, docs: DataFrame): DataFrame = {
    val maxId = Long.MaxValue / 2654435761L
    def h(id: org.apache.spark.sql.Column, nm: String) = {
      val g = when(id.between(0L, maxId), id)
        .otherwise(raise_error(lit(
          s"hashSampledUnion: $nm outside portable-hash domain [0, $maxId]")))
      (g * 2654435761L) % 4294967296L
    }
    val bern = ord
      .filter(h(col("o_orderkey"), "o_orderkey") < keepThreshold(0.05))
      .select(col("o_orderkey").as("id"), lit("bernoulli_order").as("method"))
    val langThresh = StratifiedFracs.foldRight(lit(0L)) {
      case ((l, f), els) =>
        when(col("lang") === l, lit(keepThreshold(f))).otherwise(els)
    }
    val strata = docs.filter(h(col("doc_id"), "doc_id") < langThresh)
      .select(col("doc_id").as("id"), lit("stratified_doc").as("method"))
    bern.unionAll(strata)
  }

  /** DuckDB twin of [[hashSampledUnion]] — thresholds interpolated from
    * the same [[keepThreshold]] values the Spark side compiles in.
    */
  private[etl] def hashSampledUnionSql: String = {
    val cases = StratifiedFracs.map { case (l, f) =>
      s"WHEN '$l' THEN ${keepThreshold(f)}" }.mkString(" ")
    s"""SELECT o_orderkey AS id, 'bernoulli_order' AS method FROM orders
       |WHERE (o_orderkey * 2654435761) % 4294967296 <
       |      ${keepThreshold(0.05)}
       |UNION ALL
       |SELECT doc_id AS id, 'stratified_doc' AS method FROM documents
       |WHERE (doc_id * 2654435761) % 4294967296 <
       |      (CASE lang $cases ELSE 0 END)""".stripMargin
  }

  /** Argmax/argmin aggregates (`max_by`/`min_by`): the row-valued extremum
    * per group in ONE hash-agg pass — no window sort, no self-join back to
    * the max (the two classic formulations that shuffle the whole input).
    * Ties are broken deterministically by folding the unique line key into
    * the ordering value: `cents*1e10 + l_orderkey` is collision-free and
    * orders primarily by price as long as l_orderkey < 1e10 — TPC-H order
    * keys reach 6M·SF, so the composite holds past sf1000, and the
    * product stays in BIGINT range (cents ≤ ~1.05e7 for l_extendedprice ≤
    * ~104950, so cents·1e10 ≤ 1.05e17 « 2^63). Both engines evaluate the
    * identical integer formula, so ties resolve identically.
    */
  def argmaxAggs(li: DataFrame): DataFrame = {
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val ordKey = cents * lit(10000000000L) + col("l_orderkey")
    li.groupBy("l_returnflag").agg(
      max_by(col("l_orderkey"), ordKey).as("priciest_orderkey"),
      min_by(col("l_orderkey"), ordKey).as("cheapest_orderkey"),
      max(cents).as("max_cents"),
      min(cents).as("min_cents"))
  }

  /** Fixed-width histogram of order totals (20 buckets of 25k, last one
    * open-ended): one narrow projection + one hash agg — the distribution
    * profile that at 100 TB replaces any sort-based approach.
    */
  def histogramOrders(ord: DataFrame): DataFrame =
    ord.select(
        least(floor(col("o_totalprice") / 25000).cast("long"), lit(19L))
          .as("bucket"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        sum("cents").as("sum_cents"),
        min("cents").as("min_cents"),
        max("cents").as("max_cents"))

  /** Subquery surface through `spark.sql`: correlated EXISTS, NOT IN, and
    * a correlated scalar subquery in one statement. Catalyst decorrelates
    * all three into joins (RewritePredicateSubquery /
    * RewriteCorrelatedScalarSubquery) — EXISTS becomes a left-semi,
    * NOT IN an anti join, the scalar count a left outer against a
    * pre-aggregate — so the executed plan is pure joins, no per-row
    * subquery evaluation anywhere.
    */
  def subqueriesSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c_custkey,
        |       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
        |       (SELECT count(*) FROM orders_v o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer_v c
        |WHERE EXISTS (SELECT 1 FROM orders_v o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND c.c_custkey NOT IN (SELECT o_custkey FROM orders_v
        |                          WHERE o_orderstatus = 'F')""".stripMargin)
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — per-customer
    * top-2 orders as a lateral join (the SQL-standard form of top-k per
    * group). Catalyst decorrelates the lateral into a window under the
    * hood, so the executed plan is the same shuffle-once shape as the
    * DataFrame `row_number` formulation — no per-row subquery loops.
    */
  def lateralSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.total_cents
        |FROM customer_v c,
        |LATERAL (SELECT o_orderkey,
        |                CAST(round(o_totalprice * 100) AS BIGINT)
        |                  AS total_cents
        |         FROM orders_v o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey
        |         LIMIT 2) t
        |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin)
  }

  /** Recursive CTE (WITH RECURSIVE): dedup clustering's reachability as
    * SQL — walk the near-dup pair graph to each node's minimum reachable
    * id, iterated to the TRUE fixpoint.
    *
    * Spark 4.1 recursion is UNION ALL only
    * (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so a single CTE over a
    * cyclic graph never terminates — the symmetric edge set lets a walk
    * oscillate between two nodes forever. The depth bound that cuts those
    * cycles therefore stays INSIDE each CTE pass, but correctness no
    * longer depends on it: a Scala loop re-seeds the recursion with the
    * labels of the previous pass until a pass EXHAUSTS before the depth
    * bound (empty recursion level), which proves the labels are the true
    * fixpoint — so a diameter-D graph converges in ~ceil(D/batchDepth)
    * passes regardless of D (round-2 verdict: the old single bounded pass
    * silently mislabeled any component whose minimum sat >8 hops away).
    * Convergence detection, pruning, and the recursion-local parallelism
    * choice are documented inline below.
    *
    * The pair graph is MATERIALIZED (eager checkpoint) before the
    * recursion: Spark re-executes every plan the recursive step
    * references once per level, so leaving the O(corpus) shingle-join
    * inside the CTE multiplies it by the depth (measured 30 s vs ~4 s at
    * sf0.1). Superseded label checkpoints are released every pass and
    * the edge checkpoint before returning; only the final (one row per
    * paired doc) label set survives, leased for post-action release.
    * ext.Components is the same fixpoint computed without SQL; the DuckDB
    * oracle's set-semantics UNION recursion terminates on cycles natively.
    */
  def recursiveComponentsSql(spark: SparkSession, edges: DataFrame,
      batchDepth: Int = 4, maxPasses: Int = 1024,
      shortcutEdgeCap: Long = 1_000_000L, shortcutSteps: Int = 1): DataFrame = {
    // phase ledger: ALWAYS recorded (two nanoTime reads per phase —
    // free), published to [[lastRecursionPhases]] on return so
    // TimeQuery can print it and RelationalSpec can ASSERT the
    // recursion-cost contract instead of narrating it
    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    var phaseT = System.nanoTime()
    def phase(tag: String): Unit = {
      val now = System.nanoTime()
      phases(tag) = phases.getOrElse(tag, 0.0) + (now - phaseT) / 1e9
      phaseT = now
    }
    val und1 = edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(edges.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .distinct()
      .localCheckpoint(true)
    phase("pairs")
    // Shortcut augmentation (pointer-doubling steps): each step adds
    // (u,w) for every 2-hop path u-x-w, halving the graph's effective
    // diameter, so the level count — the dominant cost, each level paying
    // a fixed per-iteration scheduling floor regardless of row counts on
    // this deliberately tiny pair graph — drops ~2x per step (measured
    // 2.4 s -> 1.3 s recursion-only at sf0.1 for two steps). Reachability
    // (and thus every min-reachable label) is unchanged: shortcuts connect
    // exactly the already-connected.
    // SIZE-GATED: squaring a dense component is quadratic (a k-clique of
    // duplicates yields ~k^2 shortcuts), so graphs past the cap keep the
    // plain edge set — correctness never depends on the shortcuts, only
    // the pass count does. At 100 TB the near-dup pair graph that needs
    // more than ~1M edges should run the distributed label-prop fixpoint
    // (`dedup_clusters_dist`) anyway; this SQL form proves the recursion
    // surface.
    // Size every job DOWNSTREAM of the materialized pair graph to its
    // cardinality, not the session default: the near-dup pair graph is
    // orders of magnitude smaller than the corpus that produced it, and
    // each tiny job — shortcut joins, seed agg, every recursion level —
    // pays per-partition scheduling overhead (~20 joins x 32 near-empty
    // tasks dominated the measured cost at test SF; the shortcut steps
    // alone dropped ~0.3 s/step when moved inside the recursion-local
    // conf). Counts are carried through the fold so each materialization
    // is counted exactly once.
    val shuffleConf = "spark.sql.shuffle.partitions"
    val aqeConf = "spark.sql.adaptive.enabled"
    val sessionParts = spark.conf.get(shuffleConf)
    val sessionAqe = spark.conf.get(aqeConf)
    def parts(n: Long): String =
      math.min(n / 2_000_000L + 1L, sessionParts.toLong).toString
    var und = und1
    var labels: org.apache.spark.sql.DataFrame = null
    try {
      val n1 = und1.count()
      spark.conf.set(shuffleConf, parts(n1))
      // AQE re-plans every recursion level as its own adaptive query —
      // pure overhead once the partition count is already sized to the
      // materialized edge set above (measured ~310 -> ~215 ms/level off).
      spark.conf.set(aqeConf, "false")
      var undN = n1
      for (_ <- 1 to shortcutSteps) {
        if (undN <= shortcutEdgeCap) {
          val g2 = und.as("a").join(und.as("b"), col("a.v") === col("b.u"))
            .select(col("a.u").as("u"), col("b.v").as("v"))
            .where(col("u") =!= col("v"))
          val merged = und.union(g2).distinct().localCheckpoint(true)
          org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(und)
          und = merged
          undN = merged.count()
          phase("shortcut")
        }
      }
      // re-size to the CLOSED edge set: densification can outgrow the
      // base cardinality the shortcut phase was sized from
      spark.conf.set(shuffleConf, parts(undN))
      // Seed each node with its 1-HOP minimum (least of own id and any
      // neighbor's) instead of its own id: on a component the shortcut
      // steps fully closed, that seed already IS the fixpoint, so the
      // recursion's first pass exhausts at an empty level 1 and the loop
      // runs exactly ONE pass — a verification, not a computation
      // (measured: 2 passes -> 1 at sf0.1, ~1 s off the chronic slowest
      // bench query). On a graph the size gate left unclosed the seed is
      // merely a head start: walks only ever lower labels, every node
      // still anchors a walk carrying its current label (the dominated-
      // message prune never assumed seed = own id), and the exhaustion
      // proof below is seed-independent — correctness is unchanged.
      labels = und.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u").as("node"), least(col("u"), col("mn")).as("r"))
        .localCheckpoint(true)
      phase("seed")
      und.createOrReplaceTempView("rec_und_v")
      var pass = 0
      var converged = false
      while (!converged && pass < maxPasses) {
        labels.createOrReplaceTempView("rec_lbl_v")
        // Two prunes keep the per-pass row count linear in the useful work:
        //  - dominated-message prune: a walk extends to u only if its
        //    carried label undercuts u's label AT SEED TIME (`cur.r`);
        //    any walk with r >= cur.r(u) is dominated by the walk seeded
        //    at u itself (every node is a seed), so dropping it is safe.
        //  - anti-backtrack prune (`u <> walk.prev`): a walk carries one
        //    constant label, so stepping straight back to the node it just
        //    left can never deliver anything the shorter walk didn't —
        //    without this, a single improving label oscillates between two
        //    higher-labeled neighbors and keeps the recursion alive to the
        //    depth bound even when all useful work finished at level 2.
        // With both, the recursion EXHAUSTS (empty level => Spark stops)
        // at the true improvement frontier. The `()` grouping set rides
        // the same execution to report the deepest level reached: if
        // max(depth) < batchDepth the pass exhausted naturally, which
        // PROVES the labels are edge-consistent (any improving extension
        // at depth k+1 <= the empty level would have been produced), i.e.
        // the fixpoint — no confirmation pass, no label-sum action. Only
        // a pass cut off by the depth bound re-seeds and repeats; each
        // such pass strictly lowered some label (every level-k row has
        // r < its node's seed label), so the loop terminates.
        // NOTE (measured, round 10): broadcast-hinting the edge/label sides
        // into the recursive step is SLOWER here — every level re-runs the
        // broadcast job, and at recParts=1 the exchange it removes is
        // already near-free. The shuffle plan below is the fast form.
        val agg = spark.sql(
          s"""WITH RECURSIVE walk AS (
             |  SELECT node, r, node AS prev, 0 AS depth FROM rec_lbl_v
             |  UNION ALL
             |  SELECT rec_und_v.u, walk.r, walk.node AS prev,
             |         walk.depth + 1
             |  FROM rec_und_v
             |  JOIN walk ON rec_und_v.v = walk.node
             |  JOIN rec_lbl_v cur ON cur.node = rec_und_v.u
             |  WHERE walk.depth < $batchDepth AND walk.r < cur.r
             |    AND rec_und_v.u <> walk.prev)
             |SELECT node, min(r) AS r, max(depth) AS d
             |FROM walk GROUP BY GROUPING SETS ((node), ())""".stripMargin)
          .localCheckpoint(true)
        // Depth sentinel: read via max(d) over ALL null-node rows. Reading
        // a single arbitrary null row is wrong the moment more than one
        // exists (round-5 verdict: the node=NULL sentinel re-seeded into
        // rec_lbl_v produced a second (NULL, d=0) group and the arbitrary
        // pick terminated the loop before fixpoint on any graph whose
        // diameter exceeds batchDepth).
        val maxDepth = agg.filter(col("node").isNull)
          .agg(max(col("d")).as("d"))
          .collect().headOption.flatMap(r => Option(r.get(0)))
          .map(_.asInstanceOf[Number].intValue).getOrElse(0)
        org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(labels)
        // Re-seed WITHOUT the grouping-set sentinel row — node=NULL must
        // never become a walk seed.
        labels = agg.filter(col("node").isNotNull)
        converged = maxDepth < batchDepth
        pass += 1
        phase("recursion")
      }
    } finally {
      spark.conf.set(shuffleConf, sessionParts)
      spark.conf.set(aqeConf, sessionAqe)
      org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(und)
      spark.catalog.dropTempView("rec_und_v")
      spark.catalog.dropTempView("rec_lbl_v")
    }
    graft.CheckpointLease.track(labels)
    phase("return")
    lastRecursionPhases = phases.toMap
    labels.filter(col("node").isNotNull)
      .select(col("node").as("doc_id"), col("r").as("cluster_id"))
  }

  /** Wall-clock phase breakdown of the LAST [[recursiveComponentsSql]]
    * run in this JVM: `derive` (the eager n-gram pair derivation —
    * shared work [[graft.ext.Dedup.ngramJaccardPairs]] consumers like
    * dedup_clusters pay identically; merged in by [[recursiveSql]]),
    * `pairs` (symmetrize + materialize the pair graph), `shortcut`,
    * `seed`, `recursion` (all fixpoint passes), `return`. This is the
    * machine-checked form of the sql_recursive cost contract (BENCHNOTES
    * r11): the recursion surface itself must add no more than ~2 s of
    * per-level scheduling floors on top of the pair cost — asserted in
    * RelationalSpec and printed by TimeQuery, so a slow bench number is
    * attributable from the artifact instead of re-narrated each round.
    */
  @volatile private[graft] var lastRecursionPhases: Map[String, Double] =
    Map.empty

  /** sql_recursive query: fixpoint reachability over the oracle-checked
    * near-dup pair graph (see [[recursiveComponentsSql]]).
    */
  def recursiveSql(spark: SparkSession, sfDir: String): DataFrame = {
    // Two shortcut steps close each (tiny) dup component, so the 1-hop-min
    // seed is already the fixpoint and the loop is ONE verification pass.
    // batchDepth=2 only shapes recovery passes on a graph the size gate
    // left unclosed (fresh-label re-seeds every two levels keep the
    // dominated-walk prune effective; measured 1.7 s vs 1.9 at 4, 2.4 at
    // 8 back when passes did the computing).
    // ngramJaccardPairs EAGERLY checkpoints its result, so the dominant
    // shared cost (the shingle index + posting-list join) is paid right
    // here, before the recursion ledger starts — time it and merge it in
    // as `derive`, or the contract below would compare the recursion
    // floors against only the cheap symmetrize step (measured at
    // sf0.1/32: derive ~2.2 s vs pairs ~0.24 s).
    val t0 = System.nanoTime()
    val pairs = graft.ext.Dedup.ngramJaccardPairs(
        Tables.documents(spark, sfDir))
      .select(col("doc_a"), col("doc_b"))
    val derive = (System.nanoTime() - t0) / 1e9
    val out = recursiveComponentsSql(spark, pairs,
      batchDepth = 2, shortcutSteps = 2)
    lastRecursionPhases = lastRecursionPhases + ("derive" -> derive)
    out
  }

  /** The SQL entry path: identical pricing summary expressed through
    * `spark.sql` over registered temp views — proves the engine surface
    * is reachable from SQL text, not only the DataFrame DSL.
    */
  def pricingSummarySql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem_v")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |       CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
        |         AS base_cents,
        |       CAST(sum(CAST((CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |               AS DECIMAL(38,0))) AS BIGINT) AS revenue_e4,
        |       count(*) AS n_lines
        |FROM lineitem_v
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
      .withColumn("revenue", col("revenue_e4") / 10000.0)
      .withColumn("avg_qty",
        col("sum_qty").cast("double") / col("n_lines"))
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> ((s, d) => pricingSummary(Tables.lineitem(s, d))),
    "q3_shipping_priority" -> ((s, d) => shippingPriority(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_local_supplier" -> ((s, d) => localSupplierVolume(
      Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
      Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q1_pricing_sql"     -> (pricingSummarySql(_, _)),
    "q6_forecast_revenue" -> ((s, d) =>
      forecastRevenue(Tables.lineitem(s, d))),
    "q7_trade_volume" -> ((s, d) => tradeVolume(
      Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
      Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q8_market_share" -> ((s, d) => marketShare(
      Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
      Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q17_small_qty_revenue" -> ((s, d) => smallQtyRevenue(
      Tables.lineitem(s, d), Tables.part(s, d))),
    "q15_top_supplier" -> ((s, d) => topSupplier(
      Tables.supplier(s, d), Tables.lineitem(s, d))),
    "q10_returned_items" -> ((s, d) => returnedItemReport(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.nation(s, d))),
    "q13_order_distribution" -> ((s, d) => customerOrderDistribution(
      Tables.customer(s, d), Tables.orders(s, d))),
    "q14_promo_revenue"  -> ((s, d) => promoRevenue(
      Tables.lineitem(s, d), Tables.part(s, d))),
    "q18_large_orders"   -> ((s, d) => largeOrders(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q19_disjunctive_revenue" -> ((s, d) => disjunctiveRevenue(
      Tables.lineitem(s, d), Tables.part(s, d))),
    "q22_dormant_customers" -> ((s, d) => dormantRichCustomers(
      Tables.customer(s, d), Tables.orders(s, d))),
    "rank_top_customers" -> ((s, d) => topCustomersPerSegment(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d))),
    "rank_top_customers_heap" -> ((s, d) => topCustomersPerSegmentHeap(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d))),
    "rank_top_orders"    -> ((s, d) => topOrders(Tables.orders(s, d))),
    "set_customer_ops"   -> ((s, d) => customerSetOps(Tables.customer(s, d))),
    "agg_distinct"       -> ((s, d) => distinctAggs(Tables.lineitem(s, d))),
    "agg_weighted_median" -> ((s, d) => weightedMedian(Tables.lineitem(s, d))),
    "agg_approx_distinct" -> ((s, d) => approxDistinct(Tables.lineitem(s, d))),
    "agg_hll_sketch"     -> ((s, d) => hllSketchMerge(Tables.lineitem(s, d))),
    "agg_hll_overlap"    -> ((s, d) => hllOverlap(Tables.orders(s, d))),
    "agg_rollup"         -> ((s, d) => rollupSales(Tables.lineitem(s, d))),
    "agg_cube"           -> ((s, d) => cubeSales(Tables.lineitem(s, d))),
    "agg_unpivot"        -> ((s, d) =>
      unpivotCustomer(Tables.customer(s, d))),
    "agg_pivot"          -> ((s, d) => pivotSales(Tables.lineitem(s, d))),
    "join_semi_anti"     -> ((s, d) => semiAntiCustomers(
      Tables.customer(s, d), Tables.orders(s, d))),
    "gen_explode"        -> ((s, d) => explodeWords(Tables.part(s, d))),
    "agg_grouping_sets"  -> ((s, d) => groupingSetsSales(Tables.lineitem(s, d))),
    "agg_stats"          -> ((s, d) => statsAggs(Tables.lineitem(s, d))),
    "agg_moments"        -> ((s, d) => momentStats(Tables.lineitem(s, d))),
    "agg_mode"           -> ((s, d) => modalQuantity(Tables.lineitem(s, d))),
    "agg_percentiles"    -> ((s, d) => percentiles(Tables.lineitem(s, d))),
    "agg_approx_percentiles" -> ((s, d) =>
      approxPercentiles(Tables.lineitem(s, d))),
    "agg_collect" -> ((s, d) => collectedStatuses(Tables.lineitem(s, d))),
    "join_full_outer"    -> ((s, d) => fullOuterCustomerOrders(
      Tables.customer(s, d), Tables.orders(s, d))),
    "set_intersect"      -> ((s, d) => intersectNations(Tables.customer(s, d))),
    "sample_systematic"  -> ((s, d) =>
      systematicSampleOrders(Tables.orders(s, d))),
    "sample_random"      -> ((s, d) => hashSampledUnion(
      Tables.orders(s, d), Tables.documents(s, d))),
    "sample_native_rng"  -> ((s, d) => sampledUnion(
      Tables.orders(s, d), Tables.documents(s, d))),
    "agg_argmax"         -> ((s, d) => argmaxAggs(Tables.lineitem(s, d))),
    "agg_histogram"      -> ((s, d) => histogramOrders(Tables.orders(s, d))),
    "sql_subqueries"     -> (subqueriesSql(_, _)),
    "sql_lateral"        -> (lateralSql(_, _)),
    "sql_recursive"      -> (recursiveSql(_, _)),
  )

  private val q1Oracle =
    s"""WITH g AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
      |         CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
      |           AS base_cents,
      |         $revenueE4SumSql AS revenue_e4,
      |         count(*) AS n_lines
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus, sum_qty, base_cents, revenue_e4,
      |       n_lines,
      |       revenue_e4 / 10000.0 AS revenue,
      |       CAST(sum_qty AS DOUBLE) / n_lines AS avg_qty
      |FROM g""".stripMargin

  /** DuckDB twins (approx_distinct is rows-only — HLL differs by engine). */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" -> q1Oracle,
    "q1_pricing_sql"     -> q1Oracle,
    "q3_shipping_priority" ->
      s"""SELECT l_orderkey,
         |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         |       $revenueE4SumSql AS revenue_e4,
         |       $revenueE4SumSql / 10000.0 AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         |     JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '$Q3Cutoff 00:00:00'
         |  AND l_shipdate > TIMESTAMP '$Q3Cutoff 00:00:00'
         |GROUP BY 1, 2
         |ORDER BY revenue_e4 DESC, o_orderdate, l_orderkey
         |LIMIT 10""".stripMargin,
    "q6_forecast_revenue" ->
      s"""SELECT count(*) AS n_lines,
         |       $revenueE4SumSql AS revenue_e4,
         |       $revenueE4SumSql / 10000.0 AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '$Q6Year-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '${Q6Year.toInt + 1}-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24""".stripMargin,
    "q7_trade_volume" ->
      s"""SELECT sr.r_name AS supp_region, cr.r_name AS cust_region,
         |       year(l_shipdate) AS l_year,
         |       $revenueE4SumSql AS revenue_e4,
         |       $revenueE4SumSql / 10000.0 AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region cr ON cn.n_regionkey = cr.r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN region sr ON sn.n_regionkey = sr.r_regionkey
         |WHERE ((sr.r_name = '${Q7Regions._1}'
         |        AND cr.r_name = '${Q7Regions._2}')
         |    OR (sr.r_name = '${Q7Regions._2}'
         |        AND cr.r_name = '${Q7Regions._1}'))
         |  AND l_shipdate >= TIMESTAMP '$Q6Year-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '${Q6Year.toInt + 2}-01-01 00:00:00'
         |GROUP BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      s"""WITH x AS (
         |  SELECT year(o_orderdate) AS o_year,
         |         (sn.n_name = '$Q8Nation') AS is_target,
         |         CAST(round(l_extendedprice * 100) AS BIGINT)
         |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
         |           AS row_e4
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation cn ON c_nationkey = cn.n_nationkey
         |  JOIN region cr ON cn.n_regionkey = cr.r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey
         |  WHERE cr.r_name = '$Q8Market'
         |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
         |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
         |SELECT o_year,
         |       CAST(sum(CASE WHEN is_target THEN row_e4 ELSE 0 END)
         |            AS BIGINT) AS target_e4,
         |       CAST(sum(row_e4) AS BIGINT) AS total_e4,
         |       CAST(CAST(sum(CASE WHEN is_target THEN row_e4 ELSE 0 END)
         |                 AS BIGINT) AS DOUBLE)
         |         / CAST(CAST(sum(row_e4) AS BIGINT) AS DOUBLE)
         |           AS mkt_share
         |FROM x GROUP BY 1""".stripMargin,
    "q17_small_qty_revenue" ->
      s"""WITH pa AS (
         |  SELECT l_partkey AS pk,
         |         CAST(round(sum(l_quantity)) AS BIGINT) AS sq,
         |         count(*) AS nq
         |  FROM lineitem GROUP BY 1)
         |SELECT count(*) AS n_lines,
         |       $revenueE4SumSql AS revenue_e4,
         |       $revenueE4SumSql / 10000.0 AS revenue
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN pa ON pk = l_partkey
         |WHERE p_brand = '$Q17Brand'
         |  AND CAST(round(l_quantity) AS BIGINT) * 5 * nq < sq"""
        .stripMargin,
    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, n_name,
         |       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
         |       $revenueE4SumSql AS revenue_e4,
         |       $revenueE4SumSql / 10000.0 AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |     JOIN customer ON o_custkey = c_custkey
         |     JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '$Q10Quarter 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY 1, 2, 3, 4
         |ORDER BY revenue_e4 DESC, c_custkey
         |LIMIT 20""".stripMargin,
    "q13_order_distribution" ->
      """WITH per_cust AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM per_cust GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q14_promo_revenue" ->
      s"""WITH j AS (
         |  SELECT (p_type = 'PROMO') AS is_promo,
         |         CAST(round(l_extendedprice * 100) AS BIGINT)
         |           * (100 - CAST(round(l_discount * 100) AS BIGINT))
         |           AS row_e4
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '$Q14Month 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00')
         |SELECT CAST(sum(CASE WHEN is_promo THEN row_e4 ELSE 0 END)
         |         AS BIGINT) AS promo_e4,
         |       CAST(sum(row_e4) AS BIGINT) AS total_e4,
         |       CAST(sum(CASE WHEN is_promo THEN row_e4 ELSE 0 END)
         |         AS BIGINT) * 100.0 / CAST(sum(row_e4) AS BIGINT)
         |         AS promo_pct
         |FROM j""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH revenue AS (
         |  SELECT l_suppkey, $revenueE4SumSql AS total_revenue_e4
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '$Q15Start 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue_e4,
         |       total_revenue_e4 / 10000.0 AS total_revenue
         |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
         |WHERE total_revenue_e4 =
         |      (SELECT max(total_revenue_e4) FROM revenue)
         |ORDER BY s_suppkey""".stripMargin,
    "q18_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey,
         |         CAST(round(sum(l_quantity)) AS BIGINT) AS total_qty
         |  FROM lineitem GROUP BY 1
         |  HAVING CAST(round(sum(l_quantity)) AS BIGINT) > $Q18MinQty)
         |SELECT c_name, c_custkey, o_orderkey,
         |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         |       CAST(round(o_totalprice * 100) AS BIGINT)
         |         AS totalprice_cents,
         |       total_qty
         |FROM big JOIN orders ON o_orderkey = l_orderkey
         |     JOIN customer ON o_custkey = c_custkey
         |ORDER BY totalprice_cents DESC, o_orderkey
         |LIMIT 100""".stripMargin,
    "q19_disjunctive_revenue" ->
      s"""SELECT $revenueE4SumSql AS revenue_e4,
         |       $revenueE4SumSql / 10000.0 AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_dormant_customers" ->
      s"""WITH thr AS (
         |  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
         |           AS BIGINT) AS sum_cents,
         |         count(*) AS n_pos
         |  FROM customer WHERE c_acctbal > 0),
         |recent AS (
         |  SELECT o_custkey FROM orders
         |  WHERE o_orderdate >= TIMESTAMP '$Q22Cutoff 00:00:00')
         |SELECT c_nationkey, count(*) AS n_dormant,
         |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
         |         AS BIGINT) AS held_cents
         |FROM customer, thr
         |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > sum_cents
         |  AND NOT EXISTS (SELECT 1 FROM recent
         |                  WHERE o_custkey = c_custkey)
         |GROUP BY 1""".stripMargin,
    "q5_local_supplier" ->
      s"""SELECT n_name,
         |       $revenueE4SumSql AS revenue_e4,
         |       $revenueE4SumSql / 10000.0 AS revenue
         |FROM region JOIN nation ON n_regionkey = r_regionkey
         |     JOIN customer ON c_nationkey = n_nationkey
         |     JOIN orders ON o_custkey = c_custkey
         |     JOIN lineitem ON l_orderkey = o_orderkey
         |     JOIN supplier ON l_suppkey = s_suppkey
         |                  AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '$Q5Year-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '${Q5Year.toInt + 1}-01-01 00:00:00'
         |GROUP BY 1""".stripMargin,
    "agg_weighted_median" ->
      """WITH base AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |         CAST(l_quantity AS BIGINT) AS w,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |c AS (
        |  SELECT l_returnflag, pc,
        |         CAST(sum(w) OVER (PARTITION BY l_returnflag
        |           ORDER BY pc, l_orderkey, l_linenumber
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
        |         CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
        |           AS totw
        |  FROM base)
        |SELECT l_returnflag,
        |       CAST(min(pc) AS BIGINT) AS wmedian_cents,
        |       CAST(max(totw) AS BIGINT) AS total_weight
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY 1""".stripMargin,
    "rank_top_customers_heap" ->
      """WITH spend AS (
        |  SELECT c.c_custkey, c.c_mktsegment,
        |         CAST(round(sum(l.l_extendedprice) * 100) AS BIGINT)
        |           AS spent_cents
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment, c_custkey, spent_cents FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
        |            ORDER BY spent_cents DESC, c_custkey) AS rn
        |  FROM spend)
        |WHERE rn <= 5""".stripMargin,
    "rank_top_customers" ->
      """WITH spend AS (
        |  SELECT c.c_custkey, c.c_mktsegment,
        |         CAST(round(sum(l.l_extendedprice) * 100) AS BIGINT)
        |           AS spent_cents
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY spent_cents DESC, c_custkey) AS rn,
        |         rank() OVER (PARTITION BY c_mktsegment
        |           ORDER BY spent_cents DESC, c_custkey) AS rnk
        |  FROM spend)
        |SELECT c_mktsegment, rn, rnk, c_custkey, spent_cents
        |FROM ranked WHERE rn <= 5""".stripMargin,
    "rank_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "set_customer_ops" ->
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | UNION
        | SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_nationkey < 5""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(*) AS n_lines
        |FROM lineitem GROUP BY 1""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
        |       CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
        |         AS sales_cents
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""
        .stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
        |       CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
        |         AS sales_cents
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""
        .stripMargin,
    "agg_unpivot" ->
      """SELECT c_custkey, metric, value FROM (
        |  SELECT c_custkey, c_acctbal AS acctbal,
        |         CAST(c_nationkey AS DOUBLE) AS nationkey
        |  FROM customer)
        |UNPIVOT (value FOR metric IN (acctbal, nationkey))"""
        .stripMargin,
    "agg_pivot" ->
      """SELECT l_returnflag,
        |       CAST(round(sum(CASE WHEN l_linestatus = 'F'
        |                           THEN l_extendedprice END) * 100)
        |            AS BIGINT) AS cents_f,
        |       CAST(round(sum(CASE WHEN l_linestatus = 'O'
        |                           THEN l_extendedprice END) * 100)
        |            AS BIGINT) AS cents_o
        |FROM lineitem GROUP BY 1""".stripMargin,
    "join_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS segment_tag FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS segment_tag FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""
        .stripMargin,
    "gen_explode" ->
      """WITH e AS (
        |  SELECT p_partkey,
        |         unnest(list_zip(string_split(p_name, ' '),
        |           generate_series(1, len(string_split(p_name, ' ')))))
        |           AS z
        |  FROM part)
        |SELECT p_partkey, CAST(z[2] - 1 AS INT) AS word_idx,
        |       CAST(z[1] AS VARCHAR) AS word
        |FROM e""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |       count(*) AS n_lines,
        |       CAST(round(sum(l_extendedprice) * 100) AS BIGINT)
        |         AS sales_cents
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
        .stripMargin,
    "agg_moments" ->
      """WITH g AS (
        |  SELECT l_returnflag, count(*) AS n_lines,
        |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |           AS s1,
        |         CAST(sum(CAST(round(l_quantity * l_quantity) AS BIGINT))
        |              AS BIGINT) AS s2,
        |         CAST(sum(CAST(round(l_quantity * l_quantity * l_quantity)
        |                       AS BIGINT)) AS BIGINT) AS s3,
        |         CAST(sum(CAST(round(l_quantity * l_quantity * l_quantity *
        |                             l_quantity) AS BIGINT)) AS BIGINT)
        |           AS s4
        |  FROM lineitem GROUP BY 1),
        |e AS (
        |  SELECT *,
        |         CAST(s1 AS DOUBLE) / n_lines AS m,
        |         CAST(s2 AS DOUBLE) / n_lines AS e2,
        |         CAST(s3 AS DOUBLE) / n_lines AS e3,
        |         CAST(s4 AS DOUBLE) / n_lines AS e4
        |  FROM g),
        |mu AS (
        |  SELECT *,
        |         e2 - m * m AS mu2,
        |         e3 - CAST(3.0 AS DOUBLE) * m * e2 +
        |           CAST(2.0 AS DOUBLE) * m * m * m AS mu3,
        |         e4 - CAST(4.0 AS DOUBLE) * m * e3 +
        |           CAST(6.0 AS DOUBLE) * m * m * e2 -
        |           CAST(3.0 AS DOUBLE) * (m * m) * (m * m) AS mu4
        |  FROM e)
        |SELECT l_returnflag, n_lines, s1, s2, s3, s4,
        |       CASE WHEN mu2 > 0.0 THEN mu3 / (mu2 * sqrt(mu2)) END
        |         AS skewness,
        |       CASE WHEN mu2 > 0.0
        |            THEN mu4 / (mu2 * mu2) - CAST(3.0 AS DOUBLE) END
        |         AS excess_kurtosis
        |FROM mu""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_quantity) AS BIGINT) AS qty,
        |         count(*) AS n_at_mode
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, CAST(sum(n_at_mode) AS BIGINT)
        |        AS n_total FROM c GROUP BY 1),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY n_at_mode DESC, qty) AS rn
        |  FROM c)
        |SELECT r.l_returnflag, r.qty AS mode_qty, r.n_at_mode, t.n_total,
        |       CAST(r.n_at_mode AS DOUBLE) / t.n_total AS mode_share
        |FROM r JOIN t USING (l_returnflag)
        |WHERE r.rn = 1""".stripMargin,
    "agg_stats" ->
      """WITH g AS (
        |  SELECT l_returnflag,
        |         count(*) AS n_lines,
        |         CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,
        |         CAST(round(sum(l_quantity * l_quantity)) AS BIGINT)
        |           AS sum_qty_sq,
        |         CAST(round(sum(l_discount * 100)) AS BIGINT)
        |           AS sum_disc_e2,
        |         CAST(round(sum(l_discount * l_discount * 10000)) AS BIGINT)
        |           AS sum_disc_sq_e4,
        |         CAST(round(sum(l_quantity * l_discount * 100)) AS BIGINT)
        |           AS sum_qd_e2
        |  FROM lineitem GROUP BY 1)
        |SELECT *,
        |  (CAST(sum_qty_sq AS DOUBLE)
        |     - CAST(sum_qty AS DOUBLE) * CAST(sum_qty AS DOUBLE)
        |       / CAST(n_lines AS DOUBLE))
        |    / (CAST(n_lines AS DOUBLE) - 1.0) AS var_qty,
        |  sqrt((CAST(sum_qty_sq AS DOUBLE)
        |     - CAST(sum_qty AS DOUBLE) * CAST(sum_qty AS DOUBLE)
        |       / CAST(n_lines AS DOUBLE))
        |    / (CAST(n_lines AS DOUBLE) - 1.0)) AS stddev_qty,
        |  (CAST(n_lines AS DOUBLE) * CAST(sum_qd_e2 AS DOUBLE)
        |     - CAST(sum_qty AS DOUBLE) * CAST(sum_disc_e2 AS DOUBLE)) /
        |  (sqrt(CAST(n_lines AS DOUBLE) * CAST(sum_qty_sq AS DOUBLE)
        |     - CAST(sum_qty AS DOUBLE) * CAST(sum_qty AS DOUBLE))
        |   * sqrt(CAST(n_lines AS DOUBLE) * CAST(sum_disc_sq_e4 AS DOUBLE)
        |     - CAST(sum_disc_e2 AS DOUBLE) * CAST(sum_disc_e2 AS DOUBLE)))
        |    AS corr_qd
        |FROM g""".stripMargin,
    "join_full_outer" ->
      """WITH oa AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         CAST(round(sum(o_totalprice) * 100) AS BIGINT)
        |           AS order_cents
        |  FROM orders GROUP BY 1)
        |SELECT coalesce(c.c_custkey, oa.o_custkey) AS cust_id,
        |       c.c_mktsegment,
        |       coalesce(oa.n_orders, 0) AS n_orders,
        |       coalesce(oa.order_cents, 0) AS order_cents
        |FROM customer c FULL OUTER JOIN oa ON c.c_custkey = oa.o_custkey"""
        .stripMargin,
    "set_intersect" ->
      """SELECT 'distinct' AS op, c_nationkey FROM (
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT c_nationkey FROM customer WHERE c_acctbal > 5000)
        |UNION ALL
        |SELECT 'all' AS op, c_nationkey FROM (
        |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT ALL
        |  SELECT c_nationkey FROM customer WHERE c_acctbal > 5000)"""
        .stripMargin,
    "sample_systematic" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 20 = 0""".stripMargin,
    "sample_random" -> hashSampledUnionSql,
    "agg_percentiles" ->
      """SELECT l_returnflag,
        |       CAST(round(quantile_cont(l_extendedprice, 0.5) * 1000)
        |            AS BIGINT) AS median_e3,
        |       CAST(round(quantile_cont(l_extendedprice, 0.9) * 1000)
        |            AS BIGINT) AS p90_e3,
        |       CAST(round(quantile_cont(l_extendedprice, 0.99) * 1000)
        |            AS BIGINT) AS p99_e3
        |FROM lineitem GROUP BY 1""".stripMargin,
    "agg_collect" ->
      """SELECT l_returnflag,
        |       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
        |         AS statuses_csv,
        |       len(list(DISTINCT l_linestatus)) AS n_statuses
        |FROM lineitem GROUP BY 1""".stripMargin,
    "agg_argmax" ->
      """SELECT l_returnflag,
        |       arg_max(l_orderkey,
        |               CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * 10000000000 + l_orderkey) AS priciest_orderkey,
        |       arg_min(l_orderkey,
        |               CAST(round(l_extendedprice * 100) AS BIGINT)
        |                 * 10000000000 + l_orderkey) AS cheapest_orderkey,
        |       max(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS max_cents,
        |       min(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS min_cents
        |FROM lineitem GROUP BY 1""".stripMargin,
    "agg_histogram" ->
      """SELECT least(CAST(floor(o_totalprice / 25000) AS BIGINT), 19)
        |         AS bucket,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents,
        |       min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
        |       max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
        |FROM orders GROUP BY 1""".stripMargin,
    "sql_subqueries" ->
      """SELECT c_custkey,
        |       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
        |       (SELECT count(*) FROM orders o
        |        WHERE o.o_custkey = c.c_custkey) AS n_orders
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 150000)
        |  AND c.c_custkey NOT IN (SELECT o_custkey FROM orders
        |                          WHERE o_orderstatus = 'F')""".stripMargin,
    "sql_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.total_cents
        |FROM customer c,
        |LATERAL (SELECT o_orderkey,
        |                CAST(round(o_totalprice * 100) AS BIGINT)
        |                  AS total_cents
        |         FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey
        |         LIMIT 2) t
        |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin,
    // same fixpoint as dedup_clusters' oracle, via DuckDB's set-semantics
    // recursion (terminates on cycles without a depth bound)
    "sql_recursive" -> Components.oracleSql("dedup_clusters"),
  )
}
