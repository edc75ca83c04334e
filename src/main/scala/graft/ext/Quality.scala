package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.Expectations

/** Dataset profiling — the "what is in this table" scan every ingest
  * pipeline runs before trusting data: per-column row/null/distinct
  * counts and min/max, emitted long-format (one row per column).
  *
  * One aggregation job computes ALL columns' stats (a single projection
  * of aggregate expressions — one pass over the data, no shuffle beyond
  * the final single-row aggregate), then the row is unpivoted to
  * long format. Min/max are emitted as canonical strings so the profile
  * has one schema regardless of column types (and stays oracle-exact).
  */
object Quality {

  def profile(df: DataFrame): DataFrame = {
    // ONE aggregate PER COLUMN, unioned — not one wide aggregate with
    // every countDistinct in it. N exact countDistincts in a single agg
    // plan through Expand as an (N+1)× row multiply of the FULL-WIDTH
    // row before the shuffle; per-column aggregates each plan as a
    // plain two-phase distinct aggregate over a ONE-column scan, and a
    // columnar source reads the same total bytes either way (each
    // column once), so the Expand multiply is pure overhead at any
    // scale. Measured at sf0.1 under the prune-proof action: 5.4 s →
    // 1.4 s for the 9-column orders profile. Output identical row-for-row.
    val arms = df.columns.toSeq.map { c =>
      df.agg(
        count(lit(1)).as("__rows"),
        count(col(c)).as("__nn"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_str"),
        max(col(c)).cast("string").as("max_str"))
        .select(lit(c).as("column"), col("__rows").as("n_rows"),
          (col("__rows") - col("__nn")).as("n_nulls"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }
    // a zero-column frame has no arms to union (reduce would throw);
    // return an empty result with the profile schema, as the old
    // explode-based implementation did
    if (arms.isEmpty) {
      val s = df.sparkSession
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("column",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_nulls",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_distinct",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("min_str",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("max_str",
            org.apache.spark.sql.types.StringType))))
    } else arms.reduce(_ unionAll _)
  }

  /** Percentile-bound outlier detection: orders outside [p1, p99] of
    * their status group. Bounds travel as e3-scaled integers (the
    * percentile determinism pattern, see Relational.percentiles scaladoc):
    * `cents*10 > hi_e3` compares integers only, so boundary rows resolve
    * identically in every engine — a raw double comparison against the
    * interpolated bound would flip on the last bit. The (tiny) per-group
    * bound table broadcast-joins back to the scan: two passes, no sort of
    * the data itself.
    */
  def outliers(ord: DataFrame): DataFrame = {
    val bounds = ord.groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.01)") * 1000).cast("long")
          .as("lo_e3"),
        round(expr("percentile(o_totalprice, 0.99)") * 1000).cast("long")
          .as("hi_e3"))
    ord.select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"))
      .join(broadcast(bounds), Seq("o_orderstatus"))
      .filter(col("total_cents") * 10 > col("hi_e3") ||
        col("total_cents") * 10 < col("lo_e3"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("total_cents"),
        col("lo_e3"), col("hi_e3"),
        when(col("total_cents") * 10 > col("hi_e3"), "high")
          .otherwise("low").as("side"))
  }

  /** Per-group z-score standardization of `l_quantity` — the feature
    * scaling every ML data-prep pipeline runs, done EXACTLY: per-group
    * (count, Σq, Σq²) are integer aggregates (order-independent), and
    * mean/variance/z are derived from them with the identical IEEE
    * expression on both engines. The subtlety: `sqrt` and `/` are
    * correctly-rounded per IEEE 754 (unlike `pow`/`log`, which are
    * libm-dependent), so z-scores hash-match bit-for-bit. Σq² bounds the
    * exactness domain: quantities ≤ 50 over ≤ 2^40 rows stay < 2^53.
    *
    * Scale shape: one partial-aggregating shuffle to 3 group rows, then
    * a broadcast join back onto the fact scan — the standard
    * stats-then-apply two-pass, no window over the full table.
    */
  def zscoreQuantity(li: DataFrame): DataFrame = {
    val q = col("l_quantity").cast("long")
    val stats = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(q).as("s"), sum(q * q).as("ss"))
    li.select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"), col("l_returnflag"), q.as("quantity"))
      .join(broadcast(stats), Seq("l_returnflag"))
      .withColumn("mean_q", col("s").cast("double") / col("n"))
      .withColumn("sd",
        sqrt((col("n") * col("ss") - col("s") * col("s")).cast("double") /
          (col("n") * col("n")).cast("double")))
      // a zero-variance group has no meaningful z: NULL, explicitly —
      // ANSI mode (Spark 4 default) would otherwise throw DIVIDE_BY_ZERO
      .withColumn("z",
        when(col("sd") > 0,
          (col("quantity").cast("double") - col("mean_q")) / col("sd")))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "quantity",
        "mean_q", "z")
  }

  /** Equi-depth decile binning of `l_extendedprice` per return flag —
    * the quantile-bucketing step of ML feature prep, done the scalable
    * way: per-group decile BOUNDARIES first (one aggregate row per
    * group), broadcast back, then each row's bin is counted from the
    * boundary array with a higher-order filter — no `ntile` global sort
    * over the fact table. Boundaries are e3-scaled integers (the same
    * `percentile`→`round` portability contract as [[outliers]]), and
    * the bin comparison `price·10 > bound_e3` is integer-exact, so tie
    * rows land identically on both engines.
    */
  /** Folds of [[targetEncode]]'s out-of-fold scheme. */
  val TeFolds = 5L

  /** Smoothing pseudo-count of [[targetEncode]] (shrinks rare
    * categories toward the global mean — the standard m-estimate).
    */
  val TeSmoothing = 100L

  /** OUT-OF-FOLD TARGET ENCODING — the leakage-aware categorical
    * encoder (Micci-Barreca 2001) feature pipelines feed tree/linear
    * models with: each (category, fold) cell gets the target mean of
    * the category's rows in the OTHER folds, m-estimate-smoothed toward
    * the global mean, so no row's own target leaks into its feature.
    * Folds are the portable Knuth hash of the order key mod
    * [[TeFolds]] — replayable under any partitioning, unlike an RNG
    * split.
    *
    * Exactness: the smoothed encoding `(sum_oof + m·ḡ) / (n_oof + m)`
    * nests the global-mean division, so it is computed as ONE division
    * of exact decimal(38,0) cross-products —
    * `(n_g·sum_oof + m·sum_g) / (n_g·(n_oof + m))` — and both engines
    * emit the identical double (the twin multiplies HUGEINT).
    *
    * Scale shape: one join to resolve the category, one
    * (category × fold) keyed aggregate with map-side partials, the
    * out-of-fold sums by total-minus-own against the per-category
    * rollup — output is |categories|·folds rows, never corpus-sized.
    */
  def targetEncode(ord: DataFrame, cust: DataFrame): DataFrame = {
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val rows = ord
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("category"),
        (graft.ext.Corpus.portableHash(col("o_orderkey"), "targetEncode")
          % TeFolds).as("fold"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val cf = rows.groupBy("category", "fold")
      .agg(count(lit(1)).as("n_cf"), sum("cents").as("sum_cf"))
    val c = cf.groupBy("category")
      .agg(sum("n_cf").as("n_c"), sum("sum_cf").as("sum_c"))
    val g = cf.agg(sum("n_cf").as("n_g"), sum("sum_cf").as("sum_g"))
    cf.join(c, Seq("category")).crossJoin(broadcast(g))
      .select(col("category"), col("fold"),
        (col("n_c") - col("n_cf")).as("n_oof"),
        (col("sum_c") - col("sum_cf")).as("sum_oof_cents"),
        ((d38(col("n_g")) * d38(col("sum_c") - col("sum_cf")) +
          d38(lit(TeSmoothing)) * d38(col("sum_g"))).cast("double") /
          (d38(col("n_g")) *
            (d38(col("n_c") - col("n_cf")) + d38(lit(TeSmoothing))))
            .cast("double")).as("encoded_cents"))
  }

  def decileBinning(li: DataFrame): DataFrame = {
    val bounds = li.groupBy("l_returnflag")
      .agg(expr("transform(" +
        "percentile(l_extendedprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), " +
        "x -> cast(round(x * 1000) as bigint))").as("bounds_e3"))
    li.select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"), col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      .join(broadcast(bounds), Seq("l_returnflag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("price_cents"),
        expr("cast(1 + size(filter(bounds_e3, b -> price_cents * 10 > b)) " +
          "as bigint)").as("decile"))
  }

  /** Empirical-CDF (percentile-rank) normalization of
    * `l_extendedprice` per return flag: each row's cdf = (rows with
    * value ≤ its own)/(group size) — the rank-based feature normalizer
    * beside [[zscoreQuantity]] and [[decileBinning]].
    *
    * `cume_dist` as a window is a per-group global sort over the FACT
    * table; instead the counts collapse to the DISTINCT-VALUE domain
    * (price cardinality ≪ row count), the inclusive cumulative count
    * runs there via the same digit-band prefix decomposition as
    * [[graft.ext.Retail.abcClassification]], and the (group, value) →
    * rank map broadcasts back onto the scan. Every number is an exact
    * integer until the single final division, so the result matches
    * DuckDB's `cume_dist` bit-for-bit.
    */
  def featureCdf(li: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val vals = li.select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      .groupBy("l_returnflag", "pc").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds the run, the carry, and the totals
    val banded = vals.withColumn("band",
      length(col("pc").cast("string")).cast("int"))
    val run = banded.withColumn("run", sum("cnt").over(
      w.partitionBy("l_returnflag", "band").orderBy("pc")
        .rowsBetween(w.unboundedPreceding, w.currentRow)))
    val carry = banded.groupBy("l_returnflag", "band")
      .agg(sum("cnt").as("band_total"))
      .withColumn("carry", coalesce(sum("band_total").over(
        w.partitionBy("l_returnflag").orderBy("band")
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .select("l_returnflag", "band", "carry")
    val totals = vals.groupBy("l_returnflag").agg(sum("cnt").as("n_group"))
    val ranks = run.join(broadcast(carry), Seq("l_returnflag", "band"))
      .select(col("l_returnflag"), col("pc"),
        (col("run") + col("carry")).as("rank_max"))
    li.select(col("l_orderkey"), col("l_linenumber").cast("long")
          .as("l_linenumber"), col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("pc"))
      .join(broadcast(ranks), Seq("l_returnflag", "pc"))
      .join(broadcast(totals), Seq("l_returnflag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("pc").as("price_cents"),
        (col("rank_max").cast("double") / col("n_group")).as("cdf"))
  }

  /** Key-skew profile — the diagnostic that decides whether a join/agg
    * key needs salting at 100 TB: per candidate key, the distinct-key
    * count, the hottest key's share, the Gini coefficient of the
    * per-key row distribution (0 = uniform, →1 = one hot key), and the
    * Herfindahl–Hirschman concentration index (Σ share²).
    *
    * Gini uses the exact rank form G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx) over
    * counts sorted ascending; HHI = Σcnt²/(Σcnt)² — both integer
    * numerator/denominator, one final IEEE division each. The rank
    * window runs over the KEY-COUNT table (domain-sized, not
    * fact-sized; the same aggregated-domain argument as
    * [[graft.etl.TimeSeries.dailyAnomalies]]).
    */
  def keySkew(df: DataFrame, keyCol: String, label: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("cnt"))
    val ranked = counts.withColumn("i", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt"), col("k"))).cast("long"))
    ranked.agg(
        count(lit(1)).as("n_keys"),
        sum("cnt").as("total_rows"),
        max("cnt").as("max_cnt"),
        sum(col("i") * col("cnt")).as("iwx"),
        sum(col("cnt") * col("cnt")).as("sq"))
      .select(
        lit(label).as("key"),
        col("n_keys"), col("total_rows"),
        (col("max_cnt").cast("double") / col("total_rows")).as("top_share"),
        ((lit(2L) * col("iwx") - (col("n_keys") + 1) * col("total_rows"))
          .cast("double") /
          (col("n_keys") * col("total_rows")).cast("double")).as("gini"),
        (col("sq").cast("double") /
          (col("total_rows") * col("total_rows")).cast("double")).as("hhi"))
  }

  /** Pearson chi-square contingency analysis of event type × calendar
    * month — the categorical-independence diagnostic (is traffic mix
    * seasonal?). One row per contingency cell: observed count, both
    * marginals, expected count under independence, and the cell's chi²
    * contribution.
    *
    * The statistic deliberately stays PER-CELL: every cell value derives
    * from exact integer counts through multiply/divide/subtract —
    * correctly-rounded IEEE ops in a fixed order, so both engines agree
    * bit-for-bit — whereas a single global Σ contribution would sum
    * doubles in engine-dependent order and break hash equality (the
    * caller can sum the column when bit-exactness doesn't matter).
    *
    * Scale shape: ONE aggregate pass over the fact table (the cell
    * counts); marginals and the grand total aggregate the cell table —
    * never re-scanning facts — and broadcast back onto it.
    */
  def crosstabChi2(ev: DataFrame): DataFrame = {
    val cells =
      ev.groupBy(col("event_type"), month(col("ts")).cast("long").as("month"))
        .agg(count(lit(1)).as("obs"))
        .localCheckpoint() // feeds both marginals, the total, and the join
    val rowT = cells.groupBy("event_type").agg(sum("obs").as("row_tot"))
    val colT = cells.groupBy("month").agg(sum("obs").as("col_tot"))
    val n = cells.agg(sum("obs").as("n_total"))
    cells.join(broadcast(rowT), Seq("event_type"))
      .join(broadcast(colT), Seq("month"))
      .crossJoin(broadcast(n))
      .withColumn("expected",
        (col("row_tot") * col("col_tot")).cast("double") / col("n_total"))
      .withColumn("chi2_cell",
        (col("obs").cast("double") - col("expected")) *
          (col("obs").cast("double") - col("expected")) / col("expected"))
      .select("event_type", "month", "obs", "row_tot", "col_tot",
        "expected", "chi2_cell")
  }

  /** Median absolute deviation of quantity per return flag — the robust
    * dispersion statistic (outlier-insensitive, unlike the z-score's
    * σ). Quantities are ×2-scaled to exact Longs so the median's
    * midpoint interpolation stays integer-valued in a double (the same
    * `percentile` ↔ `quantile_cont` portability contract as
    * agg_percentiles); deviations and the final halving are exact
    * dyadic arithmetic — bit-identical on both engines.
    *
    * Scale shape: two grouped aggregates over the fact with the group
    * medians traveling back via broadcast — never a per-row sort.
    */
  def madQuantity(li: DataFrame): DataFrame = {
    val base = li.select(col("l_returnflag"),
      round(col("l_quantity") * 2).cast("long").as("q2"))
    val med = base.groupBy("l_returnflag")
      .agg(expr("percentile(q2, 0.5)").as("med2"))
    base.join(broadcast(med), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("med2"),
        abs(col("q2").cast("double") - col("med2")).as("ad2"))
      .groupBy("l_returnflag", "med2")
      .agg(count(lit(1)).as("n"),
        expr("percentile(ad2, 0.5)").as("mad2"))
      .select(col("l_returnflag"), col("n"),
        (col("med2") / lit(2.0)).as("median_qty"),
        (col("mad2") / lit(2.0)).as("mad_qty"))
  }

  /** The warehouse's foreign-key graph — (fact, fkCol, dim, pkCol),
    * the single source of truth for both the Spark audit and the
    * generated twin.
    */
  val FkEdges: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"))

  /** One FK edge's audit row: fact size, orphan count (fact keys with
    * no dim partner, [[graft.etl.Expectations.orphans]]), verdict.
    */
  def fkAudit(fact: DataFrame, fkCol: String, dim: DataFrame,
      pkCol: String, label: String): DataFrame = {
    val n = fact.agg(count(lit(1)).as("n_rows"))
    val orph = Expectations.orphans(fact, fkCol, dim, pkCol)
    n.crossJoin(broadcast(orph))
      .select(lit(label).as("fk_edge"), col("n_rows"), col("n_orphans"),
        (col("n_orphans") === 0L).as("ok"))
  }

  /** REFERENTIAL-INTEGRITY AUDIT over the whole warehouse FK graph —
    * the standing data-quality check every pipeline runs after load:
    * one row per [[FkEdges]] edge with the fact size, orphan count, and
    * verdict. Scale shape: per edge one anti-join against the dim keys
    * reduced to one partial-merging count — the audit's output is
    * edges-sized, never data-sized.
    */
  def referentialIntegrity(s: SparkSession, d: String): DataFrame =
    FkEdges.map { case (ft, fk, dt, pk) =>
      fkAudit(Tables.load(s, d, ft), fk, Tables.load(s, d, dt), pk,
        s"$ft.$fk->$dt.$pk")
    }.reduce(_ unionAll _)

  /** PRIMARY-KEY UNIQUENESS AUDIT — the third leg of the DQ suite
    * ([[referentialIntegrity]]: FK integrity, [[freshnessAudit]]:
    * recency, this: key uniqueness): one row per declared PK with the
    * row count, distinct-key count, duplicate surplus, null-key count,
    * and the verdict. A silver stage dedups on exactly these keys, so
    * this audit is the post-load assertion that it worked.
    *
    * Each table's counts are its [[graft.etl.Expectations.keyStats]] (one
    * aggregate, output tables-sized). The distinct-key count is
    * `countDistinct`'s, so a null key is not a distinct value: `n_groups`
    * less the null group.
    */
  def uniquenessAuditOn(tables: Seq[(String, DataFrame, String)])
      : DataFrame =
    tables.map { case (t, df, k) =>
      Expectations.keyStats(df, k)
        .withColumn("n_distinct", col("n_groups") -
          when(col("n_null") > 0L, 1L).otherwise(0L))
        .select(lit(s"$t.$k").as("pk"), col("n_rows"), col("n_distinct"),
          (col("n_rows") - col("n_distinct")).as("n_dup"), col("n_null"),
          (col("n_rows") === col("n_distinct")).as("is_unique"))
    }.reduce(_ unionAll _)

  /** [[uniquenessAuditOn]] over the declared primary keys. */
  def uniquenessAudit(s: SparkSession, d: String): DataFrame =
    uniquenessAuditOn(Expectations.PrimaryKeys.map { case (t, k) =>
      (t, Tables.load(s, d, t), k) })

  /** Monitored (table, event-time column, SLA days) triples for
    * [[freshnessAudit]]. SLAs are contract constants of the registered
    * query: transactional tables may trail the freshest feed by up to
    * 30/45 days, the event stream by 7, before the audit flags them.
    */
  val FreshnessSlas: Seq[(String, String, Long)] = Seq(
    ("orders", "o_orderdate", 30L),
    ("lineitem", "l_shipdate", 45L),
    ("events", "ts", 7L))

  /** DATA-FRESHNESS / SLA AUDIT — the staleness half of a data-quality
    * suite ([[referentialIntegrity]] checks integrity, this checks
    * recency): one row per monitored table with its row count, max
    * event date, lag behind the CORPUS REFERENCE DATE (the max across
    * all monitored tables — no wall clock, so the audit is
    * deterministic and replayable), the table's SLA, and the verdict.
    *
    * Scale shape: one count+max aggregate per table (partial-merging,
    * no shuffle beyond the final single-row reduce), a metadata-sized
    * union, and a broadcast single-row reference join. The audit's
    * output is tables-sized, never data-sized.
    */
  def freshnessAuditOn(tables: Seq[(String, DataFrame, String)],
      slas: Map[String, Long]): DataFrame = {
    val per = tables.map { case (name, df, dateCol) =>
      df.agg(count(lit(1)).as("n_rows"),
          max(col(dateCol).cast("date")).as("max_d"))
        .select(lit(name).as("table_name"), col("n_rows"), col("max_d"))
    }.reduce(_ unionAll _)
    val ref = per.agg(max("max_d").as("ref_d"))
    val slaCol = slas.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (name, days)) =>
        when(col("table_name") === name, lit(days)).otherwise(acc)
      }
    per.crossJoin(broadcast(ref))
      .withColumn("lag_days",
        datediff(col("ref_d"), col("max_d")).cast("long"))
      .withColumn("sla_days", slaCol)
      .select(col("table_name"), col("n_rows"),
        date_format(col("max_d"), "yyyy-MM-dd").as("max_date"),
        col("lag_days"), col("sla_days"),
        (col("lag_days") > col("sla_days")).as("is_stale"))
  }

  /** [[freshnessAuditOn]] over the [[FreshnessSlas]] contract tables. */
  def freshnessAudit(s: SparkSession, d: String): DataFrame =
    freshnessAuditOn(
      FreshnessSlas.map { case (t, c, _) => (t, Tables.load(s, d, t), c) },
      FreshnessSlas.map { case (t, _, sla) => t -> sla }.toMap)

  /** Driver-contract registration. Timestamps are pre-formatted to
    * strings and the double price to integer cents, so every profiled
    * column's min/max stringification is engine-identical.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_referential" -> (referentialIntegrity(_, _)),
    "dq_freshness" -> (freshnessAudit(_, _)),
    "dq_uniqueness" -> (uniquenessAudit(_, _)),
    "feature_zscore" -> ((s, d) => zscoreQuantity(Tables.lineitem(s, d))),
    "feature_binning" -> ((s, d) => decileBinning(Tables.lineitem(s, d))),
    "feature_target_encode" -> ((s, d) => targetEncode(
      Tables.orders(s, d), Tables.customer(s, d))),
    "feature_cdf" -> ((s, d) => featureCdf(Tables.lineitem(s, d))),
    "crosstab_chi2" -> ((s, d) => crosstabChi2(Tables.events(s, d))),
    "feature_mad" -> ((s, d) => madQuantity(Tables.lineitem(s, d))),
    "skew_profile" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      keySkew(li, "l_partkey", "lineitem.l_partkey")
        .unionAll(keySkew(li, "l_suppkey", "lineitem.l_suppkey"))
        .unionAll(keySkew(Tables.orders(s, d), "o_custkey",
          "orders.o_custkey"))
    }),
    "quality_profile_orders" -> ((s, d) => profile(
      Tables.orders(s, d)
        .withColumn("o_orderdate",
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("o_totalprice_cents",
          round(col("o_totalprice") * 100).cast("long"))
        .drop("o_totalprice"))),
    "quality_outliers" -> ((s, d) => outliers(Tables.orders(s, d))),
  )

  /** Uniqueness twin generated from the SAME declared primary keys
    * ([[graft.etl.Expectations.PrimaryKeys]]), so the audited key surface
    * can never drift between engines.
    */
  private def duckUniquenessSql: String =
    Expectations.PrimaryKeys.map { case (t, k) =>
      s"""SELECT '$t.$k' AS pk, count(*) AS n_rows,
         |       count(DISTINCT $k) AS n_distinct,
         |       count(*) - count(DISTINCT $k) AS n_dup,
         |       CAST(sum(CASE WHEN $k IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_null,
         |       count(*) = count(DISTINCT $k) AS is_unique
         |FROM $t""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Freshness twin generated from the SAME [[FreshnessSlas]] contract
    * list, so the monitored surface can never drift between engines.
    */
  private def duckFreshnessSql: String = {
    val per = FreshnessSlas.map { case (t, c, _) =>
      s"""SELECT '$t' AS table_name, count(*) AS n_rows,
         |       max(CAST($c AS DATE)) AS max_d FROM $t""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val sla = FreshnessSlas.map { case (t, _, days) =>
      s"WHEN '$t' THEN $days"
    }.mkString(" ")
    s"""WITH per AS (
       |$per),
       |ref AS (SELECT max(max_d) AS ref_d FROM per)
       |SELECT table_name, n_rows, strftime(max_d, '%Y-%m-%d') AS max_date,
       |       CAST(datediff('day', max_d, ref_d) AS BIGINT) AS lag_days,
       |       CAST(CASE table_name $sla ELSE 0 END AS BIGINT) AS sla_days,
       |       CAST(datediff('day', max_d, ref_d) AS BIGINT) >
       |         CAST(CASE table_name $sla ELSE 0 END AS BIGINT)
       |         AS is_stale
       |FROM per CROSS JOIN ref""".stripMargin
  }

  /** [[referentialIntegrity]]'s twin, generated from the same
    * [[FkEdges]] list — NOT EXISTS mirrors LEFT ANTI exactly (both
    * null-safe, keys here are non-null anyway).
    */
  private def duckReferentialSql: String =
    FkEdges.map { case (ft, fk, dt, pk) =>
      s"""SELECT '$ft.$fk->$dt.$pk' AS fk_edge,
         |       (SELECT count(*) FROM $ft) AS n_rows,
         |       (SELECT count(*) FROM $ft f WHERE NOT EXISTS
         |          (SELECT 1 FROM $dt p WHERE p.$pk = f.$fk))
         |         AS n_orphans,
         |       (SELECT count(*) FROM $ft f WHERE NOT EXISTS
         |          (SELECT 1 FROM $dt p WHERE p.$pk = f.$fk)) = 0 AS ok"""
        .stripMargin
    }.mkString("\nUNION ALL\n")

  /** DuckDB twin — same long-format stats per column. */
  def oracleSql: Map[String, String] = Map(
    "dq_referential" -> duckReferentialSql,
    "dq_freshness" -> duckFreshnessSql,
    "dq_uniqueness" -> duckUniquenessSql,
    "feature_mad" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_quantity * 2) AS BIGINT) AS q2
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, quantile_cont(q2, 0.5) AS med2
        |  FROM b GROUP BY 1),
        |j AS (
        |  SELECT b.l_returnflag, m.med2,
        |         abs(CAST(b.q2 AS DOUBLE) - m.med2) AS ad2
        |  FROM b JOIN m USING (l_returnflag))
        |SELECT l_returnflag, count(*) AS n,
        |       med2 / CAST(2.0 AS DOUBLE) AS median_qty,
        |       quantile_cont(ad2, 0.5) / CAST(2.0 AS DOUBLE) AS mad_qty
        |FROM j GROUP BY l_returnflag, med2""".stripMargin,
    "crosstab_chi2" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(month(ts) AS BIGINT) AS month,
        |         count(*) AS obs
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS row_tot
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT month, CAST(sum(obs) AS BIGINT) AS col_tot
        |       FROM cells GROUP BY 1),
        |n AS (SELECT CAST(sum(obs) AS BIGINT) AS n_total FROM cells)
        |SELECT c.event_type, c.month, c.obs, rt.row_tot, ct.col_tot,
        |       CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.n_total
        |         AS expected,
        |       (CAST(c.obs AS DOUBLE) -
        |        CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.n_total) *
        |       (CAST(c.obs AS DOUBLE) -
        |        CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.n_total) /
        |       (CAST(rt.row_tot * ct.col_tot AS DOUBLE) / n.n_total)
        |         AS chi2_cell
        |FROM cells c
        |JOIN rt USING (event_type)
        |JOIN ct USING (month), n""".stripMargin,
    "feature_target_encode" ->
      s"""WITH rows0 AS (
         |  SELECT c_mktsegment AS category,
         |         (o_orderkey * 2654435761) % 4294967296 % $TeFolds
         |           AS fold,
         |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders JOIN customer ON o_custkey = c_custkey),
         |cf AS (
         |  SELECT category, fold, count(*) AS n_cf,
         |         CAST(sum(cents) AS BIGINT) AS sum_cf
         |  FROM rows0 GROUP BY 1, 2),
         |c AS (
         |  SELECT category, CAST(sum(n_cf) AS BIGINT) AS n_c,
         |         CAST(sum(sum_cf) AS BIGINT) AS sum_c
         |  FROM cf GROUP BY 1),
         |g AS (
         |  SELECT CAST(sum(n_cf) AS BIGINT) AS n_g,
         |         CAST(sum(sum_cf) AS BIGINT) AS sum_g
         |  FROM cf)
         |SELECT cf.category, cf.fold,
         |       c.n_c - cf.n_cf AS n_oof,
         |       c.sum_c - cf.sum_cf AS sum_oof_cents,
         |       CAST(CAST(g.n_g AS HUGEINT) * (c.sum_c - cf.sum_cf)
         |              + CAST($TeSmoothing AS HUGEINT) * g.sum_g
         |            AS DOUBLE)
         |         / CAST(CAST(g.n_g AS HUGEINT) *
         |             ((c.n_c - cf.n_cf) + $TeSmoothing) AS DOUBLE)
         |           AS encoded_cents
         |FROM cf JOIN c USING (category), g""".stripMargin,
    "feature_binning" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |         list_transform(
        |           quantile_cont(l_extendedprice,
        |             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |           x -> CAST(round(x * 1000) AS BIGINT)) AS bounds_e3
        |  FROM lineitem GROUP BY 1)
        |SELECT li.l_orderkey, CAST(li.l_linenumber AS BIGINT)
        |         AS l_linenumber,
        |       li.l_returnflag,
        |       CAST(round(li.l_extendedprice * 100) AS BIGINT)
        |         AS price_cents,
        |       CAST(1 + len(list_filter(b.bounds_e3,
        |         x -> CAST(round(li.l_extendedprice * 100) AS BIGINT) * 10
        |              > x)) AS BIGINT) AS decile
        |FROM lineitem li JOIN b USING (l_returnflag)""".stripMargin,
    "feature_cdf" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l_returnflag,
        |       CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |       cume_dist() OVER (
        |         PARTITION BY l_returnflag
        |         ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS cdf
        |FROM lineitem""".stripMargin,
    "skew_profile" -> {
      def one(table: String, col: String) =
        s"""SELECT 'TBL.COL' AS key, n_keys, total_rows,
           |       CAST(max_cnt AS DOUBLE) / total_rows AS top_share,
           |       CAST(2 * iwx - (n_keys + 1) * total_rows AS DOUBLE) /
           |         CAST(n_keys * total_rows AS DOUBLE) AS gini,
           |       CAST(sq AS DOUBLE) /
           |         CAST(total_rows * total_rows AS DOUBLE) AS hhi
           |FROM (
           |  SELECT count(*) AS n_keys,
           |         CAST(sum(cnt) AS BIGINT) AS total_rows,
           |         CAST(max(cnt) AS BIGINT) AS max_cnt,
           |         CAST(sum(i * cnt) AS BIGINT) AS iwx,
           |         CAST(sum(cnt * cnt) AS BIGINT) AS sq
           |  FROM (
           |    SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS i
           |    FROM (SELECT $col AS k, count(*) AS cnt
           |          FROM $table GROUP BY 1)))"""
          .stripMargin.replace("TBL.COL", s"$table.$col")
      Seq(one("lineitem", "l_partkey"), one("lineitem", "l_suppkey"),
        one("orders", "o_custkey")).mkString("\nUNION ALL\n")
    },
    "feature_zscore" ->
      """WITH li AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |         l_returnflag, CAST(l_quantity AS BIGINT) AS quantity
        |  FROM lineitem),
        |st AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(sum(quantity) AS BIGINT) AS s,
        |         CAST(sum(quantity * quantity) AS BIGINT) AS ss
        |  FROM li GROUP BY 1)
        |SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
        |       li.quantity,
        |       CAST(st.s AS DOUBLE) / st.n AS mean_q,
        |       CASE WHEN sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE) /
        |                      CAST(st.n * st.n AS DOUBLE)) > 0
        |            THEN (CAST(li.quantity AS DOUBLE) -
        |                  CAST(st.s AS DOUBLE) / st.n) /
        |                 sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE) /
        |                      CAST(st.n * st.n AS DOUBLE))
        |       END AS z
        |FROM li JOIN st USING (l_returnflag)""".stripMargin,
    "quality_profile_orders" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderpriority", "o_totalprice_cents")
      val selects = cols.map { c =>
        s"""SELECT '$c' AS column, count(*) AS n_rows,
           |       count(*) - count($c) AS n_nulls,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_str,
           |       CAST(max($c) AS VARCHAR) AS max_str
           |FROM t""".stripMargin
      }
      s"""WITH t AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
         |           AS o_orderdate,
         |         o_orderpriority,
         |         CAST(round(o_totalprice * 100) AS BIGINT)
         |           AS o_totalprice_cents
         |  FROM orders)
         |${selects.mkString("\nUNION ALL\n")}""".stripMargin
    },
    "quality_outliers" ->
      """WITH b AS (
        |  SELECT o_orderstatus,
        |         CAST(round(quantile_cont(o_totalprice, 0.01) * 1000)
        |              AS BIGINT) AS lo_e3,
        |         CAST(round(quantile_cont(o_totalprice, 0.99) * 1000)
        |              AS BIGINT) AS hi_e3
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderkey, o.o_orderstatus,
        |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
        |       b.lo_e3, b.hi_e3,
        |       CASE WHEN CAST(round(o.o_totalprice * 100) AS BIGINT) * 10
        |                 > b.hi_e3
        |            THEN 'high' ELSE 'low' END AS side
        |FROM orders o JOIN b USING (o_orderstatus)
        |WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) * 10 > b.hi_e3
        |   OR CAST(round(o.o_totalprice * 100) AS BIGINT) * 10 < b.lo_e3"""
        .stripMargin,
  )
}
