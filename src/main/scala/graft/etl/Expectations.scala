package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The one validation engine: declarative data-quality expectations,
  * the reusable form of the validation the reference runs ad hoc after
  * each load (reference `include/scripts/to_silver.py:96-102` counts
  * nulls/dupes inline). [[Pipeline.validate]] and the `dq_*` audits
  * (`dq_expectations` here, `dq_uniqueness` and `dq_referential` in
  * [[graft.ext.Quality]]) are built from its three primitives, so a key
  * or an orphan is counted one way everywhere:
  *   - [[checkRows]]: row-local rules (not-null, range, domain) FUSED
  *     into a single aggregate pass, one scan for any number of rules;
  *   - [[keyStats]]: rows, key groups and null-key rows from one
  *     `groupBy(key)` aggregate;
  *   - [[orphans]]: child rows without a parent, from one left-anti join.
  *
  * Each rule yields one summary row `(rule, column, n_bad, pass)`, so a
  * quality run is itself a DataFrame a dashboard or gate consumes.
  * Nothing collects.
  */
object Expectations {

  /** A row-local expectation: `bad` flags a violating row. */
  case class RowRule(rule: String, column: String, bad: Column)

  /** Fused single-scan check of row-local rules: all violation counters
    * ride ONE aggregate over one scan, and the single result row unstacks
    * into per-rule rows with a generator (a `select` per rule from the
    * shared aggregate would re-evaluate the scan per union branch).
    */
  def checkRows(df: DataFrame, rules: Seq[RowRule]): DataFrame = {
    require(rules.nonEmpty, "no rules given")
    val agg = df.agg(
      sum(when(rules.head.bad, 1L).otherwise(0L)).as("b0"),
      rules.tail.zipWithIndex.map { case (r, i) =>
        sum(when(r.bad, 1L).otherwise(0L)).as(s"b${i + 1}") }: _*)
    val stackArgs = rules.zipWithIndex.map { case (r, i) =>
      s"'${r.rule}', '${r.column}', b$i" }.mkString(", ")
    agg.selectExpr(
      s"stack(${rules.size}, $stackArgs) AS (rule, `column`, n_bad)")
  }

  /** The declared primary key of each contract table. The medallion's
    * silver tables are validated against it ([[Pipeline.validate]]), and
    * `dq_uniqueness` audits it, with its DuckDB twin generated from it.
    */
  val PrimaryKeys: Seq[(String, String)] = Seq(
    ("region", "r_regionkey"), ("nation", "n_nationkey"),
    ("customer", "c_custkey"), ("supplier", "s_suppkey"),
    ("part", "p_partkey"), ("orders", "o_orderkey"),
    ("events", "event_id"), ("documents", "doc_id"),
    ("embeddings", "vec_id"))

  /** Key stats of `df` as one row `(n_rows, n_groups, n_null)` from one
    * aggregate: per-key counts, then one global row. A null key is one
    * group, as in `select(key).distinct()`, so `n_rows - n_groups` is the
    * duplicate surplus and `countDistinct(key)` is `n_groups` less one
    * when `n_null > 0`.
    */
  def keyStats(df: DataFrame, key: String): DataFrame =
    df.groupBy(key).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum("n"), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_groups"),
        coalesce(sum(when(col(key).isNull, col("n"))), lit(0L)).as("n_null"))

  /** Orphan count as one row `(n_orphans)`: child rows whose key matches
    * no parent key, a null child key included (it matches nothing). The
    * parent side is a whole dimension, data-dependent, so the broadcast
    * is advisor-gated; the byte estimate is over the pruned key column
    * (8 bytes/row), which is all the anti-join ships. The parent keys are
    * not made distinct: the anti-join only tests existence, so duplicates
    * cost nothing there, while a `distinct` adds an aggregate and an
    * exchange over the whole dimension.
    */
  def orphans(child: DataFrame, childKey: String, parent: DataFrame,
      parentKey: String): DataFrame =
    child.select(col(childKey).as("k"))
      .join(graft.plans.Layout.advisedBroadcast(
          parent.select(col(parentKey).as("k")), fixed = 8L),
        Seq("k"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))

  /** Key-uniqueness check: `n_bad` = excess rows beyond one per key. */
  def checkUnique(df: DataFrame, key: String): DataFrame =
    keyStats(df, key).select(lit("unique").as("rule"),
      lit(key).as("column"), (col("n_rows") - col("n_groups")).as("n_bad"))

  /** Referential-integrity check: child keys with no parent. */
  def checkRef(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String): DataFrame =
    orphans(child, childKey, parent, parentKey)
      .select(lit("ref_integrity").as("rule"), lit(childKey).as("column"),
        col("n_orphans").as("n_bad"))

  /** The orders-table expectation suite: fused row-local rules + key
    * uniqueness + FK into customer, one verdict row per rule.
    */
  def ordersSuite(orders: DataFrame, customer: DataFrame): DataFrame = {
    val rowRules = checkRows(orders, Seq(
      RowRule("not_null", "o_orderkey", col("o_orderkey").isNull),
      RowRule("not_null", "o_custkey", col("o_custkey").isNull),
      RowRule("range", "o_totalprice",
        col("o_totalprice") < 0 || col("o_totalprice") > 1e9),
      RowRule("domain", "o_orderstatus",
        !col("o_orderstatus").isin("O", "F", "P"))))
    rowRules
      .unionAll(checkUnique(orders, "o_orderkey"))
      .unionAll(checkRef(orders, "o_custkey", customer, "c_custkey"))
      .withColumn("pass", (col("n_bad") === 0L).cast("int"))
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_expectations" -> ((s, d) =>
      ordersSuite(Tables.orders(s, d), Tables.customer(s, d))),
  )

  /** DuckDB twin: each rule recomputed independently. */
  def oracleSql: Map[String, String] = Map(
    "dq_expectations" ->
      """WITH checks AS (
        |  SELECT 'not_null' AS rule, 'o_orderkey' AS "column",
        |         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_bad
        |  FROM orders
        |  UNION ALL
        |  SELECT 'not_null', 'o_custkey',
        |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'range', 'o_totalprice',
        |         CAST(sum(CASE WHEN o_totalprice < 0
        |                        OR o_totalprice > 1000000000.0
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'domain', 'o_orderstatus',
        |         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |                       THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |         CAST(coalesce(sum(n - 1), 0) AS BIGINT)
        |  FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1)
        |  UNION ALL
        |  SELECT 'ref_integrity', 'o_custkey',
        |         CAST(count(*) AS BIGINT)
        |  FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey))
        |SELECT rule, "column", n_bad,
        |       CAST(n_bad = 0 AS INT) AS pass
        |FROM checks""".stripMargin,
  )
}
