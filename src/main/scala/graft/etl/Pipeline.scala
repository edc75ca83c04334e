package graft.etl

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Bronze

/** End-to-end medallion pipeline — the reference's Airflow DAG collapsed
  * into in-process composition (SURVEY.md §2.10 O1-O4): bronze (parquet
  * at rest) → silver (cleansed) → gold (analytics) in ONE SparkSession,
  * followed by REAL validation (the reference's validation task is an
  * `echo` stub, reference `dags/dag.py:73-77`, and every stage swallows
  * its own failures via try/except print — `to_bronze.py:52-53` — which
  * this pipeline deliberately does not: failures propagate).
  *
  * Zones run in order. The tables within a zone, and the per-table
  * validation queries, are independent, so they run concurrently (see
  * [[concurrently]]); a failing table still fails the call, after its
  * siblings have finished.
  *
  * Scale note: stages communicate through parquet paths, not driver
  * memory; each stage is an independent Spark job graph, so a scheduler
  * can retry any stage idempotently (overwrite semantics).
  */
object Pipeline {

  case class StageResult(zone: String, table: String, rows: Long,
      path: String)

  /** Silver zone: cleansed tables written to `$outDir/silver/<t>`. */
  def runSilver(spark: SparkSession, sfDir: String,
      outDir: String): Seq[StageResult] =
    writeStages(outDir, "silver", silverStages(Tables.load(spark, sfDir, _)))

  /** Gold zone: analytics tables written to `$outDir/gold/<t>`. */
  def runGold(spark: SparkSession, sfDir: String,
      outDir: String): Seq[StageResult] =
    writeStages(outDir, "gold", goldStages(Tables.load(spark, sfDir, _)))

  /** The raw tables the zones read: the bronze zone. */
  private val RawTables = Seq("orders", "customer", "lineitem", "part",
    "supplier", "nation", "events")

  /** The silver zone's `(table, frame)` stages over raw tables from
    * `raw`. */
  private def silverStages(
      raw: String => DataFrame): Seq[(String, DataFrame)] = Seq(
    "orders"   -> Silver.ordersStage(raw("orders")),
    "customer" -> Silver.customerStage(raw("customer")),
    "lineitem" -> Silver.lineitemStage(raw("lineitem")),
    "part"     -> Silver.partStage(raw("part"), raw("nation")),
    "supplier" -> Silver.supplierStage(raw("supplier")),
    "events"   -> Silver.eventsStage(raw("events")))

  /** The gold zone's `(table, frame)` stages over raw tables from `raw`.
    * `lineitem` and `orders` are loaded once and shared by the stages
    * that read them. */
  private def goldStages(
      raw: String => DataFrame): Seq[(String, DataFrame)] = {
    val li = raw("lineitem")
    val ord = raw("orders")
    Seq(
      "daily_sales"          -> Gold.dailySalesStage(li, ord),
      "customer_metrics"     -> Gold.customerMetricsStage(li, ord,
        raw("customer")),
      "product_performance"  -> Gold.productPerformanceStage(li,
        raw("part")),
      "seller_performance"   -> Gold.sellerPerformanceStage(li,
        raw("supplier"), ord),
      "satisfaction_metrics" -> Gold.satisfactionMetricsStage(raw("events")),
      "delivery_performance" -> Gold.deliveryPerformanceStage(li, ord))
  }

  /** Writes each `(table, frame)` to `$outDir/$zone/<table>` concurrently.
    * A stage's row count is observed on the write itself, so no table is
    * read back to count it. The observed count reaches the driver through
    * the listener bus after the write returns; a count that never arrives
    * (a dropped event) fails the stage after two minutes instead of
    * hanging it.
    */
  private[etl] def writeStages(outDir: String, zone: String,
      stages: Seq[(String, DataFrame)]): Seq[StageResult] =
    concurrently(stages.map { case (table, df) =>
      val path = s"$outDir/$zone/$table"
      val rows = Observation()
      val counted = df.observe(rows, count(lit(1)))
      () => {
        Bronze.writeParquet(counted, path)
        val n = Await.result(rows.future, ObservedCountTimeout).getLong(0)
        StageResult(zone, table, n, path)
      }
    })

  private val ObservedCountTimeout = 2.minutes

  /** Runs every task at once, one thread per task, and returns their
    * results in task order once all have finished; the first failure in
    * task order is rethrown then. The threads are created by this call, so
    * they inherit the caller's Spark local properties (job group,
    * description, scheduler pool), and none outlives it. Build DataFrames
    * before calling: only actions belong in a task, since building one can
    * set session conf (`Tables.load` of `events`).
    */
  private[etl] def concurrently[A](tasks: Seq[() => A]): Seq[A] = {
    val results = new Array[Either[Throwable, A]](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      new Thread(() => results(i) =
        try Right(task()) catch { case e: Throwable => Left(e) },
        s"graft-concurrently-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.toSeq.map(_.fold(e => throw e, identity))
  }

  case class CheckResult(zone: String, table: String, check: String,
      passed: Boolean, detail: String)

  private def nonEmpty(zone: String, table: String, rows: Long) =
    CheckResult(zone, table, "non_empty", rows > 0, s"rows=$rows")

  /** REAL validation (replaces the reference's echo stub): non-emptiness,
    * primary-key uniqueness, and non-null key constraints per zone, the
    * keys those of [[Expectations.PrimaryKeys]] for the silver tables.
    * Every table directory under `$outDir/silver` and `$outDir/gold` is
    * checked with one query, a keyed table's through
    * [[Expectations.keyStats]]; a missing zone directory is an error.
    */
  def validate(spark: SparkSession, outDir: String): Seq[CheckResult] = {
    val keys = Expectations.PrimaryKeys.toMap
    val checks = Seq("silver", "gold").flatMap { zone =>
      val base = new java.io.File(s"$outDir/$zone")
      if (!base.isDirectory) throw new java.io.FileNotFoundException(
        s"validate: zone directory ${base.getPath} does not exist")
      base.listFiles().toSeq.filter(_.isDirectory).sortBy(_.getName)
        .map { dir =>
          val table = dir.getName
          val df = Bronze.readParquet(spark, dir.getPath)
          keys.get(table).filter(_ => zone == "silver") match {
            case None => () => Seq(nonEmpty(zone, table, df.count()))
            case Some(k) =>
              val stats = Expectations.keyStats(df, k)
              () => {
                val r = stats.head()
                val (rows, distinct, nulls) =
                  (r.getLong(0), r.getLong(1), r.getLong(2))
                Seq(nonEmpty(zone, table, rows),
                  CheckResult(zone, table, s"pk_unique($k)",
                    distinct == rows, s"distinct=$distinct rows=$rows"),
                  CheckResult(zone, table, s"pk_not_null($k)", nulls == 0,
                    s"nulls=$nulls"))
              }
          }
        }
    }
    concurrently(checks).flatten
  }

  /** Full run: silver → gold → validate; throws if any check fails. */
  def runAll(spark: SparkSession, sfDir: String,
      outDir: String): Seq[CheckResult] = {
    runSilver(spark, sfDir, outDir)
    runGold(spark, sfDir, outDir)
    val checks = validate(spark, outDir)
    val failed = checks.filterNot(_.passed)
    require(failed.isEmpty,
      s"validation failed: ${failed.map(c => s"${c.table}/${c.check}").mkString(", ")}")
    checks
  }

  /** Reference-parity run with an external DATABASE as every zone's
    * store (the reference keeps bronze/silver/gold in Postgres and each
    * task reads the previous zone back from the DB, reference
    * `to_bronze.py:41-50`, `to_silver.py:22-42`, `to_gold.py:36-45`):
    * raw parquet → `bronze_<t>` → `silver_<t>` → `gold_<t>`, every hop
    * through [[Bronze.writeJdbc]] / a JDBC read of the PREVIOUS zone —
    * no stage touches the parquet fixtures after bronze.
    *
    * The gold stages consume raw-SHAPE tables (this engine's registered,
    * oracle-verified gold surface — like the reference's `to_gold`
    * SELECTing the untransformed columns), so they read the bronze zone
    * back from the DB; the silver zone is materialized and validated
    * through the DB alongside. PipelineSpec asserts every DB gold table
    * is value-identical to the parquet-path gold — the storage-fidelity
    * proof (timestamps, doubles, strings survive the JDBC round-trip).
    *
    * Returns the gold table names written (prefixed `gold_`).
    */
  def runAllJdbc(spark: SparkSession, sfDir: String,
      url: String): Seq[String] = {
    RawTables.foreach(t =>
      Bronze.writeJdbc(Tables.load(spark, sfDir, t), url, s"bronze_$t"))
    def bronze(t: String): DataFrame =
      spark.read.format("jdbc").option("url", url)
        .option("dbtable", s"bronze_$t").load()
    silverStages(bronze).foreach { case (t, df) =>
      Bronze.writeJdbc(df, url, s"silver_$t") }
    val gold = goldStages(bronze)
    gold.foreach { case (t, df) => Bronze.writeJdbc(df, url, s"gold_$t") }
    gold.map { case (t, _) => s"gold_$t" }
  }
}
