package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.etl.Silver
import graft.sources.{Bronze, Scratch}

/** Incremental medallion: the batch bronze→silver→gold pipeline
  * ([[graft.etl.Pipeline]], reference `dags/dag.py:39-80`) re-expressed
  * as ONE Structured Streaming query, so continuously-landing source
  * files flow to a continuously-current gold table without full-refresh
  * reruns (the reference reruns every zone from scratch per DAG run —
  * `to_bronze.py:41-50` overwrites Postgres each time).
  *
  * Shape: a parquet file stream over the orders source feeds
  * `foreachBatch`; each epoch (1) applies the SILVER stage transform
  * ([[Silver.ordersStage]]) to the new files only, (2) MERGE-upserts the
  * result into the keyed silver snapshot ([[UpsertSink.applyBatch]] —
  * staged-swap crash safety), and (3) recomputes the GOLD daily-sales
  * table from the updated snapshot joined to the static lineitem side,
  * committing it with the same staged swap. `Trigger.AvailableNow`
  * drains whatever has landed and stops — the incremental-batch cadence
  * (run-on-schedule, process-only-the-delta) that replaces the
  * reference's full refresh.
  *
  * == Batch parity (the correctness argument) ==
  * Orders' duplicates are FULL-ROW duplicates (the D1 rule
  * `Silver.ordersStage` exists for) and `o_orderkey` is unique after
  * that dedup (Pipeline.validate's pk_unique gate), so the keyed upsert
  * commutes with any micro-batch partitioning of the source files: every
  * batching converges to the same silver snapshot, and gold — a pure
  * function of (snapshot, static lineitem) — follows. MedallionStreamSpec
  * machine-checks N-batch == 1-batch == batch-pipeline hash equality and
  * the checkpoint-resume (crash/restart) case; the registered
  * `stream_medallion` query runs the real stream per invocation and its
  * DuckDB twin is the silver-composed daily-sales SQL.
  *
  * == Scale shape ==
  * Per epoch the work is bounded by (delta + snapshot) for silver and
  * one gold recompute: the stream never re-reads already-committed
  * source files (checkpointed file index), the upsert shuffles on the
  * snapshot key only, and the gold join/agg is the oracle-verified
  * batch plan. At 100 TB the snapshot rewrite becomes the bottleneck —
  * partition both snapshot and gold by date and rewrite only touched
  * partitions (merge-on-read); this bounded-snapshot form keeps the
  * orchestration identical.
  */
object MedallionStream {

  /** Gold daily-sales over the SILVER snapshot (which already carries
    * the formatted `order_date` and has dropped full-row duplicate
    * orders) joined to the static lineitem side — the silver-composed
    * analog of [[Gold.dailySalesStage]], same integer-cents exactness
    * devices.
    */
  def dailySalesFromSilver(li: DataFrame, silverOrders: DataFrame): DataFrame =
    li.join(silverOrders, li("l_orderkey") === silverOrders("o_orderkey"))
      .groupBy("order_date")
      .agg(
        count("l_orderkey").as("total_items"),
        round(sum(col("l_extendedprice")) * 100).cast("long")
          .as("total_sales_cents"),
        round(sum(col("l_tax")) * 100).cast("long").as("total_tax_cents"))
      .withColumn("total_sales", col("total_sales_cents") / 100.0)
      .withColumn("avg_price",
        (col("total_sales_cents") / 100.0) / col("total_items"))

  /** One epoch's work, factored out for direct spec coverage and for
    * [[UpsertSink.applyBatch]]-style crash-recovery reasoning: silver
    * merge first (staged swap), then gold recompute from the committed
    * snapshot (second staged swap). A crash between the two swaps leaves
    * a current silver with a stale gold — the next epoch's gold
    * recompute repairs it, because gold is a pure function of the
    * snapshot, not of the delta.
    */
  def applyEpoch(batch: DataFrame, liStatic: DataFrame, silverPath: String,
      goldPath: String): Unit = {
    UpsertSink.applyBatch(Silver.ordersStage(batch), silverPath,
      Seq("o_orderkey"))
    val spark = batch.sparkSession
    val gold =
      dailySalesFromSilver(liStatic, Bronze.readParquet(spark, silverPath))
    UpsertSink.stagedOverwrite(gold, goldPath)
  }

  /** Drain everything currently in `srcDir` through the medallion in
    * micro-batches of at most `maxFilesPerTrigger` files, blocking until
    * the AvailableNow drain terminates. Re-invoking after more files
    * land resumes from the checkpoint (only the delta is processed).
    */
  def runAvailableNow(spark: SparkSession, srcDir: String,
      liStatic: DataFrame, workDir: String,
      maxFilesPerTrigger: Int = 1): Unit = {
    val schema = Bronze.readParquet(spark, srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    val q = stream.writeStream
      .option("checkpointLocation", s"$workDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        applyEpoch(batch.toDF(), liStatic, s"$workDir/silver_orders",
          s"$workDir/gold_daily_sales")
      }
      .start()
    try q.awaitTermination() finally q.stop()
  }

  /** Number of source files the registered query splits orders into —
    * each becomes one micro-batch under maxFilesPerTrigger=1, so the
    * driver-gated run exercises a genuinely multi-epoch incremental
    * pipeline (the fixture ships orders as a single file).
    */
  val QuerySourceSplits = 3

  /** Registered-query entry: split the orders fixture into
    * [[QuerySourceSplits]] files in a scratch dir, run the incremental
    * medallion over them (fresh checkpoint per invocation — the run is
    * deterministic, so re-processing from scratch returns the identical
    * gold), and return the final gold table. Scratch lives under
    * `target/` and is rebuilt per invocation; the twin is
    * [[oracleSql]]'s silver-composed daily-sales SQL.
    */
  def streamMedallion(spark: SparkSession, sfDir: String): DataFrame = {
    val root = new java.io.File(
      s"${sys.props("user.dir")}/target/medallion-stream")
    Scratch.deleteRecursivelyUnder(root, Scratch.allowedRoots(spark))
    val src = s"${root.getPath}/src"
    graft.Tables.orders(spark, sfDir)
      .repartition(QuerySourceSplits)
      .write.parquet(src)
    runAvailableNow(spark, src, graft.Tables.lineitem(spark, sfDir),
      root.getPath)
    Bronze.readParquet(spark, s"${root.getPath}/gold_daily_sales")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_medallion" -> (streamMedallion(_, _)),
  )

  /** The silver-composed daily-sales twin: gold over DEDUPED orders
    * (the medallion's silver snapshot), not raw orders — full-row
    * DISTINCT is exactly [[Silver.ordersStage]]'s D1 rule, and the
    * cents/ratio arithmetic mirrors [[Gold.oracleSql]]'s
    * `gold_daily_sales` twin.
    */
  def oracleSql: Map[String, String] = Map(
    "stream_medallion" ->
      """WITH so AS (
        |  SELECT o_orderkey,
        |         strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |  FROM (SELECT DISTINCT * FROM orders)),
        |g AS (
        |  SELECT so.order_date,
        |         count(l.l_orderkey) AS total_items,
        |         CAST(round(sum(l.l_extendedprice) * 100) AS BIGINT)
        |           AS total_sales_cents,
        |         CAST(round(sum(l.l_tax) * 100) AS BIGINT)
        |           AS total_tax_cents
        |  FROM lineitem l JOIN so ON l.l_orderkey = so.o_orderkey
        |  GROUP BY 1)
        |SELECT order_date, total_items, total_sales_cents, total_tax_cents,
        |       total_sales_cents / 100.0 AS total_sales,
        |       (total_sales_cents / 100.0) / total_items AS avg_price
        |FROM g""".stripMargin,
  )
}
