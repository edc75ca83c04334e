package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

class PipelineSpec extends SparkSpec {

  test("full medallion run on sf0.001: all stages written, checks pass") {
    val out = Files.createTempDirectory("graft_pipe").toString
    val checks = Pipeline.runAll(spark, "/root/testdata/sf0.001", out)
    assert(checks.nonEmpty)
    assert(checks.forall(_.passed))
    // 6 silver + 6 gold non-empty checks plus key checks
    assert(checks.count(_.check == "non_empty") === 12)
    assert(checks.count(_.check.startsWith("pk_unique")) === 5)
  }

  test("full run throws when a check fails: an empty raw table fails its " +
      "non_empty check instead of passing silently") {
    val sf = java.nio.file.Paths.get("/root/testdata/sf0.001")
    val in = Files.createTempDirectory("graft_pipe_empty_in")
    Files.list(sf).forEach(f =>
      if (f.getFileName.toString != "supplier.parquet")
        Files.copy(f, in.resolve(f.getFileName)))
    spark.read.parquet(sf.resolve("supplier.parquet").toString).limit(0)
      .write.parquet(in.resolve("supplier.parquet").toString)
    val out = Files.createTempDirectory("graft_pipe_empty_out").toString
    val e = intercept[IllegalArgumentException] {
      Pipeline.runAll(spark, in.toString, out)
    }
    assert(e.getMessage.contains("supplier/non_empty"), e.getMessage)
  }

  test("reference-parity JDBC medallion: bronze->silver->gold entirely " +
      "through an embedded Derby store; gold equals the parquet-path gold") {
    val sf = "/root/testdata/sf0.001"
    val dbDir = Files.createTempDirectory("graft_pipe_derby").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val goldTables = Pipeline.runAllJdbc(spark, sf, url)
    assert(goldTables.size === 6)
    // the parquet-path gold (the registered, oracle-verified surface)
    val out = Files.createTempDirectory("graft_pipe_parquet").toString
    val parquetGold = Pipeline.runGold(spark, sf, out)
      .map(r => s"gold_${r.table}" -> r.path).toMap
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.collect().toSeq
        .map(_.toSeq.map(v => String.valueOf(v)))
        .sortBy(_.mkString(""))
    goldTables.foreach { t =>
      val viaDb = spark.read.format("jdbc").option("url", url)
        .option("dbtable", t).load()
      val viaParquet = spark.read.parquet(parquetGold(t))
      assert(viaDb.columns.toSeq === viaParquet.columns.toSeq,
        s"$t column drift")
      assert(rows(viaDb) === rows(viaParquet), s"$t value drift")
      assert(viaDb.count() > 0, s"$t empty")
    }
    // the silver zone also lives in the DB (the reference's to_silver
    // writes it there) — spot-check one table round-tripped
    val silverOrders = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "silver_orders").load()
    assert(silverOrders.count() ===
      Silver.orders(spark, sf).count())
  }

  test("stage row counts observed on the write equal a read-back count") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft_pipe_rows").toString
    val empty = spark.range(0).toDF("id")
    val stages = Pipeline.runSilver(spark, sf, out) ++
      Pipeline.runGold(spark, sf, out) ++
      Pipeline.writeStages(out, "gold", Seq("empty" -> empty))
    assert(stages.map(_.table) === Seq("orders", "customer", "lineitem",
      "part", "supplier", "events", "daily_sales", "customer_metrics",
      "product_performance", "seller_performance", "satisfaction_metrics",
      "delivery_performance", "empty"))
    stages.foreach { s =>
      assert(s.rows === spark.read.parquet(s.path).count(), s.table)
    }
    assert(stages.last.rows === 0L)
  }

  test("validate equals the count/distinct/null-scan definition on a zone " +
      "with a duplicated key, a null key and an empty table") {
    val out = Files.createTempDirectory("graft_pipe_checks").toString
    val orders = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_comment", StringType)))
    def write(zone: String, table: String, schema: StructType,
        rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.parquet(s"$out/$zone/$table")
    write("silver", "orders", orders, Seq(Row(1L, "a"), Row(1L, "b"),
      Row(null, "c"), Row(null, "d"), Row(2L, "e")))
    write("silver", "customer", StructType(Seq(
      StructField("c_custkey", LongType))), Seq(Row(7L), Row(8L)))
    write("silver", "lineitem", orders, Seq(Row(3L, "x")))
    write("gold", "daily_sales", orders, Nil)
    // a stray file in a zone is not a table
    Files.writeString(java.nio.file.Paths.get(s"$out/gold/notes.txt"), "x")

    val keys = Map("orders" -> "o_orderkey", "customer" -> "c_custkey")
    val expected = Seq("silver" -> Seq("customer", "lineitem", "orders"),
        "gold" -> Seq("daily_sales")).flatMap { case (zone, tables) =>
      tables.flatMap { table =>
        val df = spark.read.parquet(s"$out/$zone/$table")
        val n = df.count()
        Pipeline.CheckResult(zone, table, "non_empty", n > 0, s"rows=$n") +:
          keys.get(table).filter(_ => zone == "silver").toSeq.flatMap { k =>
            val distinct = df.select(k).distinct().count()
            val nulls = df.filter(col(k).isNull).count()
            Seq(Pipeline.CheckResult(zone, table, s"pk_unique($k)",
                distinct == n, s"distinct=$distinct rows=$n"),
              Pipeline.CheckResult(zone, table, s"pk_not_null($k)",
                nulls == 0, s"nulls=$nulls"))
          }
      }
    }
    val checks = Pipeline.validate(spark, out)
    assert(checks === expected)
    assert(checks.filterNot(_.passed).map(c => s"${c.table}/${c.check}") ===
      Seq("orders/pk_unique(o_orderkey)", "orders/pk_not_null(o_orderkey)",
        "daily_sales/non_empty"))
  }

  test("validate on a missing zone directory names the path") {
    val out = Files.createTempDirectory("graft_pipe_missing").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$out/silver"))
    val e = intercept[java.io.FileNotFoundException] {
      Pipeline.validate(spark, out)
    }
    assert(e.getMessage.contains(s"$out/gold"), e.getMessage)
  }

  test("concurrently: results in task order, caller's local properties " +
      "inherited, first failure rethrown after every task has finished, " +
      "no thread left") {
    val sc = spark.sparkContext
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    def slow(i: Int): () => String = () => {
      Thread.sleep(300L)
      done.incrementAndGet()
      s"$i:${sc.getLocalProperty("graft.test.prop")}"
    }
    sc.setLocalProperty("graft.test.prop", "caller")
    try {
      assert(Pipeline.concurrently(Seq(slow(0), slow(1), slow(2))) ===
        Seq("0:caller", "1:caller", "2:caller"))
      done.set(0)
      val e = intercept[IllegalStateException] {
        Pipeline.concurrently(Seq(slow(0),
          () => throw new IllegalStateException("boom"), slow(2), slow(3)))
      }
      assert(e.getMessage === "boom")
      assert(done.get === 3)
    } finally sc.setLocalProperty("graft.test.prop", null)
    import scala.jdk.CollectionConverters._
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("graft-concurrently-"))
    assert(alive.isEmpty, alive.map(_.getName))
  }

  // Measured on sf0.001 under local[4]: 60 jobs. It was 150 with a
  // read-back count per written table, 13 raw-table loads in gold and
  // three scans per keyed table in validate, then 85 while every parquet
  // read still ran a one-task schema-inference job (7 silver loads,
  // 6 gold loads, 12 validate reads). The bound is the measured count
  // plus a margin of 5 jobs.
  test("silver + gold + validate stays within its Spark job budget") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft_pipe_jobs").toString
    val group = "pipeline-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try {
      Pipeline.runSilver(spark, sf, out)
      Pipeline.runGold(spark, sf, out)
      assert(Pipeline.validate(spark, out).forall(_.passed))
    } finally {
      sc.clearJobGroup()
      GraftBridge.drainListenerBus(spark, 30000L)
      sc.removeSparkListener(listener)
    }
    info(s"jobs: ${jobs.get}")
    assert(jobs.get <= 65, s"${jobs.get} jobs")
  }
}
