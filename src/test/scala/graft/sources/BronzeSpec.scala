package graft.sources

import graft.SparkSpec
import java.nio.file.Files

class BronzeSpec extends SparkSpec {
  import spark.implicits._

  test("csv roundtrip with explicit schema preserves types and values") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val src = Seq(
      (1L, "Customer#1", 3, 101.25, "BUILDING"),
      (2L, "Customer#2", 9, -4.5, "AUTO"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    src.write.option("header", "true").mode("overwrite").csv(dir)
    val back = Bronze.readCsv(spark, dir, "customer")
    assert(back.schema === Bronze.schemas("customer"))
    assert(back.orderBy("c_custkey").collect().map(_.toSeq).toSeq ===
      src.orderBy("c_custkey").collect().map(_.toSeq).toSeq)
  }

  test("csvRoundtripOrders equals the parquet-sourced silver stage") {
    val viaCsv = Bronze.csvRoundtripOrders(spark, "/root/testdata/sf0.001")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val viaParquet = graft.etl.Silver.orders(spark, "/root/testdata/sf0.001")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(viaCsv.nonEmpty)
    assert(viaCsv === viaParquet,
      "CSV write+read must be value-faithful through the silver stage")
  }

  test("orcRoundtripOrders and jsonRoundtripOrders equal the parquet-" +
      "sourced silver stage") {
    val viaParquet = graft.etl.Silver.orders(spark, "/root/testdata/sf0.001")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(viaParquet.nonEmpty)
    val viaOrc = Bronze.orcRoundtripOrders(spark, "/root/testdata/sf0.001")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(viaOrc === viaParquet,
      "ORC write+read must be value-faithful through the silver stage")
    val viaJson = Bronze.jsonRoundtripOrders(spark, "/root/testdata/sf0.001")
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(viaJson === viaParquet,
      "JSON write+read must be value-faithful through the silver stage")
  }

  test("bucketedJoinRevenue equals the plain join, and re-runs are " +
      "idempotent over the stale warehouse dir") {
    def plain = {
      import org.apache.spark.sql.functions._
      graft.Tables.orders(spark, "/root/testdata/sf0.001")
        .join(graft.Tables.customer(spark, "/root/testdata/sf0.001"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("cast(round(o_totalprice * 100) as long)"))
            .as("revenue_cents"))
        .collect().map(_.toSeq).toSet
    }
    val bucketed = Bronze.bucketedJoinRevenue(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet
    assert(bucketed === plain)
    // second run in the same session: DROP TABLE + dir cleanup must not
    // trip over the managed-table location left by the first
    val again = Bronze.bucketedJoinRevenue(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSet
    assert(again === plain)
  }

  test("dppJoinRevenue: plan carries a dynamic-pruning subquery on the " +
      "partition column and values equal the plain Q1 filter") {
    import org.apache.spark.sql.functions._
    val df = Bronze.dppJoinRevenue(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression on the fact scan:\n$plan")
    val plain = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .filter(expr("(month(o_orderdate) - 1) div 3 + 1 = 1"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as long)"))
          .as("revenue_cents"))
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet === plain)
    assert(plain.nonEmpty) // the fixture must actually exercise Q1
  }

  test("explicit schemas match the driver parquet testdata on read") {
    for ((name, schema) <- Bronze.schemas if name != "events") {
      val actual = spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
      assert(actual.schema.map(f => (f.name, f.dataType)) ===
        schema.map(f => (f.name, f.dataType)), s"schema mismatch: $name")
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft_pq").toString + "/t"
    val df = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    Bronze.writeParquet(df, dir, Seq("l_returnflag"))
    val pruned = spark.read.parquet(dir).filter($"l_returnflag" === "N")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() ===
      df.filter($"l_returnflag" === "N").count())
    assert(!plan.contains("l_returnflag#") ||
      plan.contains("PartitionFilters"), "expected partition pruning")
  }

  test("jdbc roundtrip via embedded Derby: partitioned read, batched write") {
    // Derby ships with the Spark distribution (metastore dependency), so
    // the JDBC source/sink get exercised without an external database
    val dbDir = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val src = graft.Tables.customer(spark, "/root/testdata/sf0.001")
      .select($"c_custkey", $"c_name", $"c_acctbal")
    Bronze.writeJdbc(src, url, "customer_jdbc",
      batchSize = 100, numPartitions = Some(2))
    val n = src.count()
    val back = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "customer_jdbc")
      .option("partitionColumn", "c_custkey").option("lowerBound", 0L)
      .option("upperBound", n).option("numPartitions", 4).load()
    // the written table must serve a partitioned read on its key
    assert(back.rdd.getNumPartitions === 4)
    assert(back.orderBy("c_custkey").collect().map(_.toSeq).toSeq ===
      src.orderBy("c_custkey").collect().map(_.toSeq).toSeq)
    // overwrite mode replaces, not appends
    Bronze.writeJdbc(src.limit(10), url, "customer_jdbc")
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "customer_jdbc").load().count() === 10)
  }
}
