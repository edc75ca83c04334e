package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, date_format, expr, lit, sum}
import org.apache.spark.sql.types._

/** Bronze-zone ingestion — the reference's source/sink surface
  * (SURVEY.md §2.1 S1-S4) re-expressed for a Parquet lake.
  *
  * The reference reads CSV with `inferSchema=True` (reference
  * `include/scripts/to_bronze.py:39`) — a full extra pass and
  * nondeterministic under malformed rows — and writes every zone to
  * Postgres over single-partition JDBC (`to_bronze.py:41-50`), its real
  * bottleneck (SURVEY.md §6). Here:
  *  - CSV is read with EXPLICIT schemas (one pass, deterministic,
  *    FAILFAST so bad rows surface instead of silently nulling);
  *  - tables rest as Parquet — columnar, splittable, predicate/projection
  *    pushdown — written with optional hash-partitioning columns, the
  *    layout that gives partition pruning at 100 TB;
  *  - the reference's table-name routing dict (`to_bronze.py:17-27`)
  *    becomes [[schemas]]: name → StructType.
  */
object Bronze {

  /** Explicit schemas for every engine table (FIXTURES.md §B). */
  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType))),
  )

  /** S1: CSV scan with explicit schema — single pass, FAILFAST. */
  def readCsv(spark: SparkSession, path: String, table: String): DataFrame =
    spark.read
      .schema(schemas(table))
      .option("header", "true")
      .option("mode", "FAILFAST")
      .csv(path)

  /** S3: Parquet sink, full-refresh overwrite (the reference's
    * `mode("overwrite")` JDBC write re-expressed). `partitionCols` adds
    * directory partitioning for pruning; leave empty for small dims.
    *
    * r20 (guide §6): a partitioned write is CLUSTERED by the partition
    * columns first — without it, every input task writes a file into
    * every partition directory it sees (small-files squared; at sf0.1
    * the dpp fact write ran as ONE task grinding through 80 month
    * directories sequentially, 3.7 s of the query). Hash-clustering
    * spreads directories across tasks AND yields one file per
    * directory per holding task — the standard shape for partitioned
    * output at any scale.
    */
  def writeParquet(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): Unit = {
    val clustered =
      if (partitionCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*)
      else df
    val w = clustered.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** S2: Parquet source — `spark.read.parquet(path)` without the Spark
    * job. Spark's non-merging schema inference reads ONE footer, the
    * first data file in path order, but it does so in a one-task job
    * per call (`mergeSchemasInParallel`), run on the calling thread
    * before anything else can start. Here the same footer is read on the
    * driver with the same rules: the listing recurses with Spark's
    * hidden-name filter (`_SUCCESS`, `.crc`, `_temporary` skipped;
    * `k=v` directories kept), Spark's own schema JSON wins when the
    * footer holds one, and otherwise the parquet schema is converted
    * under the same session flags (`nanosAsLong` and friends). The
    * result goes in as the read schema; it holds only the files'
    * columns, so Spark's file index still discovers partition columns.
    *
    * Anything outside that path — schema merging on, summary files
    * present (Spark prefers them), no data file, a missing path or an
    * unreadable footer — falls back to plain `spark.read.parquet`, so
    * Spark applies its own rules and raises its own errors.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetReadSupport, ParquetToSparkSchemaConverter}
    import scala.util.control.NonFatal
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    def leaves(fs: FileSystem, p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq
        .filterNot(s => org.apache.spark.sql.GraftBridge
          .hiddenPathName(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) leaves(fs, s.getPath) else Seq(s))
    def firstDataFile: Option[FileStatus] = {
      val files =
        try {
          val root = new Path(path)
          leaves(root.getFileSystem(hadoopConf), root)
            .sortBy(_.getPath.toString)
        } catch { case NonFatal(_) => Nil }
      val summary = files.exists(f =>
        Set("_metadata", "_common_metadata")(f.getPath.getName))
      if (summary) None else files.headOption
    }
    if (conf.isParquetSchemaMergingEnabled) None
    else firstDataFile.flatMap { f =>
      try {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromStatus(f, hadoopConf),
          HadoopReadOptions.builder(hadoopConf)
            .withMetadataFilter(SKIP_ROW_GROUPS).build())
        val meta = try reader.getFileMetaData finally reader.close()
        Option(meta.getKeyValueMetaData.get(
            ParquetReadSupport.SPARK_METADATA_KEY)) match {
          // a schema string Spark cannot parse as JSON (pre-1.4 writers)
          // goes to Spark's legacy parser through the fallback
          case Some(json) => Some(DataType.fromJson(json))
            .collect { case s: StructType => s }
          case None => Some(new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              conf.parquetReaderRespectUnknownTypeAnnotation)
            .convert(meta.getSchema))
        }
      } catch { case NonFatal(_) => None }
    }
  }

  /** ORC source/sink — columnar alternative to parquet, same pushdown. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Bucketed table write: pre-shuffles data into `buckets` files by key
    * so subsequent equi-joins/aggregations on that key are co-located —
    * NO exchange at query time (asserted in OperatorsSpec). The 100 TB
    * pattern for fact⋈fact joins repeated across many queries.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** S1, driver-surfaced: round-trip the orders table through a CSV
    * write + explicit-schema read, then the silver orders stage. The
    * oracle is silver_orders' SQL over the PARQUET table, so any CSV
    * fidelity bug — timestamp format drift, double shortest-repr
    * round-trip, header/quoting — hash-mismatches instead of hiding in
    * a test-only path (the one §2 source surface the DuckDB gate never
    * crossed before this query). The CSV lands under the build's target
    * dir; the explicit format pins timestamp text on both write and
    * read (orders timestamps are midnight-precision, FIXTURES.md §B).
    */
  def csvRoundtripOrders(spark: SparkSession, sfDir: String): DataFrame = {
    // full sanitized path, not a 32-bit hash (the AnnIndex r13-advice
    // precedent): two datasets can never collide into one scratch dir
    val path = s"${sys.props("user.dir")}/target/csv-roundtrip/" +
      s"orders_${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}"
    val fmt = "yyyy-MM-dd HH:mm:ss"
    graft.Tables.orders(spark, sfDir).write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("timestampFormat", fmt)
      .option("timestampNTZFormat", fmt)
      .csv(path)
    val back = spark.read
      .schema(schemas("orders"))
      .option("header", "true")
      .option("mode", "FAILFAST")
      .option("timestampFormat", fmt)
      .option("timestampNTZFormat", fmt)
      .csv(path)
    graft.etl.Silver.ordersStage(back)
  }

  /** S1/S3, driver-surfaced like [[csvRoundtripOrders]] but through the
    * ORC sink+source: binary columnar round trip (no text formats to
    * pin), then the silver stage — the same oracle, so ORC fidelity is
    * hash-checked, not just spec-checked.
    */
  def orcRoundtripOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"${sys.props("user.dir")}/target/orc-roundtrip/" +
      s"orders_${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}"
    writeOrc(graft.Tables.orders(spark, sfDir), path)
    graft.etl.Silver.ordersStage(readOrc(spark, path))
  }

  /** S1/S3 through the JSON-lines sink+source: explicit schema on the
    * way back (no inference pass) with the timestamp text format pinned
    * on both sides, exactly the [[csvRoundtripOrders]] discipline.
    */
  def jsonRoundtripOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"${sys.props("user.dir")}/target/json-roundtrip/" +
      s"orders_${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}"
    val fmt = "yyyy-MM-dd HH:mm:ss"
    graft.Tables.orders(spark, sfDir).write
      .mode(SaveMode.Overwrite)
      .option("timestampFormat", fmt)
      .option("timestampNTZFormat", fmt)
      .json(path)
    val back = spark.read
      .schema(schemas("orders"))
      .option("mode", "FAILFAST")
      .option("timestampFormat", fmt)
      .option("timestampNTZFormat", fmt)
      .json(path)
    graft.etl.Silver.ordersStage(back)
  }

  /** DYNAMIC PARTITION PRUNING, driver-surfaced: write orders
    * directory-partitioned by calendar month, materialize an
    * independent month dimension (month → quarter), then join fact to
    * the dim FILTERED to Q1. At plan time the months surviving the
    * filter are unknown, so static pruning can't help — Spark's DPP
    * inserts a `dynamicpruningexpression` on the fact scan's partition
    * column, fed by the dim's broadcast, and the fact side READS ONLY
    * the matching month directories (BronzeSpec asserts the pruning
    * subquery in the plan; this query hash-checks the values through
    * the DuckDB gate). The 100 TB pattern for date-partitioned facts
    * joined to filtered dimensions — the scan cost tracks the dim
    * filter's selectivity, not the table size.
    *
    * The dim is written to its own scratch parquet and read back so it
    * is a genuinely separate relation (deriving it from the fact's
    * lineage would let Catalyst collapse the join instead of pruning).
    * Scratch paths key on the full sanitized dataset path (the AnnIndex
    * precedent).
    */
  def dppJoinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val key = sfDir.replaceAll("[^A-Za-z0-9._-]", "_")
    val base = s"${sys.props("user.dir")}/target/dpp"
    val factPath = s"$base/orders_$key"
    val dimPath = s"$base/months_$key"
    val orders = graft.Tables.orders(spark, sfDir)
    writeParquet(
      orders.withColumn("month",
        date_format(col("o_orderdate"), "yyyy-MM")),
      factPath, Seq("month"))
    writeParquet(
      orders.select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          expr("cast((month(o_orderdate) - 1) div 3 + 1 as long)")
            .as("quarter"))
        .distinct(),
      dimPath)
    val fact = readParquet(spark, factPath)
    val dim = readParquet(spark, dimPath)
    fact.join(dim.filter(col("quarter") === 1L), Seq("month"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as long)"))
          .as("revenue_cents"))
  }

  /** BUCKETED CO-LOCATED JOIN, driver-surfaced: write orders and
    * customer bucketed by their join key (same bucket count), then join
    * and aggregate revenue per market segment — at query time the join
    * reads co-located buckets with NO exchange on either side
    * (OperatorsSpec asserts the plan; this query hash-checks the
    * results through the DuckDB gate). The 100 TB pattern for fact⋈fact
    * joins repeated across many queries: pay the shuffle once at write
    * time, never again.
    *
    * Scratch hygiene: table names key on the full sanitized dataset
    * path (the AnnIndex precedent); a stale managed-table directory
    * from a previous session (fresh in-memory catalog, old warehouse
    * dir) is deleted before the write, since DROP TABLE can't see it —
    * through [[Scratch.deleteRecursivelyUnder]], which refuses any
    * path outside the warehouse/target scratch roots.
    */
  def bucketedJoinRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val key = sfDir.replaceAll("[^A-Za-z0-9_]", "_").toLowerCase
    val to = s"graft_orders_bkt_$key"
    val tc = s"graft_customer_bkt_$key"
    val wh = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq(to, tc).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Scratch.deleteRecursivelyUnder(new java.io.File(s"$wh/$t"),
        Scratch.allowedRoots(spark))
    }
    writeBucketed(graft.Tables.orders(spark, sfDir)
      .select("o_custkey", "o_totalprice"), to, 8, Seq("o_custkey"))
    writeBucketed(graft.Tables.customer(spark, sfDir)
      .select("c_custkey", "c_mktsegment"), tc, 8, Seq("c_custkey"))
    spark.table(to)
      .join(spark.table(tc), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(round(o_totalprice * 100) as long)"))
          .as("revenue_cents"))
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "csv_silver_orders" -> (csvRoundtripOrders(_, _)),
    "orc_silver_orders" -> (orcRoundtripOrders(_, _)),
    "json_silver_orders" -> (jsonRoundtripOrders(_, _)),
    "join_bucketed_revenue" -> (bucketedJoinRevenue(_, _)),
    "join_dpp_revenue" -> (dppJoinRevenue(_, _)),
  )

  /** The CSV/ORC/JSON round-trips must land byte-identical to the
    * parquet-sourced silver_orders — same oracle SQL, so the twin IS
    * the fidelity check.
    */
  def oracleSql: Map[String, String] = Map(
    "csv_silver_orders" -> graft.etl.Silver.oracleSql("silver_orders"),
    "orc_silver_orders" -> graft.etl.Silver.oracleSql("silver_orders"),
    "json_silver_orders" -> graft.etl.Silver.oracleSql("silver_orders"),
    "join_dpp_revenue" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents
        |FROM orders
        |WHERE (CAST(strftime(o_orderdate, '%m') AS INTEGER) - 1) // 3 + 1
        |      = 1
        |GROUP BY 1""".stripMargin,
    "join_bucketed_revenue" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
  )

  /** S3 (JDBC parity): external-database sink mirroring the reference's
    * per-zone `df.write.format("jdbc")...mode("overwrite")` (reference
    * `include/scripts/to_bronze.py:41-50`, `to_silver.py:33-42`,
    * `to_gold.py:36-45`). Executors open one connection per partition and
    * insert in `batchSize` batches; `numPartitions` caps the connection
    * fan-in so a wide job cannot exhaust the database's connection pool —
    * the knob the single-partition reference never needed. Exercised
    * round-trip against embedded Derby in BronzeSpec (no external DB in
    * the container).
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      mode: SaveMode = SaveMode.Overwrite, batchSize: Int = 10000,
      isolationLevel: String = "READ_COMMITTED",
      numPartitions: Option[Int] = None): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("isolationLevel", isolationLevel)
    // the JDBC sink coalesces itself when the plan has more partitions
    numPartitions.foreach(n => w.option("numPartitions", n))
    w.mode(mode).save()
  }
}
