package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, DataFrame, GraftBridge}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Bronze.readParquet]] against plain `spark.read.parquet`: the same
  * schema and rows on every layout the program writes or reads, Spark's
  * own error where Spark raises one — and no Spark job to learn the
  * schema.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** Same schema and rows as plain `spark.read.parquet`; unless the case
    * is one Spark must resolve itself, also no job (a silent fallback
    * would give the same answer through Spark's inference job).
    */
  private def assertSame(path: String, jobFree: Boolean = true): Unit = {
    val plain = spark.read.parquet(path)
    val (ours, jobs) = withJobs(Bronze.readParquet(spark, path))
    assert(ours.schema === plain.schema, path)
    assert(rows(ours) === rows(plain), path)
    if (jobFree) assert(jobs === 0, s"$path: schema read ran $jobs job(s)")
  }

  /** `body`'s result and the Spark jobs started while it ran. */
  private def withJobs[A](body: => A): (A, Int) = {
    val group = "parquet-read-spec"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "schema jobs")
    val result =
      try body
      finally {
        sc.clearJobGroup()
        GraftBridge.drainListenerBus(spark, 30000L)
        sc.removeSparkListener(listener)
      }
    (result, jobs.get)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("every raw table of sf0.001 reads with Spark's schema and rows") {
    // as Tables.events sets it: NANOS timestamps surface as BIGINT
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.all.foreach(t => assertSame(s"$sf/$t.parquet"))
  }

  test("resolving a table runs no Spark job; plain inference runs one") {
    val path = s"$sf/orders.parquet"
    assert(withJobs(Bronze.readParquet(spark, path))._2 === 0)
    assert(withJobs(spark.read.parquet(path))._2 >= 1)
  }

  test("TIMESTAMP(NANOS) follows nanosAsLong, as Tables.events reads it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("graft_pq_nanos")
    val schema = MessageTypeParser.parseMessageType("message events { " +
      "required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"),
        spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000001L)
      .foreach { case (id, ns) => w.write(new SimpleGroupFactory(schema)
        .newGroup().append("event_id", id).append("ts", ns)) }
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    assertSame(dir)
    assert(Bronze.readParquet(spark, dir).schema("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    spark.conf.set(key, "false")
    try {
      val plain = intercept[AnalysisException](spark.read.parquet(dir))
      val ours = intercept[AnalysisException](Bronze.readParquet(spark, dir))
      assert(ours.getCondition === "PARQUET_TYPE_ILLEGAL")
      assert(ours.getMessage === plain.getMessage)
    } finally spark.conf.set(key, "true")
  }

  test("multi-file directory written by Spark") {
    val dir = s"${tmp("graft_pq_multi")}/t"
    // field metadata lives only in Spark's schema JSON in the footer
    val comment = new org.apache.spark.sql.types.MetadataBuilder()
      .putString("comment", "kept").build()
    spark.range(0, 1000).selectExpr("id", "cast(id % 7 as int) AS k",
        "concat('v', id) AS s", "array(id, id + 1) AS a")
      .withColumn("s", $"s".as("s", comment))
      .repartition(4).write.parquet(dir)
    assert(Bronze.readParquet(spark, dir).schema("s").metadata === comment)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) === 4)
    assertSame(dir)
  }

  test("empty table written by Bronze.writeParquet") {
    val dir = s"${tmp("graft_pq_empty")}/t"
    Bronze.writeParquet(Seq((1L, "a")).toDF("id", "v").filter("id < 0"), dir)
    assertSame(dir)
    assert(Bronze.readParquet(spark, dir).count() === 0L)
  }

  test("hive-partitioned directory keeps its partition columns") {
    val dir = s"${tmp("graft_pq_part")}/t"
    Bronze.writeParquet(spark.range(0, 200).selectExpr("id",
        "cast(id % 3 as int) AS p", "cast(id % 2 as string) AS q"),
      dir, partitionCols = Seq("p", "q"))
    assertSame(dir)
    assert(Bronze.readParquet(spark, dir).columns.toSeq ===
      Seq("id", "p", "q"))
  }

  private def partFile(dir: String): Path =
    Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .minBy(_.getFileName.toString)

  test("_SUCCESS, .crc and _temporary entries are skipped") {
    val dir = s"${tmp("graft_pq_hidden")}/t"
    spark.range(0, 50).toDF("id").repartition(2).write.parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")))
    // hidden parquet files of another schema that sort before every
    // part file: read, they would change the schema
    val other = s"${tmp("graft_pq_other")}/t"
    Seq(("x", 1.5)).toDF("s", "d").write.parquet(other)
    Files.createDirectories(Paths.get(dir, "_temporary", "0"))
    Files.copy(partFile(other), Paths.get(dir, "_temporary", "0", "a.parquet"))
    Files.copy(partFile(other), Paths.get(dir, ".a.parquet"))
    assertSame(dir)
  }

  test("first data file in path order decides, as in Spark") {
    val dir = s"${tmp("graft_pq_order")}/t"
    Seq((1L, "a")).toDF("id", "v1").write.parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.mode("append")
      .parquet(dir)
    assertSame(dir)
  }

  test("mergeSchema and summary files fall back to Spark's own read") {
    val dir = s"${tmp("graft_pq_merge")}/t"
    Seq((1L, "a")).toDF("id", "v1").write.parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2").write.mode("append")
      .parquet(dir)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertSame(dir, jobFree = false)
      assert(Bronze.readParquet(spark, dir).columns.toSeq ===
        Seq("id", "v1", "v2"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // a `_common_metadata` summary holding the wider schema next to a
    // data file that sorts before it: Spark reads the summary
    val other = s"${tmp("graft_pq_summary")}/t"
    Seq((3L, "c")).toDF("id", "v1").write.parquet(other)
    Files.move(partFile(other), Paths.get(other, "0.parquet"))
    val wide = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .maxBy(p => Files.size(p))
    Files.copy(wide, Paths.get(other, "_common_metadata"))
    assertSame(other, jobFree = false)
    assert(Bronze.readParquet(spark, other).columns.toSeq ===
      Seq("id", "v1", "v2"))
  }

  test("missing path and unreadable footer raise Spark's own error") {
    val missing = s"${tmp("graft_pq_missing")}/nope"
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val ours = intercept[AnalysisException](
      Bronze.readParquet(spark, missing))
    assert(ours.getCondition === "PATH_NOT_FOUND")
    assert(ours.getMessage === plain.getMessage)
    val bad = s"${tmp("graft_pq_bad")}/t"
    Files.createDirectories(Paths.get(bad))
    Files.writeString(Paths.get(bad, "part-0.parquet"), "not parquet")
    // the job's stage and task ids differ run to run; the error chain not
    def conditions(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }.toSeq
    val plainBad = intercept[Exception](spark.read.parquet(bad))
    val oursBad = intercept[Exception](Bronze.readParquet(spark, bad))
    assert(oursBad.getClass === plainBad.getClass)
    assert(conditions(oursBad) === conditions(plainBad))
    assert(conditions(oursBad).contains(
      "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER"))
  }
}
