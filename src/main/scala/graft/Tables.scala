package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet loaders for the driver testdata tables (TESTDATA.md).
  *
  * The reference ingests CSV with schema inference and stores rows in
  * Postgres (reference `include/scripts/to_bronze.py:39-50`); our engine
  * standardizes on Parquet at rest — columnar, splittable, self-describing —
  * which is what a 100 TB deployment would use. Parquet footers carry the
  * schema, so reads are deterministic and Catalyst pushes
  * filters/projections into the scan (`PushedFilters`/`ReadSchema`).
  * Every load goes through [[graft.sources.Bronze.readParquet]], which
  * reads the first data file's footer on the driver: no Spark job runs
  * to learn the schema (plain `spark.read.parquet` runs one per call).
  *
  * Scale note: each table maps to a directory of row-group-split files on a
  * real cluster; the parquet scan parallelizes by row-group natively, so
  * nothing here needs to change between local[32] and 1000 executors.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Loads table `name`. `events.ts` has shipped as parquet
    * TIMESTAMP(NANOS) in some fixture generations and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) in others, so for `events` the loader adapts
    * to whatever the footer says rather than assuming:
    *   - nanos (surfaces as BIGINT under the legacy nanosAsLong conf, which
    *     we set up-front — it is a no-op for non-nanos files): floor-convert
    *     to a micros timestamp, the same truncation DuckDB applies;
    *   - TIMESTAMP_NTZ (the micros/isAdjustedToUTC=false form): cast to the
    *     session-TZ timestamp — byte-identical under the UTC session every
    *     entrypoint pins, so `date_format` output and DuckDB oracles agree;
    *   - TIMESTAMP: already what every downstream query expects.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = graft.sources.Bronze.readParquet(spark, s"$sfDir/$name.parquet")
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet-resolved type $other")
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
