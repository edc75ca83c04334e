package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, struct, xxhash64}

import graft.SparkEntry
import graft.etl.{Gold, Pipeline, Silver}
import graft.sources.Bronze

/** What one pass produced: a digest per checked output, plus facts the
  * checks and the per-layer report need. */
final case class PassOut(digests: Map[String, String],
    facts: Map[String, Any] = Map.empty) {
  def ++(o: PassOut): PassOut = PassOut(digests ++ o.digests, facts ++ o.facts)
}

/** Where an output of the pass run with a dump directory is on disk, with
  * the program's own DuckDB twin of it (None: a row-count check only). */
final case class Dumped(dir: String, oracleSql: Option[String])

trait Workload {
  def name: String
  /** Every input table the workload reads. */
  def tables: Seq[String]
  /** One pass: the timed work, including its consuming actions. With a
    * dump directory the pass also writes each output there as parquet. */
  def run(spark: SparkSession, data: String, out: String, t: Tracer,
      dump: Option[String]): PassOut
  /** Untimed after each pass: digests of outputs the pass left on disk. */
  def written(spark: SparkSession, out: String): PassOut = PassOut(Map.empty)
  /** The outputs of a pass run with `dump`, once the run is over. */
  def dumped(out: String, dump: String): Map[String, Dumped]
}

object Workloads {

  /** The consuming action, of the same shape as `graft.Bench.consume`:
    * one aggregate that hashes every output column. The row count rides
    * in the same aggregate. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(struct(col("*"))).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).head()
    val h = if (r.isNullAt(0)) "null" else java.lang.Long.toHexString(r.getLong(0))
    s"${r.getLong(1)}:$h"
  }

  /** Block-manager bytes held by cached and checkpointed RDDs. */
  def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  val all: Map[String, Workload] = Seq(
    Medallion,
    new Queries("search_graph", Seq("documents", "embeddings", "lineitem"),
      Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_clusters",
        "sim_topk_ivf", "sim_topk_brute", "text_token_counts", "graph_lpa",
        "sql_recursive")),
  ).map(w => w.name -> w).toMap

  /** Read-only workloads: each pass builds every query through the
    * registry and consumes it. The build and the consume are separate
    * spans, because many builders materialize eagerly. */
  final class Queries(val name: String, val tables: Seq[String],
      queries: Seq[String]) extends Workload {

    def run(spark: SparkSession, data: String, out: String, t: Tracer,
        dump: Option[String]): PassOut = {
      val digests = queries.map { q =>
        val held = if (t.enabled) storedBytes(spark) else 0L
        val df = t.span(s"$q.build") {
          val df = SparkEntry.queries(q)(spark, data)
          if (t.enabled)
            t.note("checkpoint_bytes", (storedBytes(spark) - held).toDouble)
          df
        }
        val d = t.span(s"$q.consume")(digest(df))
        dump.foreach(dir =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q"))
        q -> d
      }
      PassOut(digests.toMap)
    }

    def dumped(out: String, dump: String): Map[String, Dumped] =
      queries.map(q => q -> Dumped(s"$dump/$q", SparkEntry.oracleSql.get(q)))
        .toMap
  }

  /** The medallion product: silver, gold, validate, writing to `out`.
    *
    * Untraced passes call the zone runners of `etl.Pipeline` as they are.
    * A traced pass composes `runSilver` and `runGold` from the same public
    * per-table calls and steps, so each table gets its own span; the
    * read-back row count of each written table stays in the zone's self
    * time, as it does in the zone runners.
    */
  object Medallion extends Workload {
    val name = "medallion"
    val tables = Seq("orders", "customer", "lineitem", "part", "nation",
      "supplier", "events")

    private val silver: Seq[(String, (SparkSession, String) => DataFrame)] =
      Seq(
        "orders" -> Silver.orders,
        "customer" -> Silver.customer,
        "lineitem" -> Silver.lineitem,
        "part" -> Silver.part,
        "supplier" -> Silver.supplier,
        "events" -> Silver.events)

    private val gold: Seq[(String, (SparkSession, String) => DataFrame)] =
      Seq(
        "daily_sales" -> Gold.dailySales,
        "customer_metrics" -> Gold.customerMetrics,
        "product_performance" -> Gold.productPerformance,
        "seller_performance" -> Gold.sellerPerformance,
        "satisfaction_metrics" -> Gold.satisfactionMetrics,
        "delivery_performance" -> Gold.deliveryPerformance)

    private def composed(spark: SparkSession, data: String, out: String,
        zone: String, stages: Seq[(String, (SparkSession, String) => DataFrame)],
        t: Tracer): Seq[Pipeline.StageResult] =
      stages.map { case (table, build) =>
        val path = s"$out/$zone/$table"
        t.span(s"$zone.$table")(Bronze.writeParquet(build(spark, data), path))
        Pipeline.StageResult(zone, table, spark.read.parquet(path).count(), path)
      }

    def run(spark: SparkSession, data: String, out: String, t: Tracer,
        dump: Option[String]): PassOut = {
      val silverRows = t.span("pipeline.silver") {
        if (t.enabled) composed(spark, data, out, "silver", silver, t)
        else Pipeline.runSilver(spark, data, out)
      }
      t.span("pipeline.gold") {
        if (t.enabled) composed(spark, data, out, "gold", gold, t)
        else Pipeline.runGold(spark, data, out)
      }
      val checks = t.span("pipeline.validate")(Pipeline.validate(spark, out))
      PassOut(Map.empty, Map(
        "silver_rows" -> silverRows.map(s => s.table -> s.rows).toMap,
        "validate_failed" -> checks.filterNot(_.passed)
          .map(c => s"${c.zone}/${c.table}/${c.check}: ${c.detail}")))
    }

    override def written(spark: SparkSession, out: String): PassOut = {
      val dirs = outputDirs(out)
      PassOut(
        digests = dirs.map { case (k, d) =>
          k -> digest(spark.read.parquet(d.getPath))
        },
        facts = Map(
          "stored_bytes" -> dirs.values.map(dirBytes).sum,
          "files_written" -> dirs.values.map(partFiles(_).size).sum))
    }

    /** Every pass writes its outputs under `out`; the last pass's stay. */
    def dumped(out: String, dump: String): Map[String, Dumped] =
      outputDirs(out).map { case (k, d) =>
        k -> Dumped(d.getPath, if (k.startsWith("gold/"))
          Gold.oracleSql.get("gold_" + k.stripPrefix("gold/")) else None)
      }

    private def outputDirs(out: String): Map[String, java.io.File] =
      (silver.map(s => s"silver/${s._1}") ++ gold.map(g => s"gold/${g._1}"))
        .map(k => k -> new java.io.File(s"$out/$k")).toMap

    private def partFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten
        .filter(f => f.isFile && f.getName.startsWith("part-"))

    private def dirBytes(d: java.io.File): Long = partFiles(d).map(_.length).sum
  }
}
