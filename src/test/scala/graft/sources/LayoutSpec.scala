package graft.sources

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Compaction: the file count changes, the rows do not, and a crash
  * between the staged write and the swap is recovered.
  */
class LayoutSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def tmp(name: String) =
    s"${System.getProperty("java.io.tmpdir")}/graft_layout/$name"

  /** Per-file min/max tightness of `keyCol`: the mean fraction of the
    * key's global span each file covers (1.0 = every file spans
    * everything = no skipping; small = tight zone maps).
    */
  private def fileSpanFraction(df: DataFrame, keyCol: String): Double = {
    val global = df.agg(
      (max(col(keyCol)) - min(col(keyCol))).cast("double")).first().getDouble(0)
    df.withColumn("__f", input_file_name())
      .groupBy("__f")
      .agg(((max(col(keyCol)) - min(col(keyCol))).cast("double") / global)
        .as("frac"))
      .agg(avg("frac")).first().getDouble(0)
  }

  test("compact: small files merge to the target count, rows identical, " +
      "sort restored") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val path = tmp("compact")
    orders.repartition(32).write.mode("overwrite").parquet(path)
    def dataFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles === 32)
    val before = fileSpanFraction(spark.read.parquet(path), "o_custkey")
    Layout.compact(spark, path, targetFiles = 4, sortKey = Some("o_custkey"))
    assert(dataFiles === 4)
    val back = spark.read.parquet(path)
    assert(back.count() === orders.count())
    assert(back.select("o_orderkey").except(orders.select("o_orderkey"))
      .isEmpty)
    val after = fileSpanFraction(back, "o_custkey")
    // 32 hash-scattered files each span ~everything; 4 range-sorted ones
    // are tight
    assert(after < before / 2, s"span $after vs scattered $before")
    assert(after < 0.3, s"sorted span $after")
  }

  test("compact recovers a crash between delete(live) and rename(staged)") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val path = tmp("crash")
    orders.repartition(8).write.mode("overwrite").parquet(path)

    // simulate the one unprotected window of a prior compact(): the
    // compacted copy is complete at <path>.__compact, the live dir was
    // deleted, and the process died before the rename
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    orders.repartition(2).write.mode("overwrite").parquet(path + ".__compact")
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)))

    // next compact() must first promote the stranded stage, then proceed
    Layout.compact(spark, path, targetFiles = 4, sortKey = Some("o_custkey"))
    val back = spark.read.parquet(path)
    assert(back.count() === orders.count())
    assert(back.select("o_orderkey").except(orders.select("o_orderkey"))
      .isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".__compact")))

    // and a bare reader can also self-serve via recover()
    orders.repartition(2).write.mode("overwrite").parquet(path + ".__compact")
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    Layout.recover(spark, path)
    assert(spark.read.parquet(path).count() === orders.count())
  }
}
