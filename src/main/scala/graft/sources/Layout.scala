package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton-curve) clustering of a
  * table on two key columns before writing, so parquet min/max footer
  * stats become tight on BOTH dimensions and a selective filter on either
  * key skips most files.
  *
  * A single-column sort gives perfect skipping on that column and none on
  * any other; interleaving the bits of two normalized keys places rows
  * close in (x, y) space into the same files — the standard lakehouse
  * `OPTIMIZE ZORDER BY` layout, reproduced here with nothing but built-in
  * expressions (bit ops + range repartition + within-partition sort).
  *
  * == Scale design ==
  * The z-value is a narrow projection; `repartitionByRange` samples it
  * (one pass) and range-partitions — the same shuffle a global sort pays,
  * but the payoff is at READ time forever after: a filter on either
  * dimension prunes to O(selectivity) of the files. Keys are normalized
  * by min/max scaling from ONE distributed agg (4 scalars to the driver)
  * — a global `percent_rank` window would funnel the whole table through
  * a single task, a non-starter at 100 TB (round-3 advice). Min/max
  * scaling under-fills the z-space on heavily skewed keys; pre-transform
  * such keys (log, bucketed rank) before calling if that matters.
  */
object Layout {

  val ZBits = 16 // bits per dimension → 32-bit z-value

  /** Bit-interleave two [0, 2^ZBits) integer columns (Morton code). */
  def morton(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      val xb = shiftright(x, i).bitwiseAND(1).cast("long") * (1L << (2 * i))
      val yb = shiftright(y, i).bitwiseAND(1).cast("long") * (1L << (2 * i + 1))
      xb + yb
    }.reduce(_ + _)

  /** Linear min/max scale of a numeric column to [0, 2^ZBits). */
  private def scaled(c: Column, lo: Double, hi: Double): Column = {
    val span = if (hi > lo) hi - lo else 1.0
    (((c.cast("double") - lo) / span) * ((1 << ZBits) - 1)).cast("int")
  }

  /** Z-order `df` by two numeric columns and write `files` parquet files. */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
      colB: String, files: Int): Unit =
    writeCurveOrdered(df, path, colA, colB, files, morton)

  /** Hilbert-order variant: same scaffold, but the cluster key is the
    * Hilbert-curve distance ([[graft.functions.HilbertIndex]], codegen'd)
    * instead of the Morton interleave. Hilbert's unit steps are always
    * 4-adjacent cells — no Morton quadrant jumps — so file min/max spans
    * come out tighter at equal file counts (LayoutSpec measures both).
    */
  def writeHilbertOrdered(df: DataFrame, path: String, colA: String,
      colB: String, files: Int): Unit =
    writeCurveOrdered(df, path, colA, colB, files,
      graft.functions.HilbertIndex.index(_, _, ZBits))

  private def writeCurveOrdered(df: DataFrame, path: String, colA: String,
      colB: String, files: Int, curve: (Column, Column) => Column): Unit = {
    val r = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).first()
    require(!r.anyNull,
      s"curve layout($colA, $colB): input is empty or a cluster column " +
        "is all-NULL — no min/max to scale against")
    df.withColumn("__z",
        curve(scaled(col(colA), r.getDouble(0), r.getDouble(1)),
          scaled(col(colB), r.getDouble(2), r.getDouble(3))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Per-file min/max tightness of `keyCol` under a layout: the mean
    * fraction of the key's global span each output file covers (1.0 =
    * every file spans everything = no skipping; small = tight zone maps).
    * Reads the written files back with `input_file_name` — a layout
    * QUALITY metric, cheap at test scale; at 100 TB read the footers.
    */
  def fileSpanFraction(df: DataFrame, keyCol: String): Double = {
    val global = df.agg(
      (max(col(keyCol)) - min(col(keyCol))).cast("double")).first().getDouble(0)
    val spans = df.withColumn("__f", input_file_name())
      .groupBy("__f")
      .agg(((max(col(keyCol)) - min(col(keyCol))).cast("double") / global)
        .as("frac"))
      .agg(avg("frac")).first().getDouble(0)
    spans
  }

  /** Small-file compaction (the lakehouse `OPTIMIZE`): rewrite a parquet
    * table directory into `targetFiles` files — range-sorted by `sortKey`
    * when given (restoring clustering that incremental appends eroded),
    * plain re-bucketed otherwise. Rows are byte-identical, only the file
    * layout changes.
    *
    * Crash-safe by write ordering, same discipline as
    * [[graft.streaming.UpsertSink]]: the compacted copy lands COMPLETE at
    * `<path>.__compact` before the live dir is touched, so a crash leaves
    * either the old layout live or the new one staged — never a partial
    * table. A crash in the one remaining window — between deleting the
    * live dir and renaming the staged copy in — is recovered on the next
    * call: [[recover]] promotes a stranded complete stage before anything
    * reads the table (mirroring `UpsertSink`'s recovery). The staged→live
    * rename is metadata-only and its boolean is checked. At 100 TB this
    * runs per-partition-subdirectory, not per-table; the per-directory
    * unit here IS that building block.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int, sortKey: Option[String] = None): Unit = {
    recover(spark, path)
    val df = Bronze.readParquet(spark, path)
    val arranged = sortKey match {
      case Some(k) =>
        df.repartitionByRange(targetFiles, col(k)).sortWithinPartitions(k)
      case None => df.repartition(targetFiles)
    }
    val staged = new org.apache.hadoop.fs.Path(path + ".__compact")
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(staged, true)
    arranged.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    fs.delete(target, true)
    if (!fs.rename(staged, target))
      throw new java.io.IOException(
        s"compaction swap failed: $staged -> $target")
  }

  /** Promote a stranded compaction stage: if a prior [[compact]] died
    * between deleting the live dir and renaming `<path>.__compact` in, the
    * table path is missing but a COMPLETE compacted copy sits staged.
    * Rename it live so readers (and the next compact) see the table again.
    * A successful parquet write always leaves a `_SUCCESS` marker, so a
    * staged dir is complete by construction — the half-written case never
    * reaches the swap. No-op when the live dir exists (normal case) or
    * nothing is staged. Callers may also invoke this directly before
    * reading a compaction-managed path.
    */
  def recover(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val staged = new org.apache.hadoop.fs.Path(path + ".__compact")
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target) && fs.exists(staged)) {
      if (!fs.rename(staged, target))
        throw new java.io.IOException(
          s"compaction recovery failed: $staged -> $target")
    }
  }
}
