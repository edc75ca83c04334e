package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

/** Parquet table maintenance: small-file compaction with crash-safe
  * staging. Read-side clustering lives in [[graft.plans.Layout]].
  */
object Layout {

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
