package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.MergeUpsert
import graft.sources.Bronze

/** Streaming MERGE sink: maintain a keyed parquet snapshot from a stream
  * of upserts via `foreachBatch` — the pattern that turns an append-only
  * event stream into a continuously-current table without a lakehouse
  * format (the reference's closest analog is its full-refresh JDBC
  * overwrite per run, reference `include/scripts/to_bronze.py:41-50`;
  * this is the incremental version).
  *
  * Each micro-batch is deduplicated on the merge keys (at-least-once
  * sources redeliver; callers needing last-wins ORDER within a batch
  * should pre-sort/sequence upstream, see `MergeUpsert.applyChanges`) and
  * full-outer-merged into the snapshot.
  *
  * == Crash safety ==
  * The merged snapshot is written NEXT TO the live one (`._staged`) and
  * then swapped in (delete live, rename staged): the live snapshot is
  * never destroyed before its replacement is fully committed, so a crash
  * at any point leaves a complete snapshot at the target or the staged
  * path — never neither. [[applyBatch]] promotes a stranded staged
  * snapshot before merging, and only a genuine PATH_NOT_FOUND on a first
  * batch is treated as the empty snapshot; any other read failure aborts
  * the batch instead of silently reinitializing the target (round-3
  * advice: the old overwrite-in-place + broad catch could lose the
  * snapshot and then treat the loss as a fresh start).
  *
  * == Scale design ==
  * foreachBatch is exactly-once per epoch (checkpointed offsets + replay
  * of a committed batch re-merges the same keys, which is idempotent).
  * Writing to the staged path also means the merge plan can stream from
  * the live snapshot while writing — no eager materialization of the full
  * merged state in block-manager memory. At 100 TB the snapshot rewrite
  * becomes the bottleneck — partition the snapshot and rewrite only
  * partitions the batch touches (merge-on-read); the full-rewrite here is
  * the bounded-snapshot form.
  */
object UpsertSink {

  def start(stream: DataFrame, targetPath: String, keys: Seq[String],
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        applyBatch(batch, targetPath, keys)
      }
      .start()

  /** One micro-batch merge (factored out for direct spec coverage). */
  def applyBatch(batch: Dataset[Row], targetPath: String,
      keys: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(targetPath)
    val staged = new org.apache.hadoop.fs.Path(targetPath + "._staged")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash recovery: a run that died between delete(live) and
    // rename(staged -> live) left the only complete snapshot at the
    // staged path — promote it before reading
    if (!fs.exists(target) && fs.exists(staged) &&
        !fs.rename(staged, target))
      throw new java.io.IOException(
        s"recovery rename failed: $staged -> $target")
    val deduped = batch.dropDuplicates(keys)
    val prior =
      try Some(Bronze.readParquet(spark, targetPath))
      catch {
        // ONLY a missing path means "first batch"; any other failure
        // (corrupt footer, permissions, ...) must abort the epoch
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => None
      }
    val merged = prior match {
      case Some(t) => MergeUpsert.upsert(t, deduped, keys)
      case None => deduped
    }
    commitStaged(merged, fs, staged, target)
  }

  /** Staged-swap overwrite of a NON-keyed table (a gold recompute, a
    * report): write to `<target>._staged`, delete live, rename staged in
    * — the same never-destroy-before-commit discipline [[applyBatch]]
    * uses for the keyed snapshot, factored out so every streaming-epoch
    * materialization shares one crash-safety argument. Unlike
    * [[applyBatch]] there is no merge and no recovery-promote: the table
    * is a pure recompute, so a stranded staged tree is simply replaced
    * by the next epoch's write.
    */
  def stagedOverwrite(df: DataFrame, targetPath: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(targetPath)
    val staged = new org.apache.hadoop.fs.Path(targetPath + "._staged")
    val fs = target.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    commitStaged(df, fs, staged, target)
  }

  private def commitStaged(df: DataFrame, fs: org.apache.hadoop.fs.FileSystem,
      staged: org.apache.hadoop.fs.Path,
      target: org.apache.hadoop.fs.Path): Unit = {
    fs.delete(staged, true)
    df.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    fs.delete(target, true)
    // rename returns false (not an exception) on several HDFS failure
    // modes; silently continuing would mark the epoch committed with no
    // live snapshot
    if (!fs.rename(staged, target))
      throw new java.io.IOException(
        s"commit rename failed: $staged -> $target")
  }
}
