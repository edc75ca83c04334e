package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion (the standard
  * pattern for Spark-native extension libraries: Spark 4 wraps Column
  * around ColumnNode, and `classic.ExpressionUtils` is the supported
  * internal conversion point).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Release the block-manager storage behind a `localCheckpoint()`ed
    * DataFrame once it is superseded. Iterative algorithms leak otherwise:
    * the checkpointed RDD is only reachable through the plan's LogicalRDD,
    * which `Dataset.unpersist` does not touch.
    */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => unpersist(l.rdd)
      case _ => ()
    }

  /** Unpersist one RDD without blocking. A locally checkpointed RDD (the
    * test `RDD.isLocallyCheckpointed` makes, which is `private[rdd]`) goes
    * straight to `SparkContext.unpersistRDD`, the call `RDD.unpersist`
    * makes after logging one WARN per checkpoint that its truncated
    * lineage cannot be recomputed (known, since a superseded or
    * between-queries checkpoint is never read again); its storage level
    * is left as it was. Any other RDD takes `unpersist`, which also
    * resets its storage level.
    */
  def unpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    if (rdd.checkpointData.exists(
        _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false)

  /** Spark's file-listing filter: true for a name its file index skips
    * (`_`/`.`-prefixed, except `k=v` directories and parquet summary
    * files).
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Drain the async listener bus (QueryExecutionListener events ride it)
    * so a tool that collects executed plans reads a complete sink.
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** Between-queries session reset for long-lived benchmark/verify JVMs.
    *
    * A single session running ~80 queries twice accumulates broadcast
    * variables and shuffle dependencies whose block-manager/disk storage is
    * only reclaimed by ContextCleaner AFTER a GC collects their weak
    * references — with a large, mostly-idle heap that GC may never run, so
    * hundreds of stale broadcast/shuffle blocks pile up and their cleanup
    * cost lands inside some later query's timed run (rounds 2 AND 3 both
    * recorded 7-10x phantom regressions on whatever query ran late in the
    * session). Forcing a GC here moves that reclamation into the
    * untimed gap between queries; the listener-bus drain keeps the
    * status-store backlog from growing unboundedly across queries. Both
    * callers unpersist every persistent RDD first
    * (`graft.CheckpointLease.releaseAll`).
    */
  def sessionHygiene(spark: SparkSession): Unit = {
    System.gc()
    spark.sparkContext.listenerBus.waitUntilEmpty(5000L)
    // ContextCleaner drains its reference queue on its own thread; give
    // it a beat so block/broadcast removal doesn't overlap (and get
    // charged to) the next query's timed run
    Thread.sleep(200L)
  }
}
