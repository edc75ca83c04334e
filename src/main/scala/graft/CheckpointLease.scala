package graft

import org.apache.spark.sql.SparkSession

/** The one release of every persistent RDD between queries.
  *
  * Builders materialize intermediates with a plain `localCheckpoint(eager)`
  * (or `persist()`); either way the blocks belong to a persistent RDD of
  * the session's SparkContext. A checkpoint is reachable only through its
  * frame's `LogicalRDD`, which `Dataset.unpersist` and `clearCache` never
  * touch, so in a long-lived session (the bench runs every query many
  * times in one JVM) its blocks stay stored until a GC lets ContextCleaner
  * drop them, and their memory/GC pressure is charged to whichever query
  * shuffles hardest next (round 2 diagnosed a 7x phantom regression this
  * way). [[releaseAll]] unpersists all of them, caches and local
  * checkpoints alike.
  *
  * == Contract ==
  * Sequential harnesses (Bench, TimeQuery and Verify through
  * [[Bench.reset]], and the benchmark's pass loop) call [[releaseAll]]
  * after each query's consuming action and run one query at a time (a
  * call while another query is still in flight breaks that query). A
  * frame built before the call must not be acted on after it: a
  * checkpoint's blocks go with the lineage that could rebuild them, so a
  * harness that re-runs a query rebuilds it from its `SparkEntry.queries`
  * function. Iterative builders that free superseded rounds within one
  * query do so themselves with `GraftBridge.unpersistLocalCheckpoint`.
  *
  * The name is historical: builders used to register ("lease") each
  * checkpoint in a list here, which released a subset of what the
  * session-wide release covers. The list is gone; the name stays because
  * the benchmark harness imports it.
  */
object CheckpointLease {

  /** Unpersist every persistent RDD of the active session (blocks are
    * freed asynchronously, through `GraftBridge.unpersist`); a no-op when
    * no session exists. */
  def releaseAll(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.sparkContext.getPersistentRDDs.values
        .foreach(org.apache.spark.sql.GraftBridge.unpersist))
}
