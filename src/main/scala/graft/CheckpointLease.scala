package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge

/** Registry for eagerly `localCheckpoint()`ed DataFrames whose block-manager
  * storage must outlive the builder that created them but NOT the session.
  *
  * Several operators (minhash verify pairs, the recursive-CTE label set)
  * eagerly checkpoint a small intermediate so a large upstream cache can be
  * released before the query function returns. The checkpointed blocks
  * themselves, however, are only reachable through the returned plan's
  * `LogicalRDD`, which `Dataset.unpersist` never touches — in a long-lived
  * session (the bench runs 78 queries twice in one JVM) those blocks
  * accumulate and their memory/GC pressure gets charged to whichever query
  * shuffles hardest next (diagnosed in round 2 as a 7x phantom regression).
  *
  * == Contract ==
  * One JVM-wide lease list, released by sequential harnesses: Bench,
  * TimeQuery, Verify (through [[Bench.reset]]) and the benchmark call
  * [[releaseAll]] after each query's consuming action, and run one query
  * at a time. A caller that runs queries concurrently in one JVM must not
  * call [[releaseAll]] while another query's tracked frame is still to be
  * acted on: it releases every lease, not only its own.
  *
  * Releasing unpins the blocks of a lineage-truncated plan, so a tracked
  * frame must not be acted on again after it is released — harnesses
  * that re-run a query rebuild it from its `SparkEntry.queries` function,
  * which re-checkpoints.
  */
object CheckpointLease {

  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Register a checkpointed frame; returns it. */
  def track(df: DataFrame): DataFrame = synchronized { tracked += df; df }

  /** Release the blocks behind every tracked frame (idempotent;
    * sequential-harness reset between queries). */
  def releaseAll(): Unit = synchronized {
    tracked.foreach(GraftBridge.unpersistLocalCheckpoint)
    tracked.clear()
  }
}
