package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Optimization-evidence tool: dump the FORMATTED physical plan of every
  * SQL execution a query performs — not just the returned DataFrame's.
  *
  * Why `df.explain` is not enough here: many registered queries
  * eagerly `localCheckpoint(true)` their (tiny) result inside the query
  * function, so the returned plan is a bare `Scan ExistingRDD` and the
  * real work (the shingle index, the pair enumeration, the recursion
  * levels) is invisible to a plain explain. A QueryExecutionListener
  * sees each executed QueryExecution — including the checkpoint jobs —
  * with AQE's final plan, which is the plan the judge needs to audit
  * Exchange counts / join strategies / PushedFilters claims.
  *
  * Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [name ...]
  * writes <outDir>/<name>_<suffix>.txt per query, in the shared
  * graft.Bench.buildSession shape.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.Bench.Headline
    val spark = graft.Bench.buildSession()
    Files.createDirectories(Paths.get(outDir))
    val sink = new java.lang.StringBuilder
    // stage ledger: the no-UI substitute for the Stages tab (guide §7.1) —
    // per stage: wall duration, task count, input/shuffle bytes, so "which
    // exchange/scan costs what" is readable straight from the dump
    val stages = new java.lang.StringBuilder
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stages.synchronized {
            val i = e.stageInfo
            val ms = (for {a <- i.completionTime; b <- i.submissionTime}
              yield a - b).getOrElse(-1L)
            val m = i.taskMetrics
            stages.append(f"stage ${i.stageId}%4d ${ms}%6d ms " +
              f"tasks=${i.numTasks}%3d input=${m.inputMetrics.bytesRead}%9d " +
              f"sRead=${m.shuffleReadMetrics.totalBytesRead}%9d " +
              f"sWrite=${m.shuffleWriteMetrics.bytesWritten}%9d  " +
              i.name.takeWhile(_ != '\n').take(110) + "\n")
          }
      })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = sink.synchronized {
        sink.append(s"\n-- execution: $funcName " +
          f"(${durationNs / 1e6}%.1f ms)\n")
        sink.append(qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    names.foreach { n =>
      sink.synchronized { sink.setLength(0) }
      stages.synchronized { stages.setLength(0) }
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val top = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      graft.Bench.consume(df)
      val totalSec = (System.nanoTime() - t0) / 1e9
      // listener events ride the async bus; drain before reading the sink
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark, 30000L)
      val body = sink.synchronized { sink.toString }
      val stageTxt = stages.synchronized { stages.toString }
      val txt = s"== $n @ $sfDir ==\n\n" +
        f"-- wall (build+consume, this unwarmed run): $totalSec%.2f s --\n" +
        s"\n-- stage ledger --\n" + stageTxt +
        "\n-- returned DataFrame plan --\n" +
        top + "\n-- executed plans (in execution order, incl. " +
        "eager-checkpoint jobs) --\n" + body
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"PLANDUMP $n -> $outDir/${n}_$suffix.txt")
      graft.Bench.reset(spark)
    }
    spark.stop()
  }
}
