package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spans recorded around calls into the program, kept in memory until the
  * run ends. A span's jobs, stages and tasks are attributed to it through
  * the Spark job group, which is set to the innermost open span.
  *
  * The untraced tracer runs the same bodies and records nothing, so the
  * workloads have one code path for both kinds of run.
  */
class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  var pass = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), pass,
        nowMs(), Double.NaN)
      spans += s
      open = s :: open
      sc.setJobGroup(groupOf(s.id), name)
      try body
      finally {
        s.endMs = nowMs()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a measured value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) open.head.notes(key) = value
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      startMs: Double, var endMs: Double) {
    val notes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  }

  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Wall clock in epoch milliseconds, with nanoTime resolution, so spans
    * line up with the listener's task launch and finish times. */
  def nowMs(): Double = offsetMs + System.nanoTime() / 1e6

  def groupOf(spanId: Int): String = s"perfbench-$spanId"

  def spanOf(group: String): Int =
    Option(group).filter(_.startsWith("perfbench-"))
      .fold(-1)(_.stripPrefix("perfbench-").toInt)
}

/** Task, stage and job records for the spans, gathered from the listener
  * bus. Stages are attributed to the job group of the first job that
  * submitted them.
  */
class Ledger extends SparkListener {
  import Ledger._

  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val stageSpan = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Tracer.spanOf(
      Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
        .orNull)
    jobs += JobRec(e.jobId, span, e.time.toDouble)
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(
      span = stageSpan.getOrElse(e.stageId, -1),
      stage = e.stageId,
      launchMs = e.taskInfo.launchTime.toDouble,
      finishMs = e.taskInfo.finishTime.toDouble,
      runMs = m.executorRunTime.toDouble,
      cpuNs = m.executorCpuTime.toDouble,
      gcMs = m.jvmGCTime.toDouble,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten.toDouble,
      shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten.toDouble,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime.toDouble,
      spillBytes = (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
      resultBytes = m.resultSize.toDouble,
      inputBytes = m.inputMetrics.bytesRead.toDouble,
      inputRecords = m.inputMetrics.recordsRead.toDouble,
      outputBytes = m.outputMetrics.bytesWritten.toDouble,
      outputRecords = m.outputMetrics.recordsWritten.toDouble)
  }
}

object Ledger {
  final case class JobRec(jobId: Int, span: Int, startMs: Double)

  final case class TaskRec(span: Int, stage: Int, launchMs: Double,
      finishMs: Double, runMs: Double, cpuNs: Double, gcMs: Double,
      shuffleWriteBytes: Double, shuffleWriteRecords: Double,
      fetchWaitMs: Double, spillBytes: Double, resultBytes: Double,
      inputBytes: Double, inputRecords: Double, outputBytes: Double,
      outputRecords: Double)
}
