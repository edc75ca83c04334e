package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftBridge, SparkSession}

import com.sun.management.{GarbageCollectionNotificationInfo,
  OperatingSystemMXBean}

import graft.CheckpointLease

/** One benchmark run in one fresh JVM: session start, a cold pass, warm-up
  * passes, then timed passes for `--seconds`. Writes the raw measurements
  * as JSON to `--result`; `perfbench/run.py` turns them into metrics and
  * checks the outputs.
  *
  * {{{
  * Main --workload W --data DIR --out DIR --result FILE --seconds S
  *      --trace 0|1 [--dump DIR]
  * Main --setup-only 1 --out DIR --result FILE
  * }}}
  *
  * With `--trace 1` the timed passes alternate between untraced and traced,
  * so the tracing overhead is measured in the same process. With
  * `--setup-only 1` the JVM starts the session, records `setup_s` and
  * stops: one more set-up sample for the run.
  */
object Main {
  val WarmupPasses = 1
  val MinTimedPasses = 1

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.stripPrefix("--") -> v
    }.toMap
    val out = opt("out")
    val spark = session(out)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val result = Map("setup_s" -> setupS) ++
      (if (opt.contains("setup-only")) Map.empty else measure(spark, opt, out))
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    Files.writeString(Paths.get(opt("result")),
      Json.render(result + ("jvm_s" -> jvmS)))
    spark.stop()
  }

  /** The session the benchmark owns: every setting it depends on is set
    * here, not taken from the build's JVM options. */
  def session(out: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      // the consuming action hashes struct(*), which includes map columns
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def measure(spark: SparkSession, opt: Map[String, String],
      out: String): Map[String, Any] = {
    val workload = Workloads.all(opt("workload"))
    val data = opt("data")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val sc = spark.sparkContext
    val ledger = new Ledger
    val tracer = new Tracer(sc, enabled = true)
    val plain = new Tracer(sc, enabled = false)
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[OperatingSystemMXBean]
    val heap = new HeapAfterGc
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val workDir = s"$out/zones"

    val dump = opt.get("dump")
    def pass(kind: String, t: Tracer, dumpTo: Option[String] = None): Unit = {
      val index = passes.size
      t.pass = index
      if (t.enabled) sc.addSparkListener(ledger)
      heap.start()
      val cpu0 = cpu.getProcessCpuTime
      val t0 = Tracer.nowMs()
      val res = t.span("pass")(workload.run(spark, data, workDir, t, dumpTo))
      val wallS = (Tracer.nowMs() - t0) / 1000.0
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      // heap still held at the end of a timed pass, before leases go
      val heapMb = heap.stop(fullGc = kind == "timed") / 1048576.0
      if (t.enabled) {
        GraftBridge.drainListenerBus(spark, 10000L)
        sc.removeSparkListener(ledger)
      }
      // outputs left on disk are digested after the timed passes only
      val outs = if (kind == "timed") res ++ workload.written(spark, workDir)
        else res
      passes += Map("index" -> index, "kind" -> kind, "traced" -> t.enabled,
        "wall_s" -> wallS, "cpu_s" -> cpuS, "heap_mb" -> heapMb,
        "digests" -> outs.digests, "facts" -> outs.facts)
      CheckpointLease.releaseAll()
      spark.catalog.clearCache()
      GraftBridge.sessionHygiene(spark)
    }

    pass("cold", plain)
    // the warm-up pass also writes the outputs for the one-off twin check
    (1 to WarmupPasses).foreach(_ => pass("warmup", plain, dump))
    // timed passes until `seconds` have passed; a traced run pairs each
    // untraced pass with a traced one
    val timedStart = System.nanoTime()
    val first = passes.size
    while (passes.size - first < MinTimedPasses ||
        (System.nanoTime() - timedStart) / 1e9 < seconds) {
      pass("timed", plain)
      if (traced) pass("timed", tracer)
    }
    // each dumped output is checked against the digest of the pass that
    // left it on disk: the warm-up pass, or the last pass for outputs
    // every pass rewrites in place
    val dumped = dump.map { dir =>
      workload.dumped(workDir, dir).map { case (k, d) =>
        val from = if (d.dir.startsWith(dir)) WarmupPasses else passes.size - 1
        k -> Map("dir" -> d.dir, "oracle_sql" -> d.oracleSql.orNull,
          "digest" -> passes(from)("digests")
            .asInstanceOf[Map[String, String]](k))
      }
    }
    Map(
      "workload" -> workload.name,
      "tables" -> workload.tables,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "passes" -> passes.toSeq,
      "dump" -> dumped.orNull,
      "spans" -> tracer.spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "notes" -> s.notes.toMap)
      }.toSeq,
      "jobs" -> ledger.jobs.map(j => Seq(j.jobId, j.span, j.startMs)).toSeq,
      "task_fields" -> Seq("span", "stage", "launch_ms", "finish_ms",
        "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
        "shuffle_write_records", "fetch_wait_ms", "spill_bytes",
        "result_bytes", "input_bytes", "input_records", "output_bytes",
        "output_records"),
      "tasks" -> ledger.tasks.map(_.productIterator.toSeq).toSeq)
  }
}

/** The largest heap in use right after a collection, over an interval.
  * Collections are observed through the collectors' notifications, which
  * arrive asynchronously; a collection forced at the end of the interval
  * is read synchronously from the heap pools. An interval without either
  * reports the heap in use at its end. */
final class HeapAfterGc extends NotificationListener {
  @volatile private var peak = 0L
  @volatile private var on = false

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  def start(): Unit = { peak = 0L; on = true }

  def stop(fullGc: Boolean): Long = {
    if (fullGc) {
      System.gc()
      peak = math.max(peak, ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => heapPools(p.getName))
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
    }
    on = false
    if (peak > 0) peak
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (on && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
        .filter { case (pool, _) => heapPools(pool) }
        .map(_._2.getUsed).sum
      peak = math.max(peak, used)
    }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
