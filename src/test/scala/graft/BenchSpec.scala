package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The harness mains themselves are exercised by the driver; these pin
  * their pieces — the timing loop's failure handling, the fresh-JVM
  * parse, Verify's JSON writer, and the BENCH_FULL baseline parse the
  * inflation guard depends on (a silent mis-parse would disable the
  * guard without any visible signal).
  */
class BenchSpec extends AnyFunSuite with SparkSpec {

  test("consume: evaluates without pruning-sensitive shortcuts and " +
      "handles array/binary/map output columns") {
    // hash-on-map is banned by default; Bench.buildSession enables the
    // legacy flag, so the shared test session must mirror it here —
    // and RESTORE it after (r18 advice: leaking the legacy flag into
    // suites sharing the session made hash-on-map order-dependent)
    val flag = "spark.sql.legacy.allowHashOnMapType"
    val prior = spark.conf.getOption(flag)
    spark.conf.set(flag, "true")
    import spark.implicits._
    try {
      val df = Seq((1, Seq(1.5, 2.5), Array[Byte](1, 2), Map("a" -> 1)))
        .toDF("id", "arr", "bin", "m")
      Bench.consume(df) // must not throw
    } finally {
      prior match {
        case Some(v) => spark.conf.set(flag, v)
        case None => spark.conf.unset(flag)
      }
    }
    // the action must consume EVERY column: a unique-key left join whose
    // columns are only touched by consume() must actually execute — a
    // .count() action lets Catalyst eliminate it entirely (r17 verdict
    // #2). Assert at the optimized-plan level: under count() the join is
    // gone; under consume()'s full-row hash it survives.
    val base = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val dim = Seq((1, 10), (2, 20)).toDF("k", "extra")
      .groupBy($"k").agg(org.apache.spark.sql.functions.max($"extra").as("extra"))
    val joined = base.join(dim, Seq("k"), "left")
    def optimizedHasJoin(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    import org.apache.spark.sql.functions.{col, struct, xxhash64, expr}
    val countShape = joined.groupBy().count()
    val consumeShape = joined
      .select(xxhash64(struct(col("*"))).as("h")).agg(expr("bit_xor(h)"))
    assert(!optimizedHasJoin(countShape),
      "count() over a unique-key left join should join-eliminate — if " +
        "this starts failing the prune-proof rationale needs re-checking")
    assert(optimizedHasJoin(consumeShape),
      "consume()'s full-row hash must keep the join in the plan")
  }

  test("the committed headline baseline's action version matches the " +
      "live consume action (the 2x gate's denominator stays one number)") {
    // r18 verdict nit #2 / #7: the gate is one division ONLY while both
    // sides run the same action — a consume() change must re-record
    // BASELINE.json's headline_gate in the same commit or fail here
    val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BASELINE.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    val v = "\"action_version\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(txt).map(_.group(1))
    assert(v === Some(Bench.ActionVersion),
      "BASELINE.json action_version drifted from Bench.ActionVersion")
    val b = "\"baseline_sec\"\\s*:\\s*([0-9.]+)".r
      .findFirstMatchIn(txt).map(_.group(1).toDouble)
    assert(b.exists(_ > 0), "headline_gate.baseline_sec must be present")
  }

  test("freshJvmRetry: parses the TIME line TimeQuery prints") {
    // round trip through the printer TimeQuery uses and the parser
    // freshJvmRetry uses, so a reformat of either side that breaks the
    // other can't silently turn every fresh retry into None
    val out = "PHASES graph_wcc[1]: derive=0.50 s\n" +
      Bench.timeLine("graph_wcc", Seq(3.2144)) + "\n"
    assert(Bench.parseTimeLine("graph_wcc", out) === Some(3.214))
    assert(Bench.parseTimeLine("graph_wcc",
      Bench.timeLine("graph_wcc", Seq(-1.0))) === None,
      "failure sentinel must yield None, not a number")
    assert(Bench.parseTimeLine("graph", out) === None)
  }

  test("time: a non-fatal failure records -1.0 and the reset frees its " +
      "checkpoint") {
    val rdds = scala.collection.mutable.ArrayBuffer.empty[
      org.apache.spark.rdd.RDD[_]]
    val t = Bench.time(spark, "unused", (s, _) => {
      val cp = s.range(5).toDF("id").localCheckpoint(true)
      rdds ++= cp.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      throw new RuntimeException("boom")
    }, 1, 2)
    assert(t === Seq(-1.0, -1.0))
    assert(rdds.size === 3)
    assert(rdds.forall(_.getStorageLevel === StorageLevel.NONE))
    val ok = Bench.time(spark, "unused", (s, _) => s.range(3).toDF(), 0, 1)
    assert(ok.size === 1 && ok.head >= 0)
  }

  test("reset: no checkpoint or cache the search queries leave behind " +
      "survives it") {
    val sc = spark.sparkContext
    // graph_lpa leaves eager and lazy rounds; sql_recursive and
    // dedup_clusters also free superseded rounds by hand mid-query. The
    // frames stay referenced across the reset, so only an unpersist (not
    // a GC of unreachable RDDs) can empty the session's storage.
    val held = Seq("graph_lpa", "sql_recursive", "dedup_clusters").map { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      Bench.consume(df)
      df
    }
    assert(sc.getPersistentRDDs.nonEmpty, "the queries stored nothing")
    Bench.reset(spark)
    assert(sc.getPersistentRDDs.isEmpty)
    assert(sc.getRDDStorageInfo.isEmpty)
    assert(held.forall(_.columns.nonEmpty))
  }

  test("time: a fatal error propagates from warmup and timed passes") {
    val oom: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
      (_, _) => throw new OutOfMemoryError("test")
    intercept[OutOfMemoryError](Bench.time(spark, "unused", oom, 1, 0))
    intercept[OutOfMemoryError](Bench.time(spark, "unused", oom, 0, 1))
  }

  test("Verify.writeJsonObject: control characters and quotes round-trip") {
    val sql = "select\t'a\"b' -- c\\d\r\n\u0001"
    val dir = java.nio.file.Files.createTempDirectory("verify_json")
    val f = dir.resolve("oracle_sql.json")
    Verify.writeJsonObject(f.toString, Seq("q" -> sql, "n" -> 2))
    val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    // a strict JSON reader (the driver's json.load) rejects raw control
    // characters inside strings
    assert(!txt.exists(_ < ' '), txt)
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    assert(back.get("q").asText === sql)
    assert(back.get("n").asInt === 2)
    java.nio.file.Files.delete(f)
    java.nio.file.Files.delete(dir)
  }

  test("benchFullBaseline: parses queries_sec, ignores header numbers, " +
      "guards only at the recorded scale factor") {
    val f = java.nio.file.Files.createTempFile("bench_full", ".json")
    java.nio.file.Files.write(f,
      """{
        | "recorded_round": 11,
        | "sf": "/root/testdata/sf0.1",
        | "total_sec": 192.828,
        | "n_queries": 252,
        | "queries_sec": {
        |  "q1_pricing_summary": 0.466,
        |  "sql_recursive": 8.203
        | }
        |}""".stripMargin.getBytes("UTF-8"))
    val m = Bench.benchFullBaseline("/root/testdata/sf0.1", f.toString)
    assert(m === Map("q1_pricing_summary" -> 0.466,
      "sql_recursive" -> 8.203))
    // an sf0.001 smoke must NOT be judged against sf0.1 numbers
    assert(Bench.benchFullBaseline("/root/testdata/sf0.001", f.toString)
      === Map.empty)
    java.nio.file.Files.delete(f)
  }

  test("benchFullBaseline: the committed artifact parses and covers " +
      "the headline set") {
    val m = Bench.benchFullBaseline("/root/testdata/sf0.1",
      "BENCH_FULL.json")
    assert(m.nonEmpty, "committed BENCH_FULL.json must parse")
    val missing = Bench.Headline.filterNot(m.contains)
    assert(missing.isEmpty,
      s"headline queries missing from BENCH_FULL baseline: $missing")
  }

  test("benchFullBaseline: missing file degrades to no-guard") {
    assert(Bench.benchFullBaseline("/root/testdata/sf0.1",
      "/nonexistent/nope.json") === Map.empty)
  }

  test("benchFullBaseline: a nested value inside queries_sec disables " +
      "the guard outright; trailing siblings after a flat object don't " +
      "leak in") {
    // r13 advice: nested members used to regex-leak into the map, and a
    // nested duplicate of a real query key (toMap last-wins) could
    // silently override the true baseline — nesting now means Map.empty
    val f = java.nio.file.Files.createTempFile("bench_full", ".json")
    java.nio.file.Files.write(f,
      """{
        | "sf": "/root/testdata/sf0.1",
        | "queries_sec": {
        |  "q1_pricing_summary": 0.466,
        |  "weird_future_entry": {"sql_recursive": 999.0, "note": 2},
        |  "sql_recursive": 8.203
        | }
        |}""".stripMargin.getBytes("UTF-8"))
    assert(Bench.benchFullBaseline("/root/testdata/sf0.1", f.toString)
      === Map.empty, "nested object inside queries_sec must fail loudly")
    // flat object + trailing sibling: parses, and the sibling's numbers
    // cannot override the true values
    java.nio.file.Files.write(f,
      """{
        | "sf": "/root/testdata/sf0.1",
        | "queries_sec": {
        |  "q1_pricing_summary": 0.466,
        |  "sql_recursive": 8.203
        | },
        | "appended_later": {"sql_recursive": 999.0}
        |}""".stripMargin.getBytes("UTF-8"))
    val m = Bench.benchFullBaseline("/root/testdata/sf0.1", f.toString)
    assert(m === Map("q1_pricing_summary" -> 0.466,
      "sql_recursive" -> 8.203))
    java.nio.file.Files.delete(f)
  }
}
