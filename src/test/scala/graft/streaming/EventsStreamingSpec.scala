package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class EventsStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: (Long, String, Long, String, Double)*) =
    rows.map { case (id, t, uid, typ, v) =>
      (id, ts(t), uid, typ, v, """{"k": 1}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("sessionsBatch: gap splits sessions, span excludes trailing gap") {
    val ev = events(
      (1L, "2024-01-01 00:00:00", 7L, "click", 1.0),
      (2L, "2024-01-01 00:10:00", 7L, "click", 2.0),   // same session
      (3L, "2024-01-01 01:00:00", 7L, "click", 4.0))   // 50min gap -> new
    val out = EventsStreaming.sessionsBatch(ev).orderBy("session_start")
      .collect()
      .map(r => (r.getAs[String]("session_start"), r.getAs[Long]("n_events"),
        r.getAs[Long]("span_secs"), r.getAs[Long]("value_cents")))
    assert(out.toSeq === Seq(
      ("2024-01-01 00:00:00", 2L, 600L, 300L),
      ("2024-01-01 01:00:00", 1L, 0L, 400L)))
  }

  test("latenessAudit: per-user arrival-order high-water mark, " +
      "watermark threshold counts") {
    val ev = events(
      // user 7 arrival order by event_id: 10:00, 10:30, then an event
      // whose TIME is 09:45 (45 min late -> beyond the 10 min watermark),
      // then 10:29 (1 min late -> within)
      (1L, "2024-01-01 10:00:00", 7L, "click", 1.0),
      (2L, "2024-01-01 10:30:00", 7L, "click", 1.0),
      (3L, "2024-01-01 09:45:00", 7L, "click", 1.0),
      (4L, "2024-01-01 10:29:00", 7L, "click", 1.0),
      // user 8: strictly in order -> zero lateness
      (5L, "2024-01-01 10:00:00", 8L, "buy", 1.0),
      (6L, "2024-01-01 10:05:00", 8L, "buy", 1.0))
    val got = EventsStreaming.latenessAudit(ev)
      .select("event_type", "n_events", "n_late", "max_late_s",
        "n_late_users")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(got("click") === (("click", 4L, 1L, 2700L, 1L)))
    assert(got("buy") === (("buy", 2L, 0L, 0L, 0L)))
  }

  test("slidingBatch: every event lands in exactly two windows") {
    val ev = events((1L, "2024-01-01 00:40:00", 7L, "click", 1.0))
    val starts = EventsStreaming.slidingBatch(ev).collect()
      .map(_.getAs[String]("window_start")).sorted
    assert(starts.toSeq === Seq("2024-01-01 00:00:00", "2024-01-01 00:30:00"))
  }

  test("dedupStream: duplicate event_ids within the watermark collapse") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val sdf = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsStreaming.dedupStream(sdf)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 00:00:00"), 7L, "click", 1.0),
        (1L, ts("2024-01-01 00:00:30"), 7L, "click", 1.0), // same batch dup
        (2L, ts("2024-01-01 00:01:00"), 8L, "view", 2.0))
      q.processAllAvailable()
      mem.addData( // next batch, still inside the watermark: dropped
        (1L, ts("2024-01-01 00:02:00"), 7L, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 2L))
    } finally q.stop()
  }

  test("attributionStream: stream-stream join matches batch, joins " +
      "across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val purchases =
      MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsStreaming.attributionStream(
        clicks.toDF().toDF(cols: _*), purchases.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      clicks.addData(
        (1L, ts("2024-01-01 00:00:00"), 7L, "click", 0.0),
        (2L, ts("2024-01-01 00:00:00"), 8L, "click", 0.0))
      q.processAllAvailable()
      // purchase arrives a LATER micro-batch than its click: state join
      purchases.addData(
        (10L, ts("2024-01-01 00:20:00"), 7L, "purchase", 5.0),  // in window
        (11L, ts("2024-01-01 00:40:00"), 8L, "purchase", 6.0))  // 40min: out
      q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .select("user_id", "click_id", "purchase_id", "value_cents")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === Set((7L, 1L, 10L, 500L)))
      val batch = EventsStreaming.attributionBatch(events(
        (1L, "2024-01-01 00:00:00", 7L, "click", 0.0),
        (2L, "2024-01-01 00:00:00", 8L, "click", 0.0),
        (10L, "2024-01-01 00:20:00", 7L, "purchase", 5.0),
        (11L, "2024-01-01 00:40:00", 8L, "purchase", 6.0)))
        .select("user_id", "click_id", "purchase_id", "value_cents")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("attributionOuterStream: unmatched click held until the watermark " +
      "finalizes no-purchase, then emits nulls; matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val purchases =
      MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsStreaming.attributionOuterStream(
        clicks.toDF().toDF(cols: _*), purchases.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode("append").start()
    try {
      clicks.addData(
        (1L, ts("2024-01-01 00:00:00"), 7L, "click", 0.0),
        (2L, ts("2024-01-01 00:00:00"), 8L, "click", 0.0))
      purchases.addData(
        (10L, ts("2024-01-01 00:20:00"), 7L, "purchase", 5.0))
      q.processAllAvailable()
      def rows() = spark.table("attr_outer_out")
        .select("user_id", "click_id", "purchase_id", "value_cents")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      // user 8's click can't emit yet: "no purchase" isn't final until the
      // purchase watermark passes click_ts + 30min
      assert(rows() === Set((7L, 1L, Some(10L), Some(500L))))
      // push both watermarks past the horizon with unrelated late events
      clicks.addData((3L, ts("2024-01-01 01:30:00"), 99L, "click", 0.0))
      purchases.addData(
        (11L, ts("2024-01-01 01:30:00"), 98L, "purchase", 1.0))
      q.processAllAvailable()
      val streamed = rows().filter(r => r._1 == 7L || r._1 == 8L)
      assert(streamed === Set(
        (7L, 1L, Some(10L), Some(500L)),
        (8L, 2L, None, None)))
      // batch twin on the same events agrees
      val batch = EventsStreaming.attributionOuterBatch(events(
        (1L, "2024-01-01 00:00:00", 7L, "click", 0.0),
        (2L, "2024-01-01 00:00:00", 8L, "click", 0.0),
        (10L, "2024-01-01 00:20:00", 7L, "purchase", 5.0)))
        .select("user_id", "click_id", "purchase_id", "value_cents")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("UpsertSink: stream of upserts maintains a keyed parquet snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_upsink")
    val target = s"$base/snapshot"
    val mem = MemoryStream[(Long, String, Double)]
    val q = UpsertSink.start(
      mem.toDF().toDF("k", "status", "amount"), target, Seq("k"),
      s"$base/chk")
    try {
      mem.addData((1L, "a", 1.0), (2L, "b", 2.0))
      q.processAllAvailable()
      mem.addData((2L, "b2", 20.0), (3L, "c", 3.0)) // update 2, insert 3
      q.processAllAvailable()
      val snap = spark.read.parquet(target)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
        .toMap
      assert(snap === Map(
        1L -> ("a", 1.0), 2L -> ("b2", 20.0), 3L -> ("c", 3.0)))
    } finally q.stop()
  }

  test("UpsertSink.applyBatch: promotes a stranded staged snapshot and " +
      "never reinitializes from a live batch") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_upsink2")
    val target = s"$base/snapshot"
    // simulate a crash between delete(live) and rename(staged -> live):
    // the only complete snapshot sits at the staged path
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "status", "amount")
      .write.parquet(target + "._staged")
    UpsertSink.applyBatch(
      Seq((2L, "b2", 20.0)).toDF("k", "status", "amount"), target, Seq("k"))
    val snap = spark.read.parquet(target)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    // the stranded rows survived — batch merged INTO them, not over them
    assert(snap === Map(1L -> ("a", 1.0), 2L -> ("b2", 20.0)))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(target + "._staged")))
  }

  test("session boundary: event at exactly the gap merges; beyond splits") {
    val ev = events(
      (1L, "2024-01-01 00:00:00", 7L, "click", 1.0),
      (2L, "2024-01-01 00:30:00", 7L, "click", 1.0), // diff == gap: merges
      (3L, "2024-01-01 01:00:01", 7L, "click", 1.0)) // diff > gap: splits
    assert(EventsStreaming.sessionsBatch(ev).count() === 2)
  }

  test("attributionLinear: even integer split, remainder to earliest " +
      "clicks, sums reconstruct the purchase exactly") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 7L, "click", 0.0),
      (2L, "2024-01-01 10:10:00", 7L, "click", 0.0),
      (3L, "2024-01-01 10:20:00", 7L, "click", 0.0),
      (4L, "2024-01-01 10:25:00", 7L, "purchase", 1.00), // 100 cents / 3
      (5L, "2024-01-01 12:00:00", 7L, "click", 0.0),
      (6L, "2024-01-01 12:05:00", 7L, "purchase", 0.05), // 5 cents / 1
      (7L, "2024-01-01 14:00:00", 8L, "purchase", 9.99)) // no clicks: drops
    val got = EventsStreaming.attributionLinear(ev)
      .select("purchase_id", "click_id", "rk", "attributed_cents")
      .as[(Long, Long, Long, Long)].collect().toSet
    // 100 = 33+33+33 + remainder 1 → earliest click gets 34
    assert(got === Set(
      (4L, 1L, 1L, 34L), (4L, 2L, 2L, 33L), (4L, 3L, 3L, 33L),
      (6L, 5L, 1L, 5L)))
    // exact reconstruction per purchase
    val sums = EventsStreaming.attributionLinear(ev)
      .groupBy("purchase_id").sum("attributed_cents")
      .as[(Long, Long)].collect().toMap
    assert(sums === Map(4L -> 100L, 6L -> 5L))
  }

  test("attributionTimeDecay: dyadic half-life weights, remainder to " +
      "most recent, sums reconstruct the purchase exactly") {
    val ev = events(
      (1L, "2024-01-01 10:00:00", 7L, "click", 0.0),    // 30 min out: w=1
      (2L, "2024-01-01 10:25:00", 7L, "click", 0.0),    // 5 min out:  w=8
      (3L, "2024-01-01 10:30:00", 7L, "purchase", 100.00))
    // W=9: floors 10000*1/9=1111, 10000*8/9=8888; rem 1 -> recent click 2
    val got = EventsStreaming.attributionTimeDecay(ev)
      .select("click_id", "k", "w", "attributed_cents")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 3L, 1L, 1111L), (2L, 0L, 8L, 8889L)))
    assert(got.toSeq.map(_._4).sum === 10000L)
  }
  test("dispersionByType: exact Fano factor — constant stream 0, " +
      "bursty stream > 1, underdispersed < 1") {
    def mk(typ: String, perMin: Seq[Int], base: Int) = perMin.zipWithIndex
      .flatMap { case (c, m) => (1 to c).map(j =>
        ((base + m * 100 + j).toLong, f"2024-01-01 00:$m%02d:00", 1L,
          typ, 1.0)) }
    val ev = events((mk("flat", Seq(2, 2), 0) ++
      mk("burst", Seq(1, 7), 10000) ++
      mk("mild", Seq(1, 3), 20000)): _*)
    val r = EventsStreaming.dispersionByType(ev)
      .select("event_type", "n_minutes", "n_events", "dispersion")
      .as[(String, Long, Long, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r("flat") === (("flat", 2L, 4L, 0.0)))
    // (2*50 - 64) / (2*8) = 36/16
    assert(r("burst") === (("burst", 2L, 8L, 2.25)))
    // (2*10 - 16) / (2*4) = 0.5
    assert(r("mild") === (("mild", 2L, 4L, 0.5)))
  }
}
