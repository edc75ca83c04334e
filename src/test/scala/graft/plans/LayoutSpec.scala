package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def orders(rows: (Long, Long, String, Double, String, String)*) =
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(col("o_orderdate")))

  test("mortonKey interleaves bits: x at even, y at odd positions") {
    val df = Seq((3L, 1L), (0L, 255L), (255L, 0L), (0L, 0L), (255L, 255L))
      .toDF("x", "y")
      .select(Layout.mortonKey(col("x"), col("y")).as("z"))
    // x=3,y=1: x bits 0,1 -> z bits 0,2; y bit 0 -> z bit 1 => 1+4+2
    // y=255 alone: all odd bits of 16 => 0b1010_1010_1010_1010 = 43690
    // x=255 alone: all even bits => 21845; both => 65535
    assert(df.as[Long].collect().toSeq === Seq(7L, 43690L, 21845L, 0L, 65535L))
  }

  test("zorderBlocks: a block covers a narrow square in both dimensions") {
    // custkey 0..15 x 4 days from the epoch date -> zkeys all < 2^8+?,
    // every row lands in low blocks; block stats must bound both dims
    val rows = for (c <- 0L until 16L; d <- 0 until 4) yield
      (c * 100 + d, c, "O", 1.0,
        java.time.LocalDate.parse(Layout.EpochDate).plusDays(d).toString +
          " 00:00:00", "1-URGENT")
    val blocks = Layout.zorderBlocks(orders(rows: _*)).collect()
    assert(blocks.map(_.getAs[Long]("n_rows")).sum === 64L)
    blocks.foreach { b =>
      // 64-key Z blocks tile 8x8 grid cells at most (here: 8 wide in
      // cust, 8 in day, but our domain is 16x4) — never a full stripe
      assert(b.getAs[Long]("cust_max") - b.getAs[Long]("cust_min") < 8L)
      assert(b.getAs[Long]("day_max") - b.getAs[Long]("day_min") < 8L)
    }
  }

  test("hilbertBlocks: blocks tile 8x8 cells and bound both dimensions") {
    val rows = for (c <- 0L until 16L; d <- 0 until 4) yield
      (c * 100 + d, c, "O", 1.0,
        java.time.LocalDate.parse(Layout.EpochDate).plusDays(d).toString +
          " 00:00:00", "1-URGENT")
    val blocks = Layout.hilbertBlocks(orders(rows: _*)).collect()
    assert(blocks.map(_.getAs[Long]("n_rows")).sum === 64L)
    blocks.foreach { b =>
      // a 64-key Hilbert block is a contiguous curve segment inside an
      // 8x8 tile — like Z-order it can never cover a full-width stripe
      assert(b.getAs[Long]("cust_max") - b.getAs[Long]("cust_min") < 8L)
      assert(b.getAs[Long]("day_max") - b.getAs[Long]("day_min") < 8L)
    }
  }

  test("compactionPlan: exact byte math, ceil-by-shift file counts") {
    // month A: 2 rows of (32 + 1 + 8) = 41 bytes each -> 82 bytes,
    // 1 file, small; month B: big rows via long priority string
    val big = "P" * 600000 // 600 kB -> 3 rows ~ 1.8 MB -> 2 files
    val plan = Layout.compactionPlan(orders(
      (1L, 1L, "O", 1.0, "1995-01-10 00:00:00", "1-URGENT"),
      (2L, 1L, "O", 1.0, "1995-01-20 00:00:00", "1-URGENT"),
      (3L, 1L, "O", 1.0, "1995-02-01 00:00:00", big),
      (4L, 1L, "O", 1.0, "1995-02-02 00:00:00", big),
      (5L, 1L, "O", 1.0, "1995-02-03 00:00:00", big)))
      .collect().map(r => r.getAs[String]("month") -> r).toMap
    val a = plan("1995-01")
    assert(a.getAs[Long]("est_bytes") === 82L)
    assert(a.getAs[Long]("n_files") === 1L)
    assert(a.getAs[Boolean]("small_file"))
    val b = plan("1995-02")
    assert(b.getAs[Long]("est_bytes") === 3L * (600000 + 33))
    assert(b.getAs[Long]("n_files") === 2L) // ceil(1.8MB / 1MiB)
    assert(!b.getAs[Boolean]("small_file"))
  }

  test("zonemapPrune: date-clustered layout skips, key layout cannot") {
    // 120 orders spread over 1993 (outside the 1995 predicate) plus 64
    // in mid-1995 whose keys land one per key shard (960 % 64 == 0), so
    // the key layout mixes a matching row into every shard
    val rows =
      (0 until 120).map(i => (i.toLong, 1L, "O", 1.0,
        java.time.LocalDate.of(1993, 1, 1).plusDays(i * 3).toString +
          " 00:00:00", "X")) ++
      (0 until 64).map(i => (960L + i, 1L, "O", 1.0,
        java.time.LocalDate.of(1995, 6, 1).plusDays(i).toString +
          " 00:00:00", "X"))
    val got = Layout.zonemapPrune(orders(rows: _*))
      .collect().map(r => r.getAs[String]("layout") -> r).toMap
    val byDate = got("bydate")
    val byKey = got("bykey")
    // both see the same ground truth
    assert(byDate.getAs[Long]("rows_matched") === 64L)
    assert(byKey.getAs[Long]("rows_matched") === 64L)
    // date clustering: the 1993 shards all miss the 1995 range
    assert(byDate.getAs[Long]("n_shards_skipped") > 0L)
    assert(byDate.getAs[Long]("rows_scanned") < 184L)
    // a 1995 order sits in every key shard -> zone maps can't skip any
    assert(byKey.getAs[Long]("rows_scanned") === 184L)
    assert(byKey.getAs[Long]("n_shards_skipped") === 0L)
  }

  test("rangePartitionPlan: contiguous non-overlapping splits, rows conserved") {
    // 320 rows over 32 distinct days, 10 rows/day -> 16 parts of 20 rows
    val rows = for (d <- 0 until 32; r <- 0 until 10) yield
      (d * 10L + r, 1L, "O", 1.0,
        java.time.LocalDate.parse(Layout.EpochDate).plusDays(d).toString +
          " 00:00:00", "X")
    val parts = Layout.rangePartitionPlan(orders(rows: _*))
      .orderBy("part_id").collect()
    assert(parts.length === 16)
    assert(parts.map(_.getAs[Long]("n_rows")).sum === 320L)
    // uniform input -> perfectly balanced plan
    parts.foreach { p =>
      assert(p.getAs[Long]("n_rows") === 20L)
      assert(p.getAs[Double]("load_factor") === 1.0)
    }
    // key ranges are sorted and disjoint: each part starts after the
    // previous one ends (range partitioning's defining property)
    parts.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("day_max") < b.getAs[Long]("day_min"))
    }
    // skewed input: one hot day gets its own heavy partition but the
    // assignment still conserves rows and keeps ranges disjoint
    val skewRows = rows ++ (0 until 300).map(i =>
      (9000L + i, 1L, "O", 1.0,
        java.time.LocalDate.parse(Layout.EpochDate).toString +
          " 00:00:00", "X"))
    val skewed = Layout.rangePartitionPlan(orders(skewRows: _*))
      .orderBy("part_id").collect()
    assert(skewed.map(_.getAs[Long]("n_rows")).sum === 620L)
    skewed.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("day_max") < b.getAs[Long]("day_min"))
    }
  }
  test("clusteringDepth: date-clustered layout has depth 1, key-hashed " +
      "layout interleaves to near-full depth") {
    // 80 orders, day k = orderkey k (k = 0..79 from 1992-01-01):
    // bydate -> 2 disjoint shards (days 0-39 | 40-79), depth 1 each;
    // bykey (mod 64) -> shards 0..15 span [s, s+64] (overlap everything),
    // singleton shards 16..63 overlap the 16 wide ones + themselves
    val o = orders((0 until 80).map { k =>
      (k.toLong, 1L, "F", 100.0,
        java.time.LocalDate.of(1992, 1, 1).plusDays(k).toString, "1-URGENT")
    }: _*)
    val r = Layout.clusteringDepth(o)
      .select("layout", "n_shards", "max_depth", "avg_depth")
      .as[(String, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    assert(r("bydate") === (("bydate", 2L, 1L, 1.0)))
    // sum depth = 16*64 + 48*17 = 1840 -> avg 28.75
    assert(r("bykey") === (("bykey", 64L, 64L, 28.75)))
  }

  test("broadcastAdvisor: exact byte accounting against the fixture " +
      "schemas; every dim verdict consistent with its computed bytes") {
    val r = Layout.broadcastAdvisor(spark, "/root/testdata/sf0.001")
      .select("table_name", "n_rows", "fixed_bytes", "str_bytes",
        "est_bytes", "broadcast_ok")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> x).toMap
    assert(r.keySet === Set("region", "nation", "customer", "supplier",
      "part"))
    // independent replay for region: 5 rows x 4 fixed bytes + names
    val names = graft.Tables.region(spark, "/root/testdata/sf0.001")
      .select("r_name").as[String].collect()
    val reg = r("region")
    assert(reg._2 === names.length.toLong)
    assert(reg._3 === 4L * names.length)
    assert(reg._4 === names.map(_.length.toLong).sum)
    r.values.foreach { x =>
      assert(x._5 === x._3 + x._4)
      assert(x._6 === (if (x._5 <= Layout.BroadcastThresholdBytes) 1L
                       else 0L))
    }
  }

  test("advisedBroadcast flips the EXECUTED plan at the byte threshold " +
      "(auto-broadcast disabled so only the hook decides)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = (1L to 1000L).map(k => (k, k % 7)).toDF("k", "v")
      val dim = (1L to 50L).map(k => (k, s"name_$k")).toDF("k", "nm")
      def planOf(d: org.apache.spark.sql.DataFrame) =
        fact.join(d, Seq("k")).groupBy("nm").count()
          .queryExecution.executedPlan.toString
      // 50 rows x 8 fixed + ~7-char names << 10 MiB -> broadcast
      val under = planOf(Layout.advisedBroadcast(dim, fixed = 8L,
        strCols = Seq("nm")))
      assert(under.contains("BroadcastHashJoin"), under.take(400))
      // same dim against a 10-BYTE threshold -> the hook must NOT tag,
      // and with auto-broadcast off the join shuffles
      val over = planOf(Layout.advisedBroadcast(dim, fixed = 8L,
        strCols = Seq("nm"), thresholdBytes = 10L))
      assert(!over.contains("BroadcastHashJoin"), over.take(400))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("advisedBroadcast and broadcastAdvisor cannot drift: per dim, " +
      "the hook tags iff the advisor's verdict is broadcast_ok") {
    val sf = "/root/testdata/sf0.001"
    val verdicts = Layout.broadcastAdvisor(spark, sf)
      .select("table_name", "broadcast_ok").as[(String, Long)]
      .collect().toMap
    def table(n: String) = n match {
      case "region"   => graft.Tables.region(spark, sf)
      case "nation"   => graft.Tables.nation(spark, sf)
      case "customer" => graft.Tables.customer(spark, sf)
      case "supplier" => graft.Tables.supplier(spark, sf)
      case "part"     => graft.Tables.part(spark, sf)
    }
    Layout.DimWidths.foreach { case (name, fixed, strCols) =>
      val tagged = Layout.advisedBroadcast(table(name), fixed, strCols)
        .queryExecution.logical.toString.contains("broadcast")
      assert(tagged === (verdicts(name) === 1L),
        s"$name: hook tagged=$tagged but advisor says ${verdicts(name)}")
    }
  }

  test("broadcast-hint audit cannot drift: per-file raw (bounded or " +
      "count-gated) and advisor-routed hint counts match the r18 audit") {
    // r17 verdict #4: every broadcast() hint in src/main was classified.
    // RAW hints are bounded-by-construction (codebooks, K/M×K tables,
    // NQueries/top-k/limit slices, calendars, single-row aggregates,
    // constant-bucket tables, TPC-H-fixed nation/region) or count-gated
    // in place (Graph's NodeBroadcastMaxRows/broadcastMaxEdges gates,
    // supportFor's bounded-by-contract cand). ADVISED hints are the
    // data-dependent set routed through Layout.advisedBroadcast
    // (corpus/dim-proportional sides: containmentPairs' bg/bSizes,
    // Multimodal's hot heads, erasureAudit's key list, checkRef's
    // parent keys, the embedding label/language slices, q8/q17/q15's
    // dim aggregates, Silver/Gold's dims). Three data-dependent sites
    // carry NO hint at all by design — keptPostings' overCap,
    // topTermsPerLang/keywords' vocabulary df, hits' a1 — because an
    // exact-bytes planning scan would re-run their expensive upstream;
    // AQE's runtime statistics gate those. A new broadcast( anywhere
    // fails this pin until it is classified here.
    val expected = Map(
      "etl/Expectations.scala" -> (0, 1),
      "etl/Gold.scala" -> (0, 1),
      "etl/Relational.scala" -> (18, 7),
      "etl/Silver.scala" -> (0, 1),
      "etl/TimeSeries.scala" -> (21, 0),
      "ext/Components.scala" -> (1, 0),
      "ext/Corpus.scala" -> (9, 0),
      "ext/Curation.scala" -> (3, 0),
      "ext/Dedup.scala" -> (4, 2),
      "ext/Experiment.scala" -> (1, 0),
      "ext/Graph.scala" -> (28, 0), // +1 r19: wccCertificate's shared
                                    // count-gated BFS gate helper
                                    // (nNodes <= NodeBroadcastMaxRows)
      "ext/HeavyHitters.scala" -> (4, 0),
      "ext/Multimodal.scala" -> (0, 2),
      "ext/Privacy.scala" -> (7, 1),
      "ext/Quality.scala" -> (13, 0),
      "ext/Retail.scala" -> (9, 0),
      "ext/Similarity.scala" -> (30, 3), // −9 r19: the coarse IVF
                                         // assignment + probe-ranking
                                         // crossJoin(broadcast(codebook))
                                         // sites became narrow per-row
                                         // folds over driver-side
                                         // codebooks (no join at all).
                                         // −2 r20: the two PQ
                                         // fine-quantizer broadcast
                                         // joins (trainPqCodebooks,
                                         // pqCodes) replaced by the
                                         // compiled PqNearestCentroids
                                         // kernel — no join at all
      "ext/Stats.scala" -> (19, 0),
      "ext/TextAnalysis.scala" -> (13, 0),
      "operators/SkewJoin.scala" -> (1, 0),
      "plans/Layout.scala" -> (6, 1))
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val actual = scala.collection.mutable.Map.empty[String, (Int, Int)]
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        // explicit UTF-8: the forked test JVM's default charset is
        // POSIX, and the scaladocs carry UTF-8 punctuation
        val code = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).linesIterator
          .filterNot { ln =>
            val t = ln.dropWhile(_.isWhitespace)
            t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
          }
          .mkString("\n").replace("advisedBroadcast(", "@ADV(")
        def cnt(needle: String) =
          code.sliding(needle.length).count(_ == needle)
        val (r, a) = (cnt("broadcast("), cnt("@ADV("))
        if (r > 0 || a > 0)
          actual(root.relativize(p).toString) = (r, a)
      }
    }
    assert(actual.toMap === expected,
      "broadcast-hint inventory drifted — classify the new/changed " +
        "site (bounded? count-gated? advisor-routed?) and update the pin")
  }

  test("bloomSkipAudit: present keys always pass their shard's bloom; " +
      "absent keys skip unless both bit positions collide") {
    // two month shards; probe keys are multiples of 997
    // shard 2024-01 holds {997, 1994}; shard 2024-02 holds {2991}
    val o = orders(
      (1L, 997L, "F", 1.0, "2024-01-05 00:00:00", "x"),
      (2L, 1994L, "F", 1.0, "2024-01-09 00:00:00", "x"),
      (3L, 2991L, "F", 1.0, "2024-02-01 00:00:00", "x"),
      (4L, 5L, "F", 1.0, "2024-02-02 00:00:00", "x")) // non-probe filler
    val r = Layout.bloomSkipAudit(o)
      .select("shard", "n_probes", "n_maybe", "n_true", "n_false_pos")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(x => x._1 -> x).toMap
    // every shard sees all 3 probe keys
    assert(r.values.forall(_._2 === 3L))
    // no bloom misses a truly present key
    assert(r("2024-01")._4 === 2L && r("2024-02")._4 === 1L)
    assert(r.values.forall(x => x._3 >= x._4))
    // independent replay of the two-hash bloom for the absent keys
    def pos(k: Long) = Seq(
      k * 2654435761L % 4294967296L % 4096L,
      k * 2246822519L % 4294967296L % 4096L)
    val bloom01 = Seq(997L, 1994L).flatMap(pos).toSet
    val expMaybe01 = Seq(997L, 1994L, 2991L)
      .count(k => pos(k).forall(bloom01.contains)).toLong
    assert(r("2024-01")._3 === expMaybe01)
    assert(r("2024-01")._5 === expMaybe01 - 2L)
  }

  test("joinCardinalityAudit: uniformity is exact on PK-FK joins, " +
      "misses on the skewed status self-join, ground truth matches " +
      "the group-count identity") {
    val d = "/root/testdata/sf0.001"
    val r = Layout.joinCardinalityAudit(spark, d).collect()
      .map(x => x.getAs[String]("join_name") -> x).toMap
    assert(r.size === 4)
    // PK-FK arms: max(d_l, d_r) = n_right (unique PK), actual = n_left
    // (referential integrity) -> est = n_left exactly, err_ratio = 1
    Seq("lineitem_orders", "lineitem_part", "orders_customer").foreach {
      name =>
        val x = r(name)
        assert(x.getAs[Long]("actual_rows") === x.getAs[Long]("n_left"),
          s"$name: FK integrity")
        assert(x.getAs[Double]("err_ratio") === 1.0, s"$name: uniform")
    }
    // skewed self-join: actual = sum c_k^2, est = n^2 / |statuses|;
    // recompute both independently and require a real (>1) miss
    val counts = graft.Tables.orders(spark, d)
      .groupBy("o_orderstatus").count()
      .as[(String, Long)].collect().map(_._2)
    val n = counts.sum
    val expActual = counts.map(c => c * c).sum
    val expEst = n.toDouble * n / counts.length
    val s = r("orders_status_self")
    assert(s.getAs[Long]("actual_rows") === expActual)
    assert(s.getAs[Double]("est_rows") === expEst)
    assert(s.getAs[Double]("err_ratio") > 1.0,
      "unbalanced status mix must beat the uniformity estimate")
  }

  test("selectivityAudit: interpolated estimates land near exact " +
      "counts and exact counts match direct predicates") {
    val d = "/root/testdata/sf0.001"
    val ord = graft.Tables.orders(spark, d)
    val r = Layout.selectivityAudit(ord).collect()
      .map(x => (x.getAs[Long]("lo_cents"), x.getAs[Long]("hi_cents"))
        -> x).toMap
    assert(r.size === Layout.SelPredicates.size)
    Layout.SelPredicates.foreach { case (lo, hi) =>
      val direct = ord.filter(
        round(col("o_totalprice") * 100).cast("long") >= lo &&
          round(col("o_totalprice") * 100).cast("long") < hi).count()
      val x = r((lo, hi))
      assert(x.getAs[Long]("actual_rows") === direct)
      // the fixture's totalprice is near-uniform, so the equi-width
      // interpolation should sit within 25% of truth on every arm
      val ratio = x.getAs[Double]("err_ratio")
      assert(ratio > 0.75 && ratio < 1.25,
        s"[$lo,$hi): err_ratio $ratio out of band")
    }
  }
}
