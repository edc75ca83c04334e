package graft.ext

import graft.SparkSpec

class PrivacySpec extends SparkSpec {
  import spark.implicits._

  test("redactText: counts and replaces every PII category, leaves clean " +
      "text alone") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org now or call 555-1234 " +
        "from 192.168.0.1 or 10.0.0.255"),
      (2L, "no pii here at all")
    ).toDF("doc_id", "text")
    val out = Privacy.redactText(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Int]("n_emails") === 1)
    assert(out(1L).getAs[Int]("n_phones") === 1)
    assert(out(1L).getAs[Int]("n_ips") === 2)
    assert(out(1L).getAs[String]("text") ===
      "mail <EMAIL> now or call <PHONE> from <IP> or <IP>")
    assert(out(2L).getAs[Int]("n_emails") === 0)
    assert(out(2L).getAs[String]("text") === "no pii here at all")
  }

  test("redactDocuments: planted PII is found and fully redacted") {
    val docs = Seq((42L, "hello world", "en", "src0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Privacy.redactDocuments(docs).collect().head
    assert(r.getAs[Int]("n_emails") === 1)
    assert(r.getAs[Int]("n_phones") === 1)
    assert(r.getAs[Int]("n_ips") === 1)
    // redacted text is exactly predictable: every planted token replaced
    val want = "hello world contact <EMAIL> or call <PHONE> from <IP>"
    assert(r.getAs[String]("redacted_fp") ===
      org.apache.commons.codec.digest.DigestUtils.md5Hex(want))
    assert(r.getAs[Int]("n_chars_redacted") === want.length)
  }

  test("maskCustomers: hash is stable, mask keeps last 4 digits, bucket " +
      "generalizes") {
    val cust = Seq((7L, "Customer#000001234", 3L, 1863.84, "HOUSEHOLD"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val r = Privacy.maskCustomers(cust).collect().head
    assert(r.getAs[String]("name_hash") ===
      org.apache.commons.codec.digest.DigestUtils
        .sha256Hex("Customer#000001234"))
    assert(r.getAs[String]("name_masked") === "Customer#XXXXX1234")
    assert(r.getAs[Long]("acctbal_bucket") === 1L)
    // negative balances floor toward -inf (bucket -1, not 0)
    val neg = Seq((8L, "Customer#000000008", 3L, -12.5, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    assert(Privacy.maskCustomers(neg).collect().head
      .getAs[Long]("acctbal_bucket") === -1L)
  }

  test("kAnonymityAudit: equivalence-class size distribution and shares") {
    // QI = (segment, nation, floor(bal/1000)):
    //   (H,1,1) has 2 members; (H,1,2) has 1; (M,2,1) has 1
    //   → one class of size 2 (2 rows), two classes of size 1 (2 rows)
    val cust = Seq(
      (1L, "a", 1L, 1100.0, "HOUSEHOLD"),
      (2L, "b", 1L, 1900.0, "HOUSEHOLD"),
      (3L, "c", 1L, 2100.0, "HOUSEHOLD"),
      (4L, "d", 2L, 1500.0, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val r = Privacy.kAnonymityAudit(cust)
      .select("class_size", "n_classes", "n_rows", "row_share")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(r === Set((2L, 1L, 2L, 0.5), (1L, 2L, 2L, 0.5)))
  }

  test("redaction is a narrow no-shuffle plan") {
    val docs = Seq((1L, "x", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val plan = Privacy.redactDocuments(docs).queryExecution.executedPlan
    assert(!plan.toString.contains("Exchange"), "no shuffle expected")
  }

  test("lDiversityAudit: diversity histogram, rows below the l=3 bar") {
    import spark.implicits._
    // QI class (A,1): balances in 3 distinct k-buckets -> l=3 (at bar);
    // QI class (B,1): two members, ONE bucket -> l=1 (below bar)
    val c = Seq(
      ("A", 1, 500.0), ("A", 1, 1500.0), ("A", 1, 2500.0),
      ("B", 1, 100.0), ("B", 1, 900.0))
      .toDF("c_mktsegment", "c_nationkey", "c_acctbal")
    val r = Privacy.lDiversityAudit(c)
      .select("l_div", "n_classes", "n_rows", "row_share", "below_bar")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(3L) === ((3L, 1L, 3L, 0.6, false)))
    assert(r(1L) === ((1L, 1L, 2L, 0.4, true)))
  }

  test("tClosenessAudit: exact scaled EMD against the global distribution") {
    import spark.implicits._
    // buckets: global b0=3, b1=1 (N=4, m=2). Class (A,1): {b0, b1} ->
    // D_1 = 1*4 - 3*2 = -2, D_2 = 0 -> emd_scaled = 2,
    // emd = 2 / (1*2*4) = 0.25. Class (B,1): {b0, b0} -> D_1 = 2*4-3*2
    // = 2, D_2 = 0 -> same scaled distance from the other side.
    val c = Seq(
      ("A", 1, 500.0), ("A", 1, 1500.0),
      ("B", 1, 500.0), ("B", 1, 600.0))
      .toDF("c_mktsegment", "c_nationkey", "c_acctbal")
    val r = Privacy.tClosenessAudit(c)
      .select("c_mktsegment", "class_size", "emd_scaled", "emd", "above_bar")
      .as[(String, Long, Long, Double, Boolean)].collect()
      .map(t => t._1 -> t).toMap
    assert(r("A") === (("A", 2L, 2L, 0.25, true)))
    assert(r("B") === (("B", 2L, 2L, 0.25, true)))
  }

  test("erasureAudit: the delete cascades customer -> orders -> " +
      "lineitems with exact per-table counts; non-requested rows stay") {
    // request list = custkey % 97 == 0: here customers 97 and 194
    val customer = Seq(1L, 2L, 97L, 194L, 195L).map(Tuple1(_))
      .toDF("c_custkey")
    val orders = Seq(
      (10L, 1L), (11L, 97L), (12L, 97L), (13L, 194L), (14L, 195L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (10L, 1), (11L, 1), (11L, 2), (12L, 1), (13L, 1), (14L, 1))
      .toDF("l_orderkey", "l_linenumber")
    val audit = Privacy.erasureAudit(customer, orders, lineitem)
      .collect().map(r => r.getAs[String]("table_name") ->
        (r.getAs[Long]("rows_before"), r.getAs[Long]("rows_deleted"),
          r.getAs[Long]("rows_after"))).toMap
    assert(audit("customer") === ((5L, 2L, 3L)))
    // orders 11, 12 (cust 97) and 13 (cust 194) cascade out
    assert(audit("orders") === ((5L, 3L, 2L)))
    // lineitems of orders 11 (×2), 12, 13 cascade out; 10/14 stay
    assert(audit("lineitem") === ((6L, 4L, 2L)))
  }

  test("dpNoisyCounts: deterministic draw, bounded support, clamped release") {
    // key 0 hashes to u = 0 < every threshold -> noise exactly -B
    val nation = (0L to 999L).map(k => (k, s"n_$k")).toDF("n_nationkey", "n_name")
    val customer = (0L to 999L).flatMap(k => Seq.fill(5)(Tuple1(k)))
      .toDF("c_nationkey")
    val r = Privacy.dpNoisyCounts(customer, nation)
      .select("n_name", "true_cnt", "noise", "noisy_cnt", "released_cnt")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(r.length === 1000)
    val byName = r.map(t => t._1 -> t).toMap
    assert(byName("n_0") === (("n_0", 5L, -8L, -3L, 0L)),
      "key 0 must draw the left tail and clamp at zero")
    r.foreach { case (n, cnt, noise, noisy, rel) =>
      assert(cnt === 5L)
      assert(noise >= -Privacy.DpB && noise <= Privacy.DpB, s"$n noise $noise")
      assert(noisy === cnt + noise)
      assert(rel === math.max(0L, noisy))
    }
    // the geometric shape shows through 1000 uniform-ish hash draws:
    // zero noise (weight 256/766) beats each tail (weight 1/766)
    val freq = r.groupBy(_._3).view.mapValues(_.length).toMap
    assert(freq.getOrElse(0L, 0) > freq.getOrElse(8L, 0))
    assert(freq.getOrElse(0L, 0) > freq.getOrElse(-8L, 0))
    assert(freq.getOrElse(0L, 0) > 200, s"P(0) ~ 1/3, got ${freq.get(0L)}")
  }

  test("dpNoisyCounts: a per-release salt reshuffles the draws without " +
      "touching the true counts; salt 0 is the registered contract") {
    val nation = (0L to 99L).map(k => (k, s"n_$k"))
      .toDF("n_nationkey", "n_name")
    val customer = (0L to 99L).flatMap(k => Seq.fill(5)(Tuple1(k)))
      .toDF("c_nationkey")
    def draws(salt: Long) = Privacy.dpNoisyCounts(customer, nation, salt)
      .select("n_name", "true_cnt", "noise")
      .as[(String, Long, Long)].collect().map(t => t._1 -> t).toMap
    val s0 = draws(0L)
    val s0Again = draws(0L)
    val s1 = draws(12345L)
    assert(s0 === s0Again, "same salt must replay identically")
    // key 0 + salt 0 draws the left tail (the unsalted contract pin)
    assert(s0("n_0")._3 === -8L)
    s1.values.foreach { case (_, cnt, noise) =>
      assert(cnt === 5L)
      assert(noise >= -Privacy.DpB && noise <= Privacy.DpB)
    }
    assert(s0.count { case (n, t) => t._3 != s1(n)._3 } > 10,
      "a different salt must move a substantial share of the draws")
    intercept[IllegalArgumentException](
      Privacy.dpNoisyCounts(customer, nation, -1L))
  }

  test("randomizedResponse: flips replay the hash contract and the " +
      "debias formula is exact") {
    // nation 0: customers 1..8, negative balance for keys 1..4
    val nation = Seq((0L, "n_0")).toDF("n_nationkey", "n_name")
    val customer = (1L to 8L).map(k =>
        (k, 0L, if (k <= 4) -10.0 else 10.0))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
    val r = Privacy.randomizedResponse(customer, nation)
      .select("n_name", "n", "true_yes", "obs_yes", "est_yes")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(r.length === 1)
    val (_, n, trueYes, obsYes, est) = r.head
    assert(n === 8L && trueYes === 4L)
    // independent replay of the flip rule
    val expObs = (1L to 8L).map { k =>
      val flip = ((k * 2654435761L) % 4294967296L) < 1073741824L
      val y = k <= 4
      if (flip) !y else y
    }.count(identity).toLong
    assert(obsYes === expObs)
    assert(est === (4L * obsYes - n).toDouble / 2.0)
    // a salt change must move at least one report on a larger panel
    val big = (1L to 200L).map(k => (k, 0L, if (k % 2 == 0) -1.0 else 1.0))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
    val o0 = Privacy.randomizedResponse(big, nation)
      .select("obs_yes").as[Long].head()
    val o1 = Privacy.randomizedResponse(big, nation, salt = 12345L)
      .select("obs_yes").as[Long].head()
    assert(o0 !== o1)
    intercept[IllegalArgumentException](
      Privacy.randomizedResponse(customer, nation, -1L))
  }

  test("dpNoisyCounts: thresholds are the exact BigInt inverse-CDF cuts") {
    // recompute independently from the weight definition 256*(1/2)^|k|
    val weights = (-8 to 8).map(k => 256 >> math.abs(k))
    assert(weights.sum === 766)
    val cum = weights.scanLeft(0)(_ + _).tail.dropRight(1)
    assert(cum === Privacy.DpGeomCumWeights)
    val expected = cum.map(c => (BigInt(c) * BigInt(2).pow(32) / 766).toLong)
    assert(Privacy.DpThresholdsU32 === expected)
  }
}
