package graft.operators

import graft.SparkSpec

class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  private val clean = Seq(
    (1L, 0L, "alice"), (2L, 0L, "alicia"), (3L, 0L, "bob"),
    (4L, 1L, "alice") // same name, different block: never a candidate
  ).toDF("key", "block", "name")

  test("best match picks minimum distance within the block") {
    val dirty = Seq((100L, 0L, "alce")).toDF("dkey", "block", "dname")
    val got = FuzzyJoin.linkBestMatch(dirty, clean, Seq(Seq("block")),
      "dkey", "dname", "name", "key").select("dkey", "key", "dist")
      .as[(Long, Long, Long)].collect()
    // alce→alice dist 1, →alicia dist 3, →bob dist 4
    assert(got.toSeq === Seq((100L, 1L, 1L)))
  }

  test("distance ties break on the clean key, deterministically") {
    // "alicf" is distance 1 from "alice" (sub) — construct a tie:
    // clean has alice(1) and alicf would tie only with equal dist names;
    // use two equidistant cleans via a crafted dirty string
    val cleans = Seq((1L, 0L, "aaaa"), (2L, 0L, "bbbb")).toDF("key", "block", "name")
    val dirty = Seq((9L, 0L, "aabb")).toDF("dkey", "block", "dname")
    val got = FuzzyJoin.linkBestMatch(dirty, cleans, Seq(Seq("block")),
      "dkey", "dname", "name", "key").select("key").as[Long].collect()
    assert(got.toSeq === Seq(1L)) // dist 2 both; lower key wins
  }

  test("maxDist prunes garbage matches; blocks never cross") {
    val dirty = Seq(
      (100L, 0L, "zzzzzzzz"),   // nothing within dist 4 in block 0
      (101L, 1L, "alicex")      // block 1 only: matches key 4, not 1/2
    ).toDF("dkey", "block", "dname")
    val got = FuzzyJoin.linkBestMatch(dirty, clean, Seq(Seq("block")),
      "dkey", "dname", "name", "key")
      .select("dkey", "key").as[(Long, Long)].collect().toSet
    assert(got === Set((101L, 4L)))
  }

  test("multi-pass blocking: a candidate reachable by EITHER pass links, " +
      "and a pair found by both passes is scored once") {
    // clean "alice": pass A key = first 2 chars, pass B key = last 2
    val cleans = Seq((1L, "al", "ce", "alice"))
      .toDF("key", "pre", "suf", "name")
    // corrupted tail: only the prefix pass can find it
    val dTail = Seq((100L, "al", "xx", "alixx")).toDF("dkey", "pre", "suf", "dname")
    // corrupted head: only the suffix pass can find it
    val dHead = Seq((101L, "xx", "ce", "xxice")).toDF("dkey", "pre", "suf", "dname")
    // intact both: both passes find it; dedup must keep ONE candidate row
    val dBoth = Seq((102L, "al", "ce", "alice")).toDF("dkey", "pre", "suf", "dname")
    val passes = Seq(Seq("pre"), Seq("suf"))
    Seq((dTail, 2L), (dHead, 2L), (dBoth, 0L)).foreach { case (d, wantDist) =>
      val got = FuzzyJoin.linkBestMatch(d, cleans, passes,
        "dkey", "dname", "name", "key")
        .select("key", "dist").as[(Long, Long)].collect()
      assert(got.toSeq === Seq((1L, wantDist)))
    }
  }

  test("linkCustomers matches a brute-force reference exactly") {
    val keys = 0L to 40L
    val cust = keys.map(k =>
      (k, k % 3, f"Customer#$k%09d")).toDF("c_custkey", "c_nationkey", "c_name")
    val got = FuzzyJoin.linkCustomers(cust)
      .select("d_key", "matched_key", "dist")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap

    // driver-side reference: same corruption, same block, same tie-break
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def name(k: Long) = f"Customer#$k%09d"
    def corrupt(k: Long): String = {
      val p = (k % 9).toInt + 9 // 0-based prefix length before the edit
      name(k).substring(0, p) + "X" + name(k).substring(p + 1)
    }
    val want = keys.map { k =>
      val cands = keys.filter(_ % 3 == k % 3)
        .map(c => (lev(corrupt(k), name(c)).toLong, c))
        .filter(_._1 <= 4)
      val (dist, m) = cands.min
      k -> (m, dist)
    }.toMap
    assert(got === want)
    // the planted single edit is always recoverable at distance 1
    assert(want.values.forall(_._2 == 1L))
  }
}
