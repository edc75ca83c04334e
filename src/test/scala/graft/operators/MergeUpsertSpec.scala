package graft.operators

import graft.SparkSpec

class MergeUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tbl(rows: (Long, String, Double)*) =
    rows.toDF("k", "status", "amount")

  test("upsert: matched rows take source, unmatched both sides survive") {
    val target = tbl((1L, "old", 10.0), (2L, "old", 20.0))
    val source = tbl((2L, "new", 99.0), (3L, "ins", 30.0))
    val out = MergeUpsert.upsert(target, source, Seq("k"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    assert(out === Map(
      1L -> ("old", 10.0),   // untouched target
      2L -> ("new", 99.0),   // updated
      3L -> ("ins", 30.0)))  // inserted
  }

  test("applyChanges: last-wins per key, D deletes, I/U upsert") {
    val target = tbl((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    val feed = Seq(
      (2L, "upd", 20.0, "U", 1),   // update key 2
      (2L, "del", 0.0, "D", 2),    // ...then delete it (seq 2 wins)
      (3L, "upd", 30.0, "U", 5),   // update key 3 (latest of two updates)
      (3L, "old", 99.0, "U", 4),
      (4L, "ins", 4.0, "I", 1))    // insert key 4
      .toDF("k", "status", "amount", "op", "seq")
    val out = MergeUpsert.applyChanges(target, feed, Seq("k"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    assert(out === Map(
      1L -> ("a", 1.0),      // untouched
      3L -> ("upd", 30.0),   // seq-5 update wins over seq-4
      4L -> ("ins", 4.0)))   // inserted; key 2 deleted
  }

  test("upsert: validateUniqueSource rejects ambiguous merges") {
    val target = tbl((1L, "old", 10.0))
    val dupSource = tbl((1L, "a", 1.0), (1L, "b", 2.0))
    intercept[IllegalArgumentException] {
      MergeUpsert.upsert(target, dupSource, Seq("k"),
        validateUniqueSource = true)
    }
    // unique source passes the check and merges normally
    val ok = MergeUpsert.upsert(target, tbl((1L, "new", 9.0)), Seq("k"),
      validateUniqueSource = true).collect()
    assert(ok.length === 1 && ok.head.getString(1) === "new")
  }

  test("upsert: coalesce rule means a source NULL cannot clear a column") {
    val target = Seq((1L, Some("keep"), 1.0)).toDF("k", "status", "amount")
    val source = Seq((1L, None: Option[String], 5.0))
      .toDF("k", "status", "amount")
    val out = MergeUpsert.upsert(target, source, Seq("k")).collect().head
    assert(out.getString(1) === "keep", "NULL source column patches nothing")
    assert(out.getDouble(2) === 5.0)
  }

  test("upsert: composite keys and schema mismatch rejection") {
    val t2 = Seq((1L, "a", "x", 1.0)).toDF("k1", "k2", "status", "amount")
    val s2 = Seq((1L, "a", "y", 2.0)).toDF("k1", "k2", "status", "amount")
    val out = MergeUpsert.upsert(t2, s2, Seq("k1", "k2")).collect()
    assert(out.length === 1 && out.head.getString(2) === "y")
    intercept[IllegalArgumentException] {
      MergeUpsert.upsert(t2, tbl((1L, "a", 1.0)), Seq("k1"))
    }
  }

  test("ordersUpsert: mod-3 keys updated, mod-7 keys re-inserted") {
    val ord = (1L to 20L).map(i =>
      (i, 1L, "F", 100.0, ts("1997-01-01 00:00:00"), "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = MergeUpsert.ordersUpsert(ord)
    assert(out.count() === 22) // 20 originals + 2 inserts (keys 7, 17)
    val byKey = out.collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(byKey(3L) === ("U", 11000L))   // updated: +10%
    assert(byKey(13L) === ("U", 11000L))
    assert(byKey(4L) === ("F", 10000L))   // untouched
    assert(byKey(10000007L) === ("N", 10000L)) // inserted under new key
    assert(byKey(7L) === ("F", 10000L))   // original of the insert remains
  }
}
