package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private def orders(rows: (java.lang.Long, java.lang.Long, String, Double)*) =
    rows.map { case (k, c, st, tp) =>
      (Option(k).map(_.toLong), Option(c).map(_.toLong), st, tp,
        ts("1995-01-01 00:00:00"), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")

  private def customer(ids: Long*) =
    ids.map(i => (i, s"c$i", 0L, 0.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")

  test("every rule fires on constructed violations with exact counts") {
    val dirty = orders(
      (1L, 10L, "O", 5.0),
      (1L, 10L, "F", 6.0),          // duplicate key -> 1 excess row
      (2L, null, "X", -1.0),        // null custkey, bad status, bad range
      (null, 99L, "P", 7.0))        // null orderkey, orphan custkey
    val got = Expectations.ordersSuite(dirty, customer(10L))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getInt(3))).toMap
    assert(got(("not_null", "o_orderkey")) === ((1L, 0)))
    assert(got(("not_null", "o_custkey")) === ((1L, 0)))
    assert(got(("range", "o_totalprice")) === ((1L, 0)))
    assert(got(("domain", "o_orderstatus")) === ((1L, 0)))
    assert(got(("unique", "o_orderkey")) === ((1L, 0)))
    // orphans: custkey 99 (null custkey row doesn't join-match either,
    // so the anti join counts it too)
    assert(got(("ref_integrity", "o_custkey")) === ((2L, 0)))
    assert(got.size === 6)
  }

  test("clean data passes every rule") {
    val clean = orders((1L, 10L, "O", 5.0), (2L, 10L, "F", 6.0))
    val got = Expectations.ordersSuite(clean, customer(10L)).collect()
    assert(got.length === 6)
    assert(got.forall(_.getInt(3) === 1))
    assert(got.forall(_.getLong(2) === 0L))
  }

  test("row-local rules fuse into one scan (single aggregate, no join)") {
    val plan = Expectations.checkRows(orders((1L, 10L, "O", 5.0)),
      Seq(Expectations.RowRule("not_null", "o_orderkey",
        col("o_orderkey").isNull),
        Expectations.RowRule("range", "o_totalprice",
          col("o_totalprice") < 0)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "fused rules must not join")
    assert(!plan.contains("Union"), "fused rules must not re-scan per rule")
    assert("Scan".r.findAllIn(plan).size === 1, s"one scan expected:\n$plan")
  }

  test("one engine: validate, dq_uniqueness and checkUnique read the same " +
      "key stats, and ref_integrity and fkAudit the same orphans") {
    val out = java.nio.file.Files.createTempDirectory("graft_engine").toString
    // keys 1, 1, null, null, 2: five rows in three groups, two null keys
    val keyed = Seq[java.lang.Long](1L, 1L, null, null, 2L)
      .map(k => (Option(k).map(_.toLong), "x")).toDF("o_orderkey", "v")
    val empty = keyed.limit(0).withColumnRenamed("o_orderkey", "c_custkey")
    // (table, key, frame, (n_rows, n_groups, n_null))
    val tables = Seq(("orders", "o_orderkey", keyed, (5L, 3L, 2L)),
      ("customer", "c_custkey", empty, (0L, 0L, 0L)))
    tables.foreach { case (t, _, df, _) =>
      df.write.parquet(s"$out/silver/$t") }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$out/gold"))

    val validated = Pipeline.validate(spark, out)
      .map(c => (c.table, c.check) -> c.detail).toMap
    val audit = graft.ext.Quality.uniquenessAuditOn(
        tables.map { case (t, k, df, _) => (t, df, k) })
      .select("pk", "n_rows", "n_distinct", "n_null")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    tables.foreach { case (t, k, df, (rows, groups, nulls)) =>
      assert(validated((t, s"pk_unique($k)")) ===
        s"distinct=$groups rows=$rows", t)
      assert(validated((t, s"pk_not_null($k)")) === s"nulls=$nulls", t)
      // countDistinct semantics: the null group is not a distinct key
      assert(audit(s"$t.$k") ===
        ((rows, groups - (if (nulls > 0) 1 else 0), nulls)), t)
      assert(Expectations.checkUnique(df, k).head().getLong(2) ===
        rows - groups, t)
    }

    // a null child key and an orphan child key are both orphans
    val child = orders((1L, 10L, "O", 5.0), (2L, null, "O", 5.0),
      (3L, 99L, "O", 5.0))
    val ref = Expectations.ordersSuite(child, customer(10L, 11L, 10L))
      .filter(col("rule") === "ref_integrity").head().getLong(2)
    val fk = graft.ext.Quality.fkAudit(child, "o_custkey",
        customer(10L, 11L, 10L), "c_custkey", "e")
      .head().getAs[Long]("n_orphans")
    assert(ref === 2L)
    assert(fk === ref)
  }
}
