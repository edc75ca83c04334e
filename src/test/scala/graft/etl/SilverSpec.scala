package graft.etl

import graft.SparkSpec

/** Edge-semantics fixtures per FIXTURES.md §C: duplicate rows (exact and
  * key-only), nulls in fill/drop columns, filter boundaries, unmatched
  * left-join rows.
  */
class SilverSpec extends SparkSpec {
  import spark.implicits._

  test("ordersStage: full-row dedup collapses exact dups, keeps key dups") {
    val df = Seq(
      (1L, 10L, "F", 100.0, "1-URGENT", ts("1997-01-01 00:00:00")),
      (1L, 10L, "F", 100.0, "1-URGENT", ts("1997-01-01 00:00:00")),
      (1L, 10L, "O", 100.0, "1-URGENT", ts("1997-01-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority", "o_orderdate")
    assert(Silver.ordersStage(df).count() === 2)
  }

  test("ordersStage: null status filled with 'pending', dates formatted") {
    val df = Seq((1L, 10L, null.asInstanceOf[String], 100.0, "1-URGENT",
      ts("1997-01-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority", "o_orderdate")
    val row = Silver.ordersStage(df).collect().head
    assert(row.getAs[String]("o_orderstatus") === "pending")
    assert(row.getAs[String]("order_date") === "1997-01-01")
    assert(row.getAs[String]("order_purchase_ts") === "1997-01-01 00:00:00")
  }

  test("customerStage: drops any-null rows, dedups key deterministically") {
    val df = Seq(
      (1L, " Alice ", 3, 10.0, " BUILDING "),
      (1L, " Bob ", 3, 10.0, " BUILDING "),   // same key, later order
      (2L, null, 3, 10.0, "AUTO"))            // null name -> dropped
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    val out = Silver.customerStage(df).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("c_name") === "ALICE") // min survivor
    assert(out.head.getAs[String]("c_mktsegment") === "building")
  }

  test("lineitemStage: filters non-positive price/quantity, keeps tax=0") {
    val df = Seq(
      (1L, 1L, 1L, 1, 5.0, 100.5, 0.1, 0.0, "N", "O", ts("1997-01-01 00:00:00")),
      (1L, 1L, 1L, 2, 5.0, 0.0, 0.1, 0.05, "N", "O", ts("1997-01-01 00:00:00")),
      (1L, 1L, 1L, 3, 0.0, 100.0, 0.1, 0.05, "N", "O", ts("1997-01-01 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val out = Silver.lineitemStage(df).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("price") === "100.50") // canonical 2dp
    assert(out.head.getAs[String]("tax") === "0.00")
  }

  test("lineitemRejects: silver + rejects partition the input; reasons " +
      "accumulate per rule") {
    val df = Seq(
      (1L, 1L, 1L, 1, 5.0, 100.5, 0.1, 0.0, "N", "O", ts("1997-01-01 00:00:00")),
      (1L, 1L, 1L, 2, 5.0, -1.0, 0.1, -0.5, "N", "O", ts("1997-01-01 00:00:00")),
      (1L, 1L, 1L, 3, 0.0, 100.0, 0.1, 0.05, "N", "O", ts("1997-01-01 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val kept = Silver.lineitemStage(df)
    val rejects = Silver.lineitemRejectsStage(df)
    assert(kept.count() + rejects.count() === df.count(),
      "every input row lands in exactly one of silver/rejects")
    val byLine = rejects.collect()
      .map(r => r.getAs[Int]("l_linenumber") -> r.getAs[String]("reasons"))
      .toMap
    assert(byLine(2) === "nonpositive_price;negative_tax")
    assert(byLine(3) === "nonpositive_qty")
  }

  test("partStage: unmatched left join falls back to 'unknown'") {
    val pt = Seq(
      (1L, "widget", "Brand#1", "ECONOMY", 5, 900.0),
      (2L, "gadget", "Brand#2", "STANDARD", 99, 901.0)) // size 99 unmatched
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
    val nat = Seq((5, "NATION_5", 1)).toDF("n_nationkey", "n_name",
      "n_regionkey")
    val q = Silver.partStage(pt, nat)
    val out = q.collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("category"))
      .toMap
    assert(out === Map(1L -> "NATION_5", 2L -> "unknown"))
    // the nation side consults the exact-bytes advisor hook (r16 #3) —
    // an under-threshold dim must come out broadcast in the executed plan
    assert(q.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
      "advisor-gated nation join must broadcast when under threshold")
  }

  test("eventsStage: fills null value, dedups event_id by earliest ts") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:01"), 7L, "click", Some(5.0), """{"k": 3}"""),
      (1L, ts("2024-01-01 00:00:00"), 7L, "click", None, """{"k": 4}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Silver.eventsStage(df).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Double]("value") === 0.0) // earliest row had null
    assert(out.head.getAs[Int]("prop_k") === 4)
    assert(out.head.getAs[String]("event_ts") ===
      "2024-01-01 00:00:00.000000")
  }
}
