package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-layout planning operators — the table-maintenance side of a
  * 100 TB lakehouse that the query operators depend on for their speed:
  *
  *   - [[zorderBlocks]]: Morton (Z-order) interleaved sort keys over two
  *     dimensions, the multi-dimensional clustering used by
  *     Delta/Iceberg `OPTIMIZE ZORDER BY` so that range predicates on
  *     EITHER dimension touch few files;
  *   - [[compactionPlan]]: the small-file compactor's planning pass —
  *     per partition, how many target-size files the rows should rewrite
  *     into;
  *   - [[zonemapPrune]]: a what-if evaluation of min/max zone maps
  *     (parquet row-group / file footer stats) under two candidate
  *     layouts, quantifying how many shards a date predicate can skip.
  *
  * All three are pure aggregation pipelines over exact integers — one
  * keyed shuffle each, map-side partial aggregation, no windows, no
  * collects — so they run AS queries at any scale (the planning pass
  * must itself scale to the 100 TB table it plans for).
  *
  * Reference scope: the reference's warehouse (ETL-Ecommerce-data,
  * include/scripts/to_bronze.py) rewrites whole tables per run and
  * relies on warehouse-side layout; these operators supply the layout
  * layer a Spark-native lakehouse needs at scale.
  *
  * Companion: [[graft.sources.Layout]] is the WRITE side (crash-safe
  * compaction); this object is the PLANNING/AUDIT side, expressed as
  * oracle-checkable queries.
  */
object Layout {

  /** Bits per dimension in the Morton key (8 ⇒ 16-bit interleaved key,
    * 256×256 grid — file-count granularity, not row granularity).
    */
  val MortonBits = 8

  /** Days since this epoch is the date dimension fed to the grid. */
  val EpochDate = "1992-01-01"

  /** Bit-interleave two `bits`-wide non-negative int columns into a
    * Morton key: bit i of `x` lands at position 2i, bit i of `y` at
    * 2i+1. Pure shift/mask/add Column DAG — whole-stage codegen'd,
    * no UDF.
    */
  def mortonKey(x: Column, y: Column, bits: Int = MortonBits): Column =
    (0 until bits).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Z-order layout audit over orders: customer-id and order-day are
    * each folded onto a 256-wide grid axis, Morton-interleaved, and the
    * key space is cut into 64-key blocks (the would-be file boundaries
    * after an `OPTIMIZE ZORDER BY (custkey, orderdate)` rewrite). Per
    * block: row count plus the min/max of BOTH raw dimensions — the
    * zone-map stats that make the layout useful, showing each block
    * covers a narrow square in (customer × time) space rather than a
    * full-width stripe of either.
    */
  def zorderBlocks(orders: DataFrame): DataFrame = {
    val x = pmod(col("o_custkey"), lit(256L))
    val y = pmod(
      datediff(to_date(col("o_orderdate")), to_date(lit(EpochDate)))
        .cast("long"),
      lit(256L))
    orders
      .select(x.as("cx"), y.as("dy"))
      .withColumn("zkey", mortonKey(col("cx"), col("dy")))
      .groupBy(shiftright(col("zkey"), 6).as("z_block"))
      .agg(
        count(lit(1)).as("n_rows"),
        min("cx").as("cust_min"), max("cx").as("cust_max"),
        min("dy").as("day_min"), max("dy").as("day_max"))
  }

  /** Hilbert-curve layout audit — the same grid, blocking, and zone-map
    * readout as [[zorderBlocks]] with the Morton interleave swapped for
    * the codegen'd [[graft.functions.HilbertIndex]] expression, so the
    * two queries are directly comparable: every unit step of the Hilbert
    * curve moves to a 4-adjacent cell (Morton jumps at quadrant
    * boundaries), so Hilbert blocks bound BOTH dimensions tighter —
    * the layout audit a lake runs before choosing its OPTIMIZE order.
    * The oracle unrolls the 8-level xy→d walk as chained CTEs, one
    * quadrant decision + reflect/swap per level, exactly the
    * expression's loop.
    */
  def hilbertBlocks(orders: DataFrame): DataFrame = {
    val x = pmod(col("o_custkey"), lit(256L)).cast("int")
    val y = pmod(
      datediff(to_date(col("o_orderdate")), to_date(lit(EpochDate)))
        .cast("long"),
      lit(256L)).cast("int")
    orders
      .select(x.as("cx"), y.as("dy"))
      .withColumn("hkey",
        graft.functions.HilbertIndex.index(col("cx"), col("dy"), MortonBits))
      .groupBy(shiftright(col("hkey"), 6).as("h_block"))
      .agg(
        count(lit(1)).as("n_rows"),
        min("cx").cast("long").as("cust_min"),
        max("cx").cast("long").as("cust_max"),
        min("dy").cast("long").as("day_min"),
        max("dy").cast("long").as("day_max"))
  }

  /** Target output-file size for [[compactionPlan]] (1 MiB — sized to
    * the sf0.01 fixture; a real lake uses 128 MiB–1 GiB, the math is
    * scale-free).
    */
  val TargetFileBytes = 1L << 20

  /** Small-file compaction planner: per order month (the physical
    * partition key), estimate the partition's byte weight from fixed
    * column widths plus actual string lengths, and derive how many
    * target-size files a compaction rewrite should produce
    * (`ceil(bytes/target)` — by power-of-two shift, no float division)
    * and whether the partition is a small-file problem at all
    * (under half a target file). This is the planning query Delta's
    * OPTIMIZE runs before binpacking.
    */
  def compactionPlan(orders: DataFrame): DataFrame = {
    require((TargetFileBytes & (TargetFileBytes - 1)) == 0,
      "TargetFileBytes must be a power of two (ceil-div is a shift)")
    val shift = java.lang.Long.numberOfTrailingZeros(TargetFileBytes)
    // 8B each for orderkey/custkey/totalprice/orderdate + string payloads
    val rowBytes = lit(32L) +
      octet_length(col("o_orderstatus")).cast("long") +
      octet_length(col("o_orderpriority")).cast("long")
    orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_rows"), sum(rowBytes).as("est_bytes"))
      .select(col("month"), col("n_rows"), col("est_bytes"),
        shiftright(col("est_bytes") + lit(TargetFileBytes - 1), shift)
          .as("n_files"),
        (col("est_bytes") * 2L < lit(TargetFileBytes)).as("small_file"))
  }

  /** Shard fan-out for [[zonemapPrune]]'s what-if layouts. */
  val PruneShards = 64L

  /** Zone-map pruning what-if: the same orders table laid out two ways —
    * `bykey` (hash-ish: orderkey mod 64, the layout an unsorted ingest
    * produces) and `bydate` (date-clustered: day/40 buckets, the layout
    * a time-partitioned table produces) — each shard carrying its
    * min/max order-day zone map. A one-year predicate (1995) is then
    * evaluated against the zone maps alone: a shard is skippable iff
    * its [min,max] day range misses the predicate range entirely. The
    * output quantifies the layout choice: `bydate` skips nearly all
    * shards, `bykey` none, for identical `rows_matched` — the number a
    * table-format advisor shows before recommending a re-cluster.
    */
  def zonemapPrune(orders: DataFrame): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")), to_date(lit(EpochDate)))
      .cast("long")
    val base = orders.select(
      col("o_orderkey"), day.as("day"),
      datediff(to_date(lit("1995-01-01")), to_date(lit(EpochDate)))
        .cast("long").as("lo"),
      datediff(to_date(lit("1995-12-31")), to_date(lit(EpochDate)))
        .cast("long").as("hi"))
    def audit(label: String, shard: Column): DataFrame =
      base
        .groupBy(shard.as("shard"))
        .agg(count(lit(1)).as("n"), min("day").as("d_min"),
          max("day").as("d_max"), min("lo").as("lo"), max("hi").as("hi"),
          sum(when(col("day").between(col("lo"), col("hi")), 1L)
            .otherwise(0L)).as("n_match"))
        .withColumn("skipped",
          col("d_max") < col("lo") || col("d_min") > col("hi"))
        .groupBy(lit(label).as("layout"))
        .agg(
          count(lit(1)).as("n_shards"),
          sum(when(col("skipped"), 1L).otherwise(0L))
            .as("n_shards_skipped"),
          sum(when(col("skipped"), 0L).otherwise(col("n")))
            .as("rows_scanned"),
          sum("n_match").as("rows_matched"))
    audit("bykey", pmod(col("o_orderkey"), lit(PruneShards)))
      .unionAll(audit("bydate", floor(col("day") / lit(40.0)).cast("long")))
  }

  /** CLUSTERING DEPTH of the two [[zonemapPrune]] what-if layouts — the
    * Delta/Iceberg OPTIMIZE advisor metric: for each shard, how many
    * shards' key ranges overlap it (itself included). Depth 1 ⇔
    * perfectly clustered non-overlapping ranges (every point query
    * opens one file); depth ≈ n_shards ⇔ fully interleaved (zone maps
    * prune nothing). Where [[zonemapPrune]] scores ONE predicate, depth
    * scores the layout for ALL range predicates at once — the number
    * that justifies a re-cluster before any query runs.
    *
    * Scale shape: shard ranges are a fan-out-bounded aggregate (64
    * rows/layout — file-count-sized at any corpus size); the overlap
    * self-join and depth rollup ride that bounded table, never the
    * fact stream. Exact integers, one division for the average.
    */
  def clusteringDepth(orders: DataFrame): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")), to_date(lit(EpochDate)))
      .cast("long")
    val base = orders.select(col("o_orderkey"), day.as("day"))
    def shardRanges(label: String, shard: Column) =
      base.groupBy(shard.as("shard"))
        .agg(min("day").as("d_min"), max("day").as("d_max"))
        .select(lit(label).as("layout"), col("shard"), col("d_min"),
          col("d_max"))
    val ranges = shardRanges("bykey", pmod(col("o_orderkey"), lit(PruneShards)))
      .unionAll(shardRanges("bydate",
        floor(col("day") / lit(40.0)).cast("long")))
      .localCheckpoint()
    ranges.as("a")
      .join(ranges.as("b"),
        col("a.layout") === col("b.layout") &&
          col("a.d_min") <= col("b.d_max") &&
          col("b.d_min") <= col("a.d_max"))
      .groupBy(col("a.layout").as("layout"), col("a.shard").as("shard"))
      .agg(count(lit(1)).as("depth"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_shards"), max("depth").as("max_depth"),
        sum("depth").as("sum_depth"))
      .select(col("layout"), col("n_shards"), col("max_depth"),
        (col("sum_depth").cast("double") / col("n_shards").cast("double"))
          .as("avg_depth"))
  }

  /** Partition fan-out for [[rangePartitionPlan]] (16 — file-count
    * granularity for the fixture; a 100 TB table uses thousands, the
    * arithmetic is scale-free).
    */
  val RangeParts = 16L

  /** Range-partition planner: exact split boundaries for writing orders
    * as a day-range-partitioned (sorted) table — the planning pass behind
    * `repartitionByRange`/Iceberg sort orders, which at 100 TB is
    * normally driven by a sample sketch; this is the exact form run over
    * the pre-aggregated KEY DOMAIN, not the fact table.
    *
    * Shape: one keyed count collapses the fact table to its ~2.4k
    * distinct order-days (map-side combine), a cumulative sum over that
    * tiny domain assigns each day the partition of its first row
    * (`rows_before * P div N` — pure integer, no percentile spelling to
    * disagree on), and a second keyed agg audits the resulting layout:
    * each partition's key span, row count, and load factor vs the ideal
    * N/P. The single-partition ordered window runs over the day domain
    * only — the day-domain pre-agg pattern, never the fact stream.
    */
  def rangePartitionPlan(orders: DataFrame,
      parts: Long = RangeParts): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")), to_date(lit(EpochDate)))
      .cast("long")
    val perKey = orders.groupBy(day.as("day")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(Long.MinValue, 0)
    // grand total as a full-frame window over the SAME pre-aggregated
    // day domain — a separate perKey.agg() would re-scan the fact table
    // (plan audit: 2 parquet scans → 1)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    perKey
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("n_total", sum(col("n")).over(wAll))
      .withColumn("part_id",
        expr(s"((cum - n) * $parts) div n_total"))
      .groupBy("part_id")
      .agg(count(lit(1)).as("n_days"),
        min("day").as("day_min"), max("day").as("day_max"),
        sum("n").as("n_rows"), max("n_total").as("n_total"))
      .select(col("part_id"), col("n_days"), col("day_min"),
        col("day_max"), col("n_rows"),
        (col("n_rows").cast("double") * lit(parts.toDouble) /
          col("n_total").cast("double")).as("load_factor"))
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  /** Bloom bit-array size of [[bloomSkipAudit]] (per shard). */
  val BloomBits = 4096L
  /** Probe workload: every customer key divisible by this. */
  val BloomProbeModulus = 997L

  /** BLOOM-FILTER FILE-SKIPPING AUDIT — the EQUALITY companion of
    * [[zonemapPrune]]'s range story: the orders table sharded by month
    * (time-clustered files, the layout every warehouse lands in), point
    * lookups on `o_custkey` — a column month-clustering leaves fully
    * interleaved, so min/max zonemaps skip nothing. Parquet-style
    * per-file bloom filters fix that: this audit BUILDS each shard's
    * bloom (two multiplicative-hash positions per key into
    * [[BloomBits]] bits — k=2, the parquet split-block default's shape),
    * replays a deterministic probe workload (keys ≡ 0 mod
    * [[BloomProbeModulus]]) against every shard, and reports per shard:
    * probes, bloom passes, true presences, false positives, the SKIP
    * share (probes that never open the file) and the realized FP rate
    * against the m/n/k theory.
    *
    * Everything is exact set arithmetic — a bloom is the DISTINCT
    * (shard, bit) set, a probe passes iff ALL its bit rows match, both
    * engines hash the same integers — so the audit is hash-checkable.
    * The key domain is guarded like [[graft.ext.Corpus.portableHash]]
    * (u64 overflow would silently wrap in Spark and error in DuckDB).
    *
    * Scale shape: bloom build is one distinct over (shard, key) then a
    * narrow 2-row explode + distinct — partial aggregation absorbs the
    * fan-out; the probe side is probe-workload × shard-count sized
    * (shards are calendar-bounded), joined on the (shard, bit) key.
    * No corpus-sized join anywhere.
    */
  def bloomSkipAudit(orders: DataFrame, bits: Long = BloomBits,
      probeModulus: Long = BloomProbeModulus): DataFrame = {
    val maxId = Long.MaxValue / 2654435761L
    def guard(c: Column) = when(c.between(0L, maxId), c)
      .otherwise(raise_error(lit(
        s"bloomSkipAudit: key outside hash domain [0, $maxId]")))
    def bitPos(c: Column, mult: Long): Column =
      pmod((guard(c) * mult) % 4294967296L, lit(bits))
    def positions(c: Column): Column =
      array(bitPos(c, 2654435761L), bitPos(c, 2246822519L))
    val ks = orders.select(
        date_format(col("o_orderdate"), "yyyy-MM").as("shard"),
        col("o_custkey").as("k"))
      .distinct()
    val bloom = ks
      .select(col("shard"), explode(positions(col("k"))).as("pos"))
      .distinct()
    val probes = orders.select(col("o_custkey").as("k")).distinct()
      .filter(col("k") % probeModulus === 0)
    val shards = ks.select("shard").distinct()
    val ppos = probes.crossJoin(broadcast(shards))
      .select(col("k"), col("shard"), explode(positions(col("k"))).as("pos"))
    val hits = ppos.join(
        bloom.select(col("shard").as("bs"), col("pos").as("bp")),
        col("shard") === col("bs") && col("pos") === col("bp"), "left")
      .groupBy("k", "shard")
      .agg(count(lit(1)).as("n_pos"),
        sum(when(col("bp").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("k"), col("shard"),
        when(col("n_hit") === col("n_pos"), 1L).otherwise(0L).as("m"))
    val truth = ks.filter(col("k") % probeModulus === 0)
      .select(col("k").as("tk"), col("shard").as("ts"), lit(1L).as("t"))
    val agg = hits.join(truth,
        col("k") === col("tk") && col("shard") === col("ts"), "left")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_probes"), sum("m").as("n_maybe"),
        sum(coalesce(col("t"), lit(0L))).as("n_true"))
    agg.select(col("shard"), col("n_probes"), col("n_maybe"), col("n_true"),
      (col("n_maybe") - col("n_true")).as("n_false_pos"),
      ((col("n_probes") - col("n_maybe")).cast("double") /
        col("n_probes").cast("double")).as("skip_share"),
      when(col("n_probes") - col("n_true") === 0L, lit(null).cast("double"))
        .otherwise((col("n_maybe") - col("n_true")).cast("double") /
          (col("n_probes") - col("n_true")).cast("double")).as("fp_rate"))
  }

  /** Broadcast-eligibility threshold (Spark's default
    * `spark.sql.autoBroadcastJoinThreshold`).
    */
  val BroadcastThresholdBytes = 10L * 1024 * 1024

  /** BROADCAST-JOIN ADVISOR over the dimension tables — the planning
    * audit behind every `broadcast()` hint in this engine: per dim,
    * EXACT data bytes (fixed-width columns at their storage width plus
    * the exact summed string lengths — not a sampled estimate), and the
    * eligibility verdict against [[BroadcastThresholdBytes]] decided by
    * integer compare. At 100 TB this is the table that says which
    * side of each star join ships to executors and which must shuffle —
    * and because it is computed AS A QUERY, it re-evaluates as dims
    * grow (the failure mode of a hardcoded hint list).
    *
    * One partial-merging aggregate per dim (count + string-length
    * sums); the per-row fixed widths are the schema contract, shared
    * with the twin via the same constants.
    */
  /** Per-dim byte-accounting constants shared by [[broadcastAdvisor]],
    * [[advisedBroadcast]] callers, and the LayoutSpec drift assertion —
    * fixed-width column bytes at storage width, plus the string columns
    * whose exact lengths the audit sums.
    */
  val DimWidths: Seq[(String, Long, Seq[String])] = Seq(
    ("region", 4L, Seq("r_name")),
    ("nation", 8L, Seq("n_name")),
    ("customer", 20L, Seq("c_name", "c_mktsegment")),
    ("supplier", 20L, Seq("s_name")),
    ("part", 20L, Seq("p_name", "p_brand", "p_type")))

  /** The ONE exact-bytes aggregate both the advisor report and the
    * [[advisedBroadcast]] planning hook run — shared so the report and
    * the executed plans cannot drift: count plus exact summed string
    * lengths (empty string set → 0, empty table → 0).
    */
  private def exactBytesAgg(df: DataFrame, strCols: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
      coalesce(strCols.map(c => sum(length(col(c)).cast("long")))
        .reduceOption(_ + _).getOrElse(lit(0L)).cast("long"), lit(0L))
        .as("str_bytes"))

  /** THE PLANNING HOOK: tag `df` with `broadcast()` iff its EXACT bytes
    * (the [[broadcastAdvisor]] formula, same aggregate) fit under the
    * threshold; return it untagged otherwise, letting the join shuffle.
    * Costs one planning-time aggregate scan of the dim — the exact
    * analog of AQE's runtime size statistics, paid on the SMALL side
    * only, which is what makes a hardcoded-hint list safe to delete:
    * a dim that grows past 10 MiB at some SF silently flips from
    * broadcast to shuffle instead of OOMing every executor.
    *
    * The byte estimate is MEMOIZED per (session, analyzed-plan
    * semantic hash, width spec) — r17 advice: with silver_part and
    * gold_region_shares routed through this hook, every construction
    * of those frames was re-running the blocking driver-side scan;
    * now only the first construction in a session pays it. The
    * documented staleness window: a dim rewritten IN PLACE mid-session
    * keeps its old verdict until a new session (the same window Spark's
    * own relation statistics have); fixture regeneration between
    * driver runs always starts a fresh session.
    */
  private val advisedBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  // Stable per-session token, NOT identityHashCode (r18 advice): identity
  // hashes can be reused after a session is GC'd in the same JVM, and a
  // path-scan plan's semanticHash is stable across sessions, so a
  // regenerated fixture read in a later session could reuse a stale byte
  // verdict. A WeakHashMap keyed on the session object issues each LIVE
  // session one UUID; a dead session's entry vanishes with it, so an
  // identity-reused successor always draws a fresh token.
  private val sessionToken =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())

  def advisedBroadcast(df: DataFrame, fixed: Long,
      strCols: Seq[String] = Nil,
      thresholdBytes: Long = BroadcastThresholdBytes): DataFrame = {
    val tok = sessionToken.computeIfAbsent(df.sparkSession,
      _ => java.util.UUID.randomUUID().toString)
    val key = s"$tok:" +
      s"${df.queryExecution.analyzed.semanticHash()}:$fixed:" +
      strCols.mkString(",")
    if (advisedBytesCache.size() > 4096) advisedBytesCache.clear()
    val bytes = advisedBytesCache.computeIfAbsent(key, _ => {
      val r = exactBytesAgg(df, strCols).collect()(0)
      r.getLong(0) * fixed + r.getLong(1)
    })
    if (bytes <= thresholdBytes) broadcast(df) else df
  }

  def broadcastAdvisor(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(name: String, df: DataFrame, fixed: Long,
        strCols: Seq[String]): DataFrame =
      exactBytesAgg(df, strCols)
        .select(lit(name).as("table_name"), col("n_rows"),
          (col("n_rows") * fixed).as("fixed_bytes"), col("str_bytes"),
          (col("n_rows") * fixed + col("str_bytes")).as("est_bytes"),
          ((col("n_rows") * fixed + col("str_bytes")).cast("double") /
            lit(BroadcastThresholdBytes.toDouble)).as("threshold_share"),
          when(col("n_rows") * fixed + col("str_bytes") <=
            BroadcastThresholdBytes, 1L).otherwise(0L).as("broadcast_ok"))
    def table(name: String): DataFrame = name match {
      case "region"   => Tables.region(spark, sfDir)
      case "nation"   => Tables.nation(spark, sfDir)
      case "customer" => Tables.customer(spark, sfDir)
      case "supplier" => Tables.supplier(spark, sfDir)
      case "part"     => Tables.part(spark, sfDir)
    }
    DimWidths.map { case (n, w, sc) => audit(n, table(n), w, sc) }
      .reduce(_ unionAll _)
  }

  /** Join-size estimator audit (the Selinger/System-R uniformity rule
    * every cost-based optimizer starts from): for each audited join,
    * `est = n_left · n_right / max(d_left, d_right)` from EXACT row and
    * distinct-key counts, next to the EXACT join cardinality — the
    * calibration readout that says how far the uniformity assumption is
    * from THIS data before anyone trusts it to pick join orders. On the
    * three PK–FK joins the assumption holds exactly (err_ratio = 1 —
    * asserted in LayoutSpec); the skewed status SELF-join is the arm
    * that shows a real miss (Σ c_k² > n²/|statuses| whenever the status
    * mix is unbalanced).
    *
    * The ground truth is NOT a materialized join: |A ⋈ B| =
    * Σ_k cnt_A(k)·cnt_B(k), computed from the two per-key count tables
    * — distinct-key-sized work even when the join output would be
    * quadratic (the status self-join at sf0.1 would materialize ~1.2e8
    * rows; the formula touches 3). Products ride decimal(38,0) (the
    * twin multiplies HUGEINT), the estimate is one IEEE division, and
    * `err_ratio = actual/est` one more division of identical doubles.
    *
    * Scale shape: one keyed count aggregate per side, a distinct-key-
    * sized equi-join, two single-row reductions — nothing output-sized.
    */
  def joinCardinalityAudit(spark: SparkSession, sfDir: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    def arm(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val lc = left.groupBy(col(lk).as("k")).agg(count(lit(1)).as("cl"))
      val rc = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("cr"))
      val ls = lc.agg(sum("cl").as("n_left"), count(lit(1)).as("d_left"))
      val rs = rc.agg(sum("cr").as("n_right"), count(lit(1)).as("d_right"))
      val act = lc.join(rc, "k")
        .agg(coalesce(sum(d38(col("cl")) * d38(col("cr"))),
          lit(0).cast("decimal(38,0)")).cast("long").as("actual_rows"))
      ls.crossJoin(broadcast(rs)).crossJoin(broadcast(act))
        .select(lit(name).as("join_name"),
          col("n_left"), col("d_left"), col("n_right"), col("d_right"),
          col("actual_rows"),
          ((d38(col("n_left")) * d38(col("n_right"))).cast("double") /
            greatest(col("d_left"), col("d_right")).cast("double"))
            .as("est_rows"))
        .withColumn("err_ratio",
          col("actual_rows").cast("double") / col("est_rows"))
    }
    arm("lineitem_orders", Tables.lineitem(spark, sfDir), "l_orderkey",
        Tables.orders(spark, sfDir), "o_orderkey")
      .unionAll(arm("lineitem_part", Tables.lineitem(spark, sfDir),
        "l_partkey", Tables.part(spark, sfDir), "p_partkey"))
      .unionAll(arm("orders_customer", Tables.orders(spark, sfDir),
        "o_custkey", Tables.customer(spark, sfDir), "c_custkey"))
      .unionAll(arm("orders_status_self", Tables.orders(spark, sfDir),
        "o_orderstatus", Tables.orders(spark, sfDir), "o_orderstatus"))
  }

  /** Equi-width bucket size (cents) of [[selectivityAudit]]'s histogram
    * — the agg_histogram grid (25 k dollars × 20 buckets, last open).
    */
  val SelBucketCents = 2500000L

  /** Range predicates audited by [[selectivityAudit]], as [lo, hi) cent
    * bounds. All sit below the open-ended last bucket (47.5 M cents) so
    * every estimate interpolates over closed buckets only.
    */
  val SelPredicates: Seq[(Long, Long)] = Seq(
    (1234500L, 4321100L),     // narrow, off-boundary
    (5000000L, 20000000L),    // medium, bucket-aligned
    (33300L, 44400000L))      // wide, off-boundary both ends

  /** Histogram range-selectivity audit — the second half of the cost
    * model next to [[joinCardinalityAudit]]: an equi-width histogram
    * (exact per-bucket counts) estimates each [lo, hi) predicate's
    * cardinality with linear within-bucket interpolation, next to the
    * exact count. The interpolation is EXACT rational arithmetic with
    * the common denominator pulled out: every bucket contributes
    * `count · overlap_cents` (decimal(38,0) — counts and overlaps are
    * exact longs), and `est = Σ / bucket_width` is the single IEEE
    * division; `err_ratio` is one more division of identical doubles.
    *
    * Scale shape: one scan builds the 20-row histogram (map-side
    * partials absorb everything), the predicate×bucket grid is
    * 3×20 literal rows, and the exact counts ride one conditional
    * aggregate over the same scan — no shuffle wider than the grid.
    */
  def selectivityAudit(ord: DataFrame): DataFrame = {
    val pc = ord.select(
      round(col("o_totalprice") * 100).cast("long").as("pc"))
    val hist = pc
      .select(least(expr(s"pc div $SelBucketCents"), lit(19L))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val spark = ord.sparkSession
    import spark.implicits._
    val preds = SelPredicates.toDF("lo_cents", "hi_cents")
    val est = preds.crossJoin(broadcast(hist))
      .withColumn("ov", greatest(lit(0L),
        least(col("hi_cents"), (col("bucket") + 1) * SelBucketCents) -
          greatest(col("lo_cents"), col("bucket") * SelBucketCents)))
      .groupBy("lo_cents", "hi_cents")
      .agg(sum(col("cnt").cast("decimal(38,0)") *
          col("ov").cast("decimal(38,0)"))
        .as("contrib"))
      .select(col("lo_cents"), col("hi_cents"),
        (col("contrib").cast("double") / lit(SelBucketCents.toDouble))
          .as("est_rows"))
    val act = pc.join(broadcast(preds),
        col("pc") >= col("lo_cents") && col("pc") < col("hi_cents"))
      .groupBy("lo_cents", "hi_cents")
      .agg(count(lit(1)).as("actual_rows"))
    est.join(act, Seq("lo_cents", "hi_cents"), "left")
      .select(col("lo_cents"), col("hi_cents"), col("est_rows"),
        coalesce(col("actual_rows"), lit(0L)).as("actual_rows"))
      .withColumn("err_ratio",
        when(col("actual_rows") === 0L, lit(null).cast("double"))
          .otherwise(col("est_rows") / col("actual_rows").cast("double")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder" -> ((s, d) => zorderBlocks(Tables.orders(s, d))),
    "layout_bloom_skip" -> ((s, d) => bloomSkipAudit(Tables.orders(s, d))),
    "plan_broadcast_advisor" -> (broadcastAdvisor(_, _)),
    "layout_hilbert" -> ((s, d) => hilbertBlocks(Tables.orders(s, d))),
    "layout_compaction" -> ((s, d) => compactionPlan(Tables.orders(s, d))),
    "layout_zonemap_prune" -> ((s, d) => zonemapPrune(Tables.orders(s, d))),
    "layout_clustering_depth" -> ((s, d) =>
      clusteringDepth(Tables.orders(s, d))),
    "layout_range_plan" -> ((s, d) =>
      rangePartitionPlan(Tables.orders(s, d))),
    "plan_join_cardinality" -> (joinCardinalityAudit(_, _)),
    "plan_selectivity_audit" -> ((s, d) =>
      selectivityAudit(Tables.orders(s, d))),
  )

  /** DuckDB twins — same grid math, bit ops spelled with `//`/`%`/`<<`
    * inside a list comprehension (DuckDB's portable form of the
    * shift/mask fold).
    */
  def oracleSql: Map[String, String] = Map(
    "plan_join_cardinality" -> {
      def arm(name: String, left: String, lk: String, right: String,
          rk: String) =
        s"""SELECT '$name' AS join_name, n_left, d_left, n_right,
           |       d_right, actual_rows,
           |       CAST(CAST(n_left AS HUGEINT) * n_right AS DOUBLE)
           |         / CAST(greatest(d_left, d_right) AS DOUBLE)
           |           AS est_rows,
           |       CAST(actual_rows AS DOUBLE)
           |         / (CAST(CAST(n_left AS HUGEINT) * n_right
           |                 AS DOUBLE)
           |            / CAST(greatest(d_left, d_right) AS DOUBLE))
           |           AS err_ratio
           |FROM (
           |  WITH lc AS (SELECT $lk AS k, count(*) AS cl FROM $left
           |              GROUP BY 1),
           |       rc AS (SELECT $rk AS k, count(*) AS cr FROM $right
           |              GROUP BY 1)
           |  SELECT
           |    (SELECT CAST(sum(cl) AS BIGINT) FROM lc) AS n_left,
           |    (SELECT count(*) FROM lc) AS d_left,
           |    (SELECT CAST(sum(cr) AS BIGINT) FROM rc) AS n_right,
           |    (SELECT count(*) FROM rc) AS d_right,
           |    (SELECT CAST(coalesce(sum(CAST(cl AS HUGEINT) * cr), 0)
           |            AS BIGINT)
           |     FROM lc JOIN rc USING (k)) AS actual_rows)""".stripMargin
      Seq(
        arm("lineitem_orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        arm("lineitem_part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        arm("orders_customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        arm("orders_status_self", "orders", "o_orderstatus",
          "orders", "o_orderstatus")).mkString("\nUNION ALL\n")
    },
    "plan_selectivity_audit" -> {
      val w = SelBucketCents
      val predRows = SelPredicates
        .map { case (lo, hi) => s"($lo, $hi)" }.mkString(", ")
      s"""WITH pc AS (
         |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc
         |  FROM orders),
         |hist AS (
         |  SELECT least(pc // $w, 19) AS bucket, count(*) AS cnt
         |  FROM pc GROUP BY 1),
         |preds(lo_cents, hi_cents) AS (VALUES $predRows),
         |est AS (
         |  SELECT lo_cents, hi_cents,
         |         CAST(sum(CAST(cnt AS HUGEINT) *
         |             greatest(0, least(hi_cents, (bucket + 1) * $w)
         |                         - greatest(lo_cents, bucket * $w)))
         |           AS DOUBLE) / CAST($w AS DOUBLE) AS est_rows
         |  FROM preds, hist GROUP BY 1, 2),
         |act AS (
         |  SELECT lo_cents, hi_cents,
         |         CAST(count(pc.pc) AS BIGINT) AS actual_rows
         |  FROM preds LEFT JOIN pc
         |    ON pc.pc >= lo_cents AND pc.pc < hi_cents
         |  GROUP BY 1, 2)
         |SELECT e.lo_cents, e.hi_cents, e.est_rows, a.actual_rows,
         |       CASE WHEN a.actual_rows = 0 THEN NULL
         |            ELSE e.est_rows / CAST(a.actual_rows AS DOUBLE)
         |            END AS err_ratio
         |FROM est e JOIN act a USING (lo_cents, hi_cents)""".stripMargin
    },
    "plan_broadcast_advisor" -> {
      val thr = BroadcastThresholdBytes
      def arm(name: String, fixed: Long, strSum: String) =
        s"""SELECT '$name' AS table_name, count(*) AS n_rows,
           |       CAST(count(*) * $fixed AS BIGINT) AS fixed_bytes,
           |       CAST($strSum AS BIGINT) AS str_bytes,
           |       CAST(count(*) * $fixed + $strSum AS BIGINT)
           |         AS est_bytes,
           |       CAST(count(*) * $fixed + $strSum AS DOUBLE)
           |         / CAST($thr AS DOUBLE) AS threshold_share,
           |       CAST(CASE WHEN count(*) * $fixed + $strSum <= $thr
           |                 THEN 1 ELSE 0 END AS BIGINT) AS broadcast_ok
           |FROM $name""".stripMargin
      Seq(
        arm("region", 4L, "sum(length(r_name))"),
        arm("nation", 8L, "sum(length(n_name))"),
        arm("customer", 20L,
          "sum(length(c_name) + length(c_mktsegment))"),
        arm("supplier", 20L, "sum(length(s_name))"),
        arm("part", 20L,
          "sum(length(p_name) + length(p_brand) + length(p_type))"))
        .mkString("\nUNION ALL\n")
    },
    "layout_bloom_skip" -> {
      val b = BloomBits
      val m = BloomProbeModulus
      s"""WITH ks AS (
         |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS shard,
         |         o_custkey AS k
         |  FROM orders),
         |bloom AS (
         |  SELECT DISTINCT shard, pos FROM (
         |    SELECT shard, (k * 2654435761) % 4294967296 % $b AS pos
         |    FROM ks
         |    UNION ALL
         |    SELECT shard, (k * 2246822519) % 4294967296 % $b FROM ks)),
         |probes AS (
         |  SELECT DISTINCT o_custkey AS k FROM orders
         |  WHERE o_custkey % $m = 0),
         |shards AS (SELECT DISTINCT shard FROM ks),
         |ppos AS (
         |  SELECT k, shard, (k * 2654435761) % 4294967296 % $b AS pos
         |  FROM probes CROSS JOIN shards
         |  UNION ALL
         |  SELECT k, shard, (k * 2246822519) % 4294967296 % $b
         |  FROM probes CROSS JOIN shards),
         |hits AS (
         |  SELECT ppos.k, ppos.shard, count(*) AS n_pos,
         |         CAST(sum(CASE WHEN bl.pos IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_hit
         |  FROM ppos LEFT JOIN bloom bl
         |    ON ppos.shard = bl.shard AND ppos.pos = bl.pos
         |  GROUP BY 1, 2),
         |mb AS (
         |  SELECT k, shard,
         |         CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END AS m
         |  FROM hits),
         |truth AS (
         |  SELECT k, shard, 1 AS t FROM ks WHERE k % $m = 0),
         |agg AS (
         |  SELECT mb.shard, count(*) AS n_probes,
         |         CAST(sum(mb.m) AS BIGINT) AS n_maybe,
         |         CAST(sum(coalesce(truth.t, 0)) AS BIGINT) AS n_true
         |  FROM mb LEFT JOIN truth
         |    ON mb.k = truth.k AND mb.shard = truth.shard
         |  GROUP BY 1)
         |SELECT shard, n_probes, n_maybe, n_true,
         |       n_maybe - n_true AS n_false_pos,
         |       CAST(n_probes - n_maybe AS DOUBLE) / CAST(n_probes AS DOUBLE)
         |         AS skip_share,
         |       CASE WHEN n_probes - n_true = 0 THEN NULL
         |            ELSE CAST(n_maybe - n_true AS DOUBLE) /
         |                 CAST(n_probes - n_true AS DOUBLE) END AS fp_rate
         |FROM agg""".stripMargin
    },
    "layout_range_plan" ->
      s"""WITH pk AS (
         |  SELECT datediff('day', DATE '1992-01-01',
         |                  CAST(o_orderdate AS DATE)) AS day,
         |         count(*) AS n
         |  FROM orders GROUP BY 1),
         |c AS (
         |  SELECT day, n,
         |         sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
         |                      PRECEDING AND CURRENT ROW) AS cum,
         |         sum(n) OVER () AS n_total
         |  FROM pk),
         |p AS (
         |  SELECT *, ((cum - n) * $RangeParts) // n_total AS part_id
         |  FROM c)
         |SELECT CAST(part_id AS BIGINT) AS part_id,
         |       count(*) AS n_days,
         |       CAST(min(day) AS BIGINT) AS day_min,
         |       CAST(max(day) AS BIGINT) AS day_max,
         |       CAST(sum(n) AS BIGINT) AS n_rows,
         |       CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) * ${RangeParts}.0
         |         / CAST(max(n_total) AS DOUBLE) AS load_factor
         |FROM p GROUP BY 1""".stripMargin,
    "layout_hilbert" -> {
      // sign-safe bit test: reflection steps drive intermediates
      // negative, where Java's `(x & s) > 0` reads the two's-complement
      // low bits — `((x % 2s) + 2s) % 2s >= s` is the portable
      // equivalent for either sign ((x // s) % 2 is NOT)
      def bit(v: String, s: Int): String = {
        val m = 2 * s
        s"CASE WHEN (($v % $m) + $m) % $m >= $s THEN 1 ELSE 0 END"
      }
      val stages = (0 until MortonBits).map { i =>
        val s = 1 << (MortonBits - 1 - i)
        val (p, n) = (i, i + 1)
        val (rx, ry) = (bit(s"x$p", s), bit(s"y$p", s))
        s"""h$n AS (
           |  SELECT cx, dy,
           |    CASE WHEN $ry = 0 THEN
           |      CASE WHEN $rx = 1 THEN $s - 1 - y$p ELSE y$p END
           |    ELSE x$p END AS x$n,
           |    CASE WHEN $ry = 0 THEN
           |      CASE WHEN $rx = 1 THEN $s - 1 - x$p ELSE x$p END
           |    ELSE y$p END AS y$n,
           |    d$p + ${s * s} * xor(3 * $rx, $ry) AS d$n
           |  FROM h$p)""".stripMargin
      }.mkString(",\n")
      s"""WITH h0 AS (
         |  SELECT cx, dy, cx AS x0, dy AS y0, 0 AS d0 FROM (
         |    SELECT o_custkey % 256 AS cx,
         |           datediff('day', DATE '1992-01-01',
         |                    CAST(o_orderdate AS DATE)) % 256 AS dy
         |    FROM orders)),
         |$stages
         |SELECT CAST(d$MortonBits // 64 AS BIGINT) AS h_block,
         |       count(*) AS n_rows,
         |       CAST(min(cx) AS BIGINT) AS cust_min,
         |       CAST(max(cx) AS BIGINT) AS cust_max,
         |       CAST(min(dy) AS BIGINT) AS day_min,
         |       CAST(max(dy) AS BIGINT) AS day_max
         |FROM h$MortonBits GROUP BY 1""".stripMargin
    },
    "layout_zorder" ->
      """WITH g AS (
        |  SELECT o_custkey % 256 AS cx,
        |         datediff('day', DATE '1992-01-01',
        |                  CAST(o_orderdate AS DATE)) % 256 AS dy
        |  FROM orders),
        |z AS (
        |  SELECT cx, dy,
        |         list_sum([((cx // (1 << i)) % 2) * (1 << (2 * i)) +
        |                   ((dy // (1 << i)) % 2) * (1 << (2 * i + 1))
        |                   for i in range(8)]) AS zkey
        |  FROM g)
        |SELECT CAST(zkey // 64 AS BIGINT) AS z_block,
        |       count(*) AS n_rows,
        |       CAST(min(cx) AS BIGINT) AS cust_min,
        |       CAST(max(cx) AS BIGINT) AS cust_max,
        |       CAST(min(dy) AS BIGINT) AS day_min,
        |       CAST(max(dy) AS BIGINT) AS day_max
        |FROM z GROUP BY 1""".stripMargin,
    "layout_compaction" ->
      """WITH m AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         count(*) AS n_rows,
        |         CAST(sum(32 + octet_length(encode(o_orderstatus))
        |                     + octet_length(encode(o_orderpriority)))
        |              AS BIGINT) AS est_bytes
        |  FROM orders GROUP BY 1)
        |SELECT month, n_rows, est_bytes,
        |       (est_bytes + 1048575) // 1048576 AS n_files,
        |       est_bytes * 2 < 1048576 AS small_file
        |FROM m""".stripMargin,
    "layout_clustering_depth" ->
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |         CAST(datediff('day', DATE '$EpochDate',
         |                  CAST(o_orderdate AS DATE)) AS BIGINT) AS day
         |  FROM orders),
         |rng AS (
         |  SELECT 'bykey' AS layout, o_orderkey % $PruneShards AS shard,
         |         min(day) AS d_min, max(day) AS d_max
         |  FROM base GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'bydate' AS layout,
         |         CAST(floor(day / 40.0) AS BIGINT) AS shard,
         |         min(day) AS d_min, max(day) AS d_max
         |  FROM base GROUP BY 1, 2),
         |dep AS (
         |  SELECT a.layout, a.shard, count(*) AS depth
         |  FROM rng a JOIN rng b
         |    ON a.layout = b.layout
         |   AND a.d_min <= b.d_max AND b.d_min <= a.d_max
         |  GROUP BY 1, 2)
         |SELECT layout, count(*) AS n_shards,
         |       CAST(max(depth) AS BIGINT) AS max_depth,
         |       CAST(CAST(sum(depth) AS BIGINT) AS DOUBLE) /
         |         CAST(count(*) AS DOUBLE) AS avg_depth
         |FROM dep GROUP BY 1""".stripMargin,
    "layout_zonemap_prune" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |         datediff('day', DATE '1992-01-01',
        |                  CAST(o_orderdate AS DATE)) AS day,
        |         datediff('day', DATE '1992-01-01',
        |                  DATE '1995-01-01') AS lo,
        |         datediff('day', DATE '1992-01-01',
        |                  DATE '1995-12-31') AS hi
        |  FROM orders),
        |sh AS (
        |  SELECT 'bykey' AS layout, o_orderkey % 64 AS shard, *
        |  FROM base
        |  UNION ALL
        |  SELECT 'bydate' AS layout,
        |         CAST(floor(day / 40.0) AS BIGINT) AS shard, *
        |  FROM base),
        |zm AS (
        |  SELECT layout, shard, count(*) AS n,
        |         min(day) AS d_min, max(day) AS d_max,
        |         min(lo) AS lo, max(hi) AS hi,
        |         sum(CASE WHEN day BETWEEN lo AND hi THEN 1 ELSE 0 END)
        |           AS n_match
        |  FROM sh GROUP BY 1, 2)
        |SELECT layout,
        |       count(*) AS n_shards,
        |       CAST(sum(CASE WHEN d_max < lo OR d_min > hi
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_shards_skipped,
        |       CAST(sum(CASE WHEN d_max < lo OR d_min > hi
        |                     THEN 0 ELSE n END) AS BIGINT) AS rows_scanned,
        |       CAST(sum(n_match) AS BIGINT) AS rows_matched
        |FROM zm GROUP BY 1""".stripMargin,
  )
}
