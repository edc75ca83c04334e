package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Graph centrality over relational co-occurrence graphs.
  *
  * The reference has no graph operators (its DAG is orchestration, not
  * data — `dags/dag.py`), but a training-data engine needs link analysis
  * for corpus curation (domain ranking a la Common Crawl's harmonic
  * centrality) and product graphs. This module builds a co-purchase
  * graph from `lineitem` (two parts are linked when they appear in the
  * same order) and ranks nodes with PageRank.
  *
  * Determinism: the power iteration runs in FIXED-POINT integer
  * arithmetic (rank mass scaled by [[Scale]], integer division at every
  * step). Floating-point PageRank is not reproducible across engines —
  * the per-node Σ contrib is an unordered double sum — while integer
  * sums are associative-commutative exactly, so the DuckDB oracle twin
  * (same unrolled iterations in BIGINT) hash-matches bit-for-bit. The
  * deliberate cost is ≤`iterations × n` units of truncated rank mass
  * (1 unit = 1e-12 of total), irrelevant for ranking.
  *
  * Scale shape (100 TB): the pair-explosion self-join shuffles on
  * `l_orderkey` whose fan-out is bounded by order size (TPC-H ≤ 7
  * items; a real catalog would cap items-per-order before pairing —
  * [[coPurchaseEdges]] takes `maxOrderItems` for exactly that guard).
  * Each iteration is one shuffle join (edges ⋈ ranks on src) plus one
  * shuffle agg (groupBy dst) — the canonical distributed PageRank
  * shape; ranks are `localCheckpoint`ed per iteration so the plan stays
  * O(1) deep, with superseded checkpoint blocks released eagerly
  * (same discipline as [[Components.connectedComponents]]).
  */
object Graph {

  /** Rank mass is scaled by 1e12: enough resolution that 3–20 iterations
    * of truncation never reorder ranks, small enough that 85×mass stays
    * far from Long overflow.
    */
  val Scale: Long = 1000000000000L

  /** Undirected co-purchase edges: distinct (part, part') pairs sharing
    * an order, both directions, self-pairs excluded. `maxOrderItems`
    * drops pathological mega-orders before the quadratic pair step —
    * the skew guard a 100 TB run needs (a single 10k-item order would
    * otherwise emit 1e8 pairs into one reducer).
    *
    * Plan shape: ONE shuffle on the order key builds each order's
    * distinct item set (`collect_set` dedups in the aggregate, so the
    * separate distinct pass the old window+self-join form needed is
    * folded in); each UNORDERED pair is then enumerated exactly once
    * (ordered combinations over the sorted set — r19: the r6–r18
    * src×dst double-explode emitted every pair twice and shuffled both
    * copies through the distinct), the only other exchange is the
    * final distinct on the half volume, and the mirror to both
    * directions is a narrow post-distinct explode. Same output set,
    * half the distinct's shuffle bytes at any SF. Per-order set size
    * is bounded by `maxOrderItems` BEFORE the explode, so no task ever
    * materializes a mega-order's quadratic fan-out.
    */
  def coPurchaseEdges(lineitem: DataFrame, maxOrderItems: Int = 1000): DataFrame = {
    lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("pks"))
      .filter(size(col("pks")) <= maxOrderItems && size(col("pks")) > 1)
      // r20: compiled pair enumeration (graft.functions.OrderedPairs) —
      // the interpreted flatten(transform(slice...)) stack ran in the
      // edge-build stage every graph query pays; same structs, same order
      .select(explode(graft.functions.OrderedPairs.of(
        col("pks"), "src", "dst")).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .distinct()
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** Fixed-point PageRank with damping 0.85 over a directed edge list.
    * Input edges must cover every node as a `src` (true for undirected
    * graphs emitted both ways); rank unit = [[Scale]]/n total mass.
    *
    * The one driver-side action is `deg.count()` (node count — a scalar
    * needed to seed uniform mass; metadata-sized at any SF).
    */
  def pagerank(edgesIn: DataFrame, iterations: Int = 3): DataFrame = {
    // materialize the edge list ONCE: every iteration re-reads it, and
    // without this the (possibly expensive) edge derivation — here a
    // pair-explosion self-join + distinct — would re-execute per
    // iteration (measured 3x the whole query's cost at sf0.1)
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val deg = graft.CheckpointLease.track(
      edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("outdeg"))
        .localCheckpoint()) // eager: reused every iteration, cut off the scan
    val n = deg.count()
    require(n > 0, "pagerank: empty graph")
    val teleport = Scale * 15L / (100L * n)
    // ranks is node-count-sized: under the gate it broadcasts into the
    // edge join, so each iteration scans the checkpointed edge list
    // in place (no per-iteration re-exchange of E rows on src) and the
    // only shuffle left is the dst-keyed contribution agg
    val bcRanks = n <= NodeBroadcastMaxRows
    var ranks = deg.withColumn("r", lit(Scale / n))
    for (_ <- 1 to iterations) {
      val contrib =
        ranks.select(col("node").as("src"), expr("r div outdeg").as("c"))
      val contribs = edges
        .join(if (bcRanks) broadcast(contrib) else contrib, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum("c").as("csum"))
      // lazy checkpoint: materializes (and caches) when the consuming
      // action runs through it; every iteration's blocks are leased and
      // released together after that action (node-count-sized frames, so
      // holding O(iterations) of them is cheap — unlike Components, no
      // per-iteration driver action is needed here because the iteration
      // count is fixed, not convergence-tested)
      ranks = graft.CheckpointLease.track(
        deg.join(contribs, Seq("node"), "left")
          .select(col("node"), col("outdeg"),
            (lit(teleport) +
              expr("(85 * coalesce(csum, 0L)) div 100")).as("r"))
          .localCheckpoint(false))
    }
    ranks.select(col("node").as("part_node"), col("r").as("rank_scaled"))
  }

  /** Seed-set size for [[personalizedPagerank]]'s registered query. */
  val PprSeedCount = 8

  /** PERSONALIZED PAGERANK (random walk with restart) — the seeded
    * variant of [[pagerank]]: teleport mass returns to a SEED SET
    * instead of spreading uniformly, so ranks measure proximity to the
    * seeds (the curation use: "find everything related to these
    * products/domains"). Seeds are the `seedCount` highest-degree
    * nodes, ties to the smallest node id — a deterministic,
    * cross-engine-replayable anchor (global top-k = TakeOrdered, no
    * sort of the full node set).
    *
    * Same fixed-point integer contract as [[pagerank]]: rank mass
    * scaled by [[Scale]], floor division per step, so the unrolled
    * BIGINT twin hash-matches bit-for-bit. Initial mass `Scale/|S|` on
    * each seed, zero elsewhere; per-step
    * `r' = (seed ? Scale·15/(100·|S|) : 0) + (85·Σ contrib) div 100`.
    *
    * Scale shape: identical per-iteration plan to [[pagerank]] (one
    * broadcast-gated edge⋈ranks join + one dst-keyed partial-merging
    * aggregate); the extra seed join broadcasts a `seedCount`-row
    * table. Nodes the walk hasn't reached keep rank 0 and stay in the
    * output (the zero/nonzero split IS the result).
    */
  def personalizedPagerank(edgesIn: DataFrame, iterations: Int = 3,
      seedCount: Int = PprSeedCount): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val deg = graft.CheckpointLease.track(
      edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("outdeg"))
        .localCheckpoint())
    val n = deg.count()
    require(n > 0, "personalizedPagerank: empty graph")
    val s = math.min(seedCount.toLong, n)
    val seeds = broadcast(graft.CheckpointLease.track(
      deg.orderBy(col("outdeg").desc, col("node")).limit(seedCount)
        .select(col("node"), lit(1L).as("seed_flag"))
        .localCheckpoint()))
    val teleport = Scale * 15L / (100L * s)
    val bcRanks = n <= NodeBroadcastMaxRows
    var ranks = deg.join(seeds, Seq("node"), "left")
      .select(col("node"), col("outdeg"),
        when(col("seed_flag").isNotNull, lit(Scale / s))
          .otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iterations) {
      val contrib =
        ranks.select(col("node").as("src"), expr("r div outdeg").as("c"))
      val contribs = edges
        .join(if (bcRanks) broadcast(contrib) else contrib, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum("c").as("csum"))
      ranks = graft.CheckpointLease.track(
        deg.join(contribs, Seq("node"), "left")
          .join(seeds, Seq("node"), "left")
          .select(col("node"), col("outdeg"),
            (when(col("seed_flag").isNotNull, lit(teleport))
              .otherwise(lit(0L)) +
              expr("(85 * coalesce(csum, 0L)) div 100")).as("r"))
          .localCheckpoint(false))
    }
    ranks.join(seeds, Seq("node"), "left")
      .select(col("node").as("part_node"), col("r").as("rank_scaled"),
        coalesce(col("seed_flag"), lit(0L)).as("is_seed"))
  }

  val BfsRounds = 4

  /** MULTI-SOURCE BFS DISTANCES — unweighted shortest hop count from
    * the `seedCount` highest-degree nodes (the [[personalizedPagerank]]
    * seed anchor: ties to the smallest node id), capped at `rounds`
    * hops. The graph-feature companion to PPR: PPR measures walk
    * proximity, BFS measures exact hop distance — "how many links from
    * the catalog core is this part?" — and distance-to-seed-set is a
    * standard graph feature for curation and anomaly screens.
    *
    * == Scale shape ==
    * Level-synchronous frontier BFS: each round joins the edge list
    * with the CURRENT FRONTIER only (not the full visited set), then
    * anti-joins visited to keep first-reach rows — both joins broadcast
    * under [[NodeBroadcastMaxRows]] so the checkpointed edge list is
    * scanned in place. The visited set grows monotonically and is
    * checkpointed per round (≤ n rows). All-integer distances; the
    * recursive-CTE twin's `min(dist)` over ≤`rounds`-hop reach rows is
    * the same first-reach semantics.
    */
  def bfsDistances(edgesIn: DataFrame, seedCount: Int = PprSeedCount,
      rounds: Int = BfsRounds): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val n = deg.count()
    require(n > 0, "bfsDistances: empty graph")
    def gate(df: DataFrame) =
      if (n <= NodeBroadcastMaxRows) broadcast(df) else df
    var dist = graft.CheckpointLease.track(
      deg.orderBy(col("outdeg").desc, col("node")).limit(seedCount)
        .select(col("node"), lit(0L).as("dist"))
        .localCheckpoint())
    var frontier = dist
    for (r <- 1 to rounds) {
      val cand = edges
        .join(gate(frontier.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node")).distinct()
      frontier = graft.CheckpointLease.track(
        cand.join(gate(dist), Seq("node"), "left_anti")
          .select(col("node"), lit(r.toLong).as("dist"))
          .localCheckpoint(false))
      dist = graft.CheckpointLease.track(
        dist.union(frontier).localCheckpoint(false))
    }
    dist.select(col("node").as("part_node"), col("dist"))
  }

  val LpaRounds = 4

  /** SYNCHRONOUS LABEL PROPAGATION (Raghavan et al. 2007) — community
    * detection: every node starts labeled with itself; each round it
    * adopts the most frequent label among its neighbors (ties → the
    * SMALLEST label, making the async algorithm's random tie-break
    * deterministic and cross-engine replayable). After `rounds` sync
    * passes, label = community id. Complements [[Components]] (which
    * merges anything connected) by *splitting* a connected co-purchase
    * graph into densely-linked neighborhoods — the corpus-curation use
    * is domain/community discovery on link graphs.
    *
    * == Scale shape ==
    * Each round is the Pregel step as two keyed aggregations: messages
    * = edges ⋈ labels on src (labels are node-count-sized, so under
    * [[NodeBroadcastMaxRows]] they broadcast and the checkpointed edge
    * list is scanned in place — no per-round E-row exchange, the
    * [[pagerank]] gate), then `groupBy(dst, label).count` (map-side
    * partials absorb hot nodes) and a per-node `max(struct(count,
    * −label))` argmax — another partial-merging aggregate, never a
    * window over the message stream. Labels are integers throughout,
    * so every round is exactly reproducible at any partitioning.
    *
    * Sync LPA can oscillate on bipartite structure — `rounds` is a
    * fixed budget, not a convergence test, and the registered query's
    * output is the round-`rounds` labeling (the twin replays the same
    * rounds CTE-for-CTE).
    */
  def labelPropagation(edgesIn: DataFrame,
      rounds: Int = LpaRounds): DataFrame =
    labelPropagationOn(
      graft.CheckpointLease.track(edgesIn.localCheckpoint()), rounds)

  /** [[labelPropagation]]'s core over an ALREADY-MATERIALIZED edge list
    * — split out so composites ([[lpaModularity]]) can share ONE edge
    * checkpoint across the rounds and the downstream consumers instead
    * of re-writing the corpus-sized list per stage.
    */
  private[ext] def labelPropagationOn(edges: DataFrame,
      rounds: Int): DataFrame = {
    var labels = graft.CheckpointLease.track(
      edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint())
    val bcLabels = labels.count() <= NodeBroadcastMaxRows
    for (_ <- 1 to rounds) {
      val lab = labels.withColumnRenamed("node", "src")
      val msgs = edges
        .join(if (bcLabels) broadcast(lab) else lab, Seq("src"))
        .select(col("dst").as("node"), col("label"))
      // argmax(count, then min label) as ONE partial-merging aggregate:
      // max(struct(count, −label)) — no window over the message stream
      labels = graft.CheckpointLease.track(
        msgs.groupBy("node", "label").agg(count(lit(1)).as("c"))
          .groupBy("node")
          .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("label"))
          .localCheckpoint(false))
    }
    labels.select(col("node").as("part_node"), col("label"))
  }

  /** Newman modularity decomposition of an ARBITRARY node labeling over
    * a both-ways edge list — the community-quality gate
    * [[Components.modularityOfPairs]] gives near-dup clusters, for
    * labelings where edges may cross communities (LPA, external
    * partitions). Per community c: `q_c = e_c/2m − (d_c/2m)²`, with
    * both-ways counts used throughout (`m2 = 2m` = directed edge count,
    * `e_in` = directed intra-community edges), so every input is an
    * exact integer and q_c is a fixed IEEE tree. `Σ q_c` is the
    * partition's modularity Q — the "is this real structure or
    * hairball?" scalar.
    *
    * Scale shape: one degree aggregate, one keyed label join per edge
    * endpoint (labels are node-sized — broadcast-gated at
    * [[NodeBroadcastMaxRows]] like every per-round LPA join), partial-
    * merging aggregates only, one scalar broadcast. Communities with no
    * intra edge keep a row via the left join (e_in = 0).
    *
    * `edges` should be materialized: degrees, m2 and the per-endpoint
    * label joins each consume it.
    */
  private[ext] def modularityOfLabelsOn(edges: DataFrame,
      labelsIn: DataFrame): DataFrame = {
    val labels = labelsIn.select(col("node"), col("cluster_id"))
    val bc = labels.count() <= NodeBroadcastMaxRows
    def gate(df: DataFrame) = if (bc) broadcast(df) else df
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val m2Df = edges.agg(count(lit(1)).as("m2"))
    val dc = deg.join(gate(labels), Seq("node"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_sum"))
    val ec = edges
      .join(gate(labels.select(col("node").as("src"),
        col("cluster_id").as("ca"))), Seq("src"))
      .join(gate(labels.select(col("node").as("dst"),
        col("cluster_id").as("cb"))), Seq("dst"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("cluster_id"))
      .agg(count(lit(1)).as("e_in"))
    dc.join(ec, Seq("cluster_id"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m2Df))
      .withColumn("share",
        col("d_sum").cast("double") / col("m2").cast("double"))
      .select(col("cluster_id"), col("n_nodes"), col("e_in"), col("d_sum"),
        col("m2"),
        (col("e_in").cast("double") / col("m2").cast("double") -
          col("share") * col("share")).as("q_contrib"))
  }

  /** LPA communities + their modularity gate in one table: run
    * [[labelPropagation]], then score the labeling with
    * [[modularityOfLabelsOn]] — the same "real structure?" check near-dup
    * clusters get, closing the loop for community detection. The LPA
    * labels are consumed three times downstream, but each round's label
    * table is already checkpointed inside [[labelPropagation]], so the
    * fan-out re-reads a materialized table, not the Pregel subplan.
    */
  def lpaModularity(edgesIn: DataFrame,
      rounds: Int = LpaRounds): DataFrame = {
    // ONE edge checkpoint feeds the LPA rounds AND the modularity
    // degree/m2/intra-edge consumers — re-checkpointing per stage would
    // write the corpus-sized edge list three times
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    modularityOfLabelsOn(edges,
      labelPropagationOn(edges, rounds)
        .select(col("part_node").as("node"), col("label").as("cluster_id")))
  }

  /** Oriented-edge count at or under which the closing join broadcasts
    * the edge list (≈10M rows × ~24 B ≈ 240 MB — comfortably inside
    * executor memory and far from the broadcast hard ceiling); above it
    * the closing join falls back to a shuffle join on (b, c).
    */
  val TriangleBroadcastMaxEdges: Long = 10000000L

  /** Global triangle count via DEGREE-ORDERED ORIENTATION — the
    * standard scale trick: orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, so each triangle is
    * counted exactly once from its minimum-degree corner and the wedge
    * join's per-key fan-out is bounded by out-degree, which orientation
    * caps at O(√E) for any graph (a hub of degree d keeps only its
    * higher-degree neighbors as out-edges). Without orientation the
    * wedge join explodes quadratically on hot nodes — the triangle
    * analogue of the salted-join skew problem.
    *
    * Orientation compares (deg, node) pairs DIRECTLY (a struct
    * comparison riding the deg join) — no dense-rank relabel, so there
    * is no global window anywhere in the plan (an unpartitioned
    * `row_number()` over the node table was the one data-sized
    * single-partition sort in this module; at 100× it would serialize
    * on one task). The wedge join orders endpoints by the same
    * (deg, node) struct, so the closing edge of a wedge is exactly the
    * oriented edge (b, c) — one equality join on raw ids.
    *
    * The closing join is SIZE-GATED on the materialized oriented-edge
    * count (a free scalar — `rel` is checkpointed anyway): at or under
    * `broadcastMaxEdges` the E/2-row list broadcasts and wedges close
    * map-side (wedges outnumber edges ~35:1 here, so the ~41M wedge
    * rows never hit an exchange); above it the join ships both sides
    * hashed on (b, c) — the wedge side still partial-aggregates to one
    * count per task.
    *
    * Input `edges`: directed both ways (as [[coPurchaseEdges]] emits);
    * output: one row, the global count.
    */
  /** Degree-ordered orientation of a both-ways edge list: keeps each
    * undirected edge once, pointing from its lower-(deg, node) endpoint
    * to the higher, with the dst endpoint's degree (`dv`) retained for
    * the wedge ordering. A pure join + struct-comparison filter — no
    * window, no global sort (exposed for the plan-shape spec).
    */
  private[ext] def orientedEdges(edges: DataFrame,
      bcDeg: Boolean = false): DataFrame = {
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    // keep the dst endpoint's (deg, node) on the oriented edge: the wedge
    // join below orders its two legs by the SAME struct the orientation
    // used, which is what makes the closing edge a single equality probe.
    // `bcDeg` (callers gate it on the checkpointed edge count) broadcasts
    // the node-sized degree table into both joins: the orientation then
    // runs map-side over the edge list instead of exchanging E rows twice
    // (the aggregate output has no stats, so the planner won't pick the
    // broadcast itself — measured 3.3x on this subplan at sf0.1)
    val degSrc = deg.select(col("node").as("src"), col("deg").as("du"))
    val degDst = deg.select(col("node").as("dst"), col("deg").as("dv"))
    edges
      .join(if (bcDeg) broadcast(degSrc) else degSrc, Seq("src"))
      .join(if (bcDeg) broadcast(degDst) else degDst, Seq("dst"))
      .filter(struct(col("du"), col("src")) < struct(col("dv"), col("dst")))
      .select(col("src"), col("dst"), col("dv"))
  }

  /** Node-id bound (exclusive) for the packed-key wedge path: two ids in
    * [0, 2^31) pack losslessly into one BIGINT (`b * 2^32 + c`), turning
    * the closing join's two-column hash key into a single long — the
    * probe stays one codegen'd long comparison instead of a struct
    * hash+equality, measured ~2.5x faster end-to-end at sf0.1. Ids at or
    * above 2^31 (or negative) fall back to the struct-keyed form with
    * identical results.
    */
  private val PackLimit: Long = 1L << 31

  /** One aggregate over the checkpointed oriented list: (row count,
    * packable?). The count doubles as the broadcast-gate scalar, so the
    * id-range check rides the same cheap job.
    */
  private def orientedStats(rel: DataFrame): (Long, Boolean) = {
    val r = rel.agg(
      count(lit(1)),
      min(least(col("src"), col("dst")).cast("long")),
      max(greatest(col("src"), col("dst")).cast("long"))).head()
    val n = r.getLong(0)
    val packable = n > 0 && r.getLong(1) >= 0L && r.getLong(2) < PackLimit
    (n, packable)
  }

  def triangleCount(edgesIn: DataFrame,
      broadcastMaxEdges: Long = TriangleBroadcastMaxEdges): DataFrame = {
    // the edge list feeds deg AND the orientation join, and the oriented
    // list below is consumed THREE times (both wedge sides + the closing
    // join) — materialize each once or the pair-explosion upstream runs
    // 3x (measured ~2.5x the whole query at sf0.1)
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val rel = graft.CheckpointLease.track(
      orientedEdges(edges, bcDeg = edges.count() <= NodeBroadcastMaxRows)
        .localCheckpoint(false))
    val (nOriented, packable) = orientedStats(rel)
    if (nOriented <= broadcastMaxEdges && packable) {
      // EXCHANGE-FREE fast path: both wedge legs AND the closing list
      // broadcast (the E/2-row oriented list is under the gate), so the
      // whole count is one scan of rel probing two in-memory hash maps —
      // no wedge row ever hits an exchange, and the packed single-long
      // key keeps the 35:1 wedge fan-out inside whole-stage codegen
      val wedges = rel.as("e1")
        .join(broadcast(rel.as("e2")),
          col("e1.src") === col("e2.src") &&
            struct(col("e1.dv"), col("e1.dst")) <
              struct(col("e2.dv"), col("e2.dst")))
        .select((col("e1.dst").cast("long") * lit(4294967296L) +
          col("e2.dst").cast("long")).as("bc"))
      val closing = rel.select((col("src").cast("long") * lit(4294967296L) +
        col("dst").cast("long")).as("cbc"))
      wedges.join(broadcast(closing), col("bc") === col("cbc"))
        .agg(count(lit(1)).as("n_triangles"))
    } else {
      val wedges = rel.as("e1")
        .join(rel.as("e2"),
          col("e1.src") === col("e2.src") &&
            struct(col("e1.dv"), col("e1.dst")) <
              struct(col("e2.dv"), col("e2.dst")))
        .select(col("e1.dst").as("b"), col("e2.dst").as("c"))
      val closing = rel.select(col("src").as("cb"), col("dst").as("cc"))
      val closingSide =
        if (nOriented <= broadcastMaxEdges) broadcast(closing) else closing
      wedges.join(closingSide,
          col("b") === col("cb") && col("c") === col("cc"))
        .agg(count(lit(1)).as("n_triangles"))
    }
  }

  /** Edges reported by [[edgeJaccard]]. */
  val EdgeJaccardTopK = 100

  /** Structural edge similarity (the SCAN / graph-sparsification weight):
    * for each undirected edge (u,v), the Jaccard overlap of the two
    * endpoints' neighborhoods — `common / (deg_u + deg_v - 2 - common)`
    * where `common` = shared neighbors = triangles through the edge.
    * High-overlap edges are intra-community; low-overlap edges are the
    * bridges a sparsifier keeps. Top `topK` edges by (jaccard desc, u, v)
    * — ties broken on raw ids so the cut is deterministic on both
    * engines (the division is one exact-int IEEE op, bit-identical).
    *
    * == Scale shape ==
    * The naive plan — join each edge's neighbor LIST against the other
    * endpoint's — ships deg-sized sets per edge. This instead reuses
    * [[triangleCount]]'s oriented wedge machinery (per-node fan-out
    * capped at O(√E) by degree orientation, closing join size-gated
    * broadcast-vs-shuffle): every closed triangle emits its 3 canonical
    * edges (a narrow 3-row generator), and ONE keyed count yields each
    * edge's support. Edges on no triangle have overlap 0 and are
    * omitted — never candidates for a top-k of positive weights.
    * Final ranking is TakeOrdered (no global sort).
    */
  /** Materialized triangle corners (n, b, c) from the oriented list —
    * the shared middle of [[edgeJaccard]] and [[clusteringCoeff]]: same
    * exchange-free packed-key path as [[triangleCount]] under the gate
    * (the corners ride alongside the packed probe key), struct-keyed
    * shuffle join above it.
    */
  private def triangleCorners(rel: DataFrame, nOriented: Long,
      packable: Boolean, broadcastMaxEdges: Long): DataFrame =
    if (nOriented <= broadcastMaxEdges && packable) {
      val wedges = rel.as("e1")
        .join(broadcast(rel.as("e2")),
          col("e1.src") === col("e2.src") &&
            struct(col("e1.dv"), col("e1.dst")) <
              struct(col("e2.dv"), col("e2.dst")))
        .select(col("e1.src").as("n"), col("e1.dst").as("b"),
          col("e2.dst").as("c"),
          (col("e1.dst").cast("long") * lit(4294967296L) +
            col("e2.dst").cast("long")).as("bc"))
      val closing = rel.select((col("src").cast("long") * lit(4294967296L) +
        col("dst").cast("long")).as("cbc"))
      wedges.join(broadcast(closing), col("bc") === col("cbc"))
        .select(col("n"), col("b"), col("c"))
    } else {
      val wedges = rel.as("e1")
        .join(rel.as("e2"),
          col("e1.src") === col("e2.src") &&
            struct(col("e1.dv"), col("e1.dst")) <
              struct(col("e2.dv"), col("e2.dst")))
        .select(col("e1.src").as("n"), col("e1.dst").as("b"),
          col("e2.dst").as("c"))
      val closing = rel.select(col("src").as("cb"), col("dst").as("cc"))
      val closingSide =
        if (nOriented <= broadcastMaxEdges) broadcast(closing) else closing
      wedges.join(closingSide,
          col("b") === col("cb") && col("c") === col("cc"))
        .select(col("n"), col("b"), col("c"))
    }

  /** Expansion-row budget for the pruned path: if the surviving edges'
    * Σ min(deg_u, deg_v) exceeds this, the degree screen didn't bite
    * (a near-regular high-triangle graph) and the oriented-wedge path
    * is the better plan — fall back to it.
    */
  val EdgeJaccardExpansionBudget = 30000000L

  /** Exact |N(u) ∩ N(v)| for a SMALL candidate edge set, by expanding
    * the LOWER-degree endpoint's adjacency (Σ min-deg rows) and probing
    * the other endpoint's edges — the restricted-support primitive of
    * [[edgeJaccard]]'s pruned path. `cand` must carry u, v, deg_u,
    * deg_v with u < v.
    *
    * Broadcast contract (r17 verdict #4 audit): `cand` is
    * BOUNDED-BY-CONTRACT — every caller passes a top-k-capped candidate
    * set (the degree-bound prune's survivors), never a corpus-sized
    * frame, so the hint stays hardcoded; an advisor scan here would
    * re-run the caller's whole prune pipeline to count rows it already
    * bounded.
    */
  private def supportFor(cand: DataFrame, edges: DataFrame): DataFrame = {
    val a = when(col("deg_u") <= col("deg_v"), col("u")).otherwise(col("v"))
    val b = when(col("deg_u") <= col("deg_v"), col("v")).otherwise(col("u"))
    val expanded = edges.select(col("src").as("a"), col("dst").as("w"))
      .join(broadcast(cand.select(a.as("a"), b.as("b"))), Seq("a"))
    expanded
      .join(edges.select(col("src").as("b"), col("dst").as("w")),
        Seq("b", "w"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("common"))
  }

  /** Pruned top-k edge Jaccard (the default path): the top-100 cut
    * never needs edges whose BEST-CASE Jaccard can't reach the kth
    * score. Since common ≤ min(deg_u,deg_v) − 1, the bound is
    * `best = (min−1)/(max−1)` — pure degree arithmetic, no wedges.
    * Two phases, both exact:
    *
    *  1. POOL: score the top `10k` edges by `best` (restricted support
    *     via [[supportFor]] — Σ min-deg expansion, not a wedge stream);
    *     the kth ACTUAL Jaccard among them is a valid lower bound τ of
    *     the global kth (any subset's kth ≤ the global kth).
    *  2. SCREEN: keep only edges with best ≥ τ — decided by INTEGER
    *     cross-multiplication (min−1)·τ_den ≥ τ_num·(max−1), no float
    *     boundary — and compute their exact support the same way; the
    *     global top-k all survive (actual ≤ best), so the final
    *     TakeOrdered cut is IDENTICAL to the unpruned answer (spec'd
    *     against [[edgeJaccardFull]]).
    *
    * If the screen doesn't bite (Σ min-deg of survivors over
    * [[EdgeJaccardExpansionBudget]], e.g. a near-regular graph dense in
    * triangles), fall back to the oriented-wedge path — same output.
    * Everything on the cut path is integer-exact; the one double per
    * row is the same correctly-rounded division as before.
    */
  def edgeJaccard(edgesIn: DataFrame, topK: Int = EdgeJaccardTopK,
      broadcastMaxEdges: Long = TriangleBroadcastMaxEdges,
      expansionBudget: Long = EdgeJaccardExpansionBudget): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val bcNodes = edges.count() <= NodeBroadcastMaxRows
    val deg = graft.CheckpointLease.track(
      edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(false))
    val degU = deg.select(col("node").as("u"), col("deg").as("deg_u"))
    val degV = deg.select(col("node").as("v"), col("deg").as("deg_v"))
    // undirected edges + degree bounds; best_num = 0 edges have zero
    // support and are never output candidates (the old path omitted
    // them the same way: no triangle, no support row)
    val und = graft.CheckpointLease.track(
      edges.filter(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"))
        .join(if (bcNodes) broadcast(degU) else degU, Seq("u"))
        .join(if (bcNodes) broadcast(degV) else degV, Seq("v"))
        .select(col("u"), col("v"), col("deg_u"), col("deg_v"),
          (least(col("deg_u"), col("deg_v")) - 1L).as("best_num"),
          (greatest(col("deg_u"), col("deg_v")) - 1L).as("best_den"))
        .filter(col("best_num") > 0L)
        .localCheckpoint(false))
    def score(cand: DataFrame): DataFrame =
      supportFor(cand, edges)
        .join(cand.select("u", "v", "deg_u", "deg_v"), Seq("u", "v"))
        .select(col("u"), col("v"), col("common"), col("deg_u"),
          col("deg_v"),
          (col("common").cast("double") /
            (col("deg_u") + col("deg_v") - 2L - col("common")))
            .as("jaccard"))
    // r20: ARM-CHOICE CASCADE from one cheap degree aggregate. Both
    // arms are output-identical (spec'd against each other), so the
    // choice is pure policy; what changed is that the policy pays for
    // the pool's supportFor pass and the tau collect ONLY when they can
    // plausibly help:
    //  - exp_all <= budget: score ALL edges directly -- scoring a
    //    superset keeps the same TakeOrdered top-k, and the pool/screen
    //    machinery (two extra supportFor-side passes) buys nothing;
    //  - exp_all > 4x budget: the screen must cut >= 4x for the pruned
    //    path to fit -- on the near-regular graphs that produce this
    //    much expansion (the sf0.1 co-purchase graph: avg deg 119.6,
    //    best ~ 1 everywhere, exp_all 132.5M vs the 30M budget) it
    //    cannot cut at all, and the pool phase was measured pure waste
    //    (~2.5 s/run) before the inevitable wedge fallback;
    //  - in between: the exact-integer screen earns its keep -- the
    //    r19 pool/tau/screen flow, unchanged.
    val expAll = und
      .agg(coalesce(sum(least(col("deg_u"), col("deg_v"))), lit(0L)))
      .head().getLong(0)
    if (expAll <= expansionBudget)
      return score(und).orderBy(col("jaccard").desc, col("u"), col("v"))
        .limit(topK)
    if (expAll > 4L * expansionBudget)
      return edgeJaccardFull(edges, bcNodes, deg, topK, broadcastMaxEdges)
    val pool = und
      .orderBy((col("best_num").cast("double") / col("best_den")).desc,
        col("u"), col("v"))
      .limit(math.max(topK * 10, topK + 16))
    // kth actual score in the pool, as an exact rational (bounded
    // collect: <= topK rows)
    val poolTop = score(pool)
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(topK)
      .select(col("common"),
        (col("deg_u") + col("deg_v") - 2L - col("common")).as("denom"))
      .collect()
    val (tauNum, tauDen) =
      if (poolTop.length < topK) (0L, 1L)
      else (poolTop.last.getLong(0), poolTop.last.getLong(1))
    val surv = und.filter(
      col("best_num") * tauDen >= lit(tauNum) * col("best_den"))
    val expansion = surv
      .agg(coalesce(sum(least(col("deg_u"), col("deg_v"))), lit(0L)))
      .head().getLong(0)
    if (expansion <= expansionBudget)
      score(surv).orderBy(col("jaccard").desc, col("u"), col("v"))
        .limit(topK)
    else
      edgeJaccardFull(edges, bcNodes, deg, topK, broadcastMaxEdges)
  }

  /** The unpruned oriented-wedge formulation — the [[edgeJaccard]]
    * fallback and its equivalence oracle in GraphSpec.
    */
  private[ext] def edgeJaccardFull(edges: DataFrame, bcNodes: Boolean,
      deg: DataFrame, topK: Int,
      broadcastMaxEdges: Long): DataFrame = {
    val rel = graft.CheckpointLease.track(
      orientedEdges(edges, bcDeg = bcNodes).localCheckpoint(false))
    val (nOriented, packable) = orientedStats(rel)
    val triangles = triangleCorners(rel, nOriented, packable,
      broadcastMaxEdges)
    // per-edge support: 3 canonical edges per triangle, ONE keyed count.
    // Packable ids ride as a single packed BIGINT through the explode and
    // the aggregation hash (same trick as the closing join: a long key
    // stays one codegen'd compare where the (u,v) struct pays a struct
    // hash per row on the 3T-row stream), unpacked after the count.
    val support = if (packable) {
      def pk(a: Column, b: Column): Column =
        least(a, b).cast("long") * lit(4294967296L) +
          greatest(a, b).cast("long")
      triangles
        .select(explode(array(pk(col("n"), col("b")),
          pk(col("n"), col("c")), pk(col("b"), col("c")))).as("uv"))
        .groupBy("uv").agg(count(lit(1)).as("common"))
        .select(expr("uv div 4294967296").as("u"),
          pmod(col("uv"), lit(4294967296L)).as("v"), col("common"))
    } else {
      triangles
        .select(explode(array(
          struct(least(col("n"), col("b")).as("u"),
            greatest(col("n"), col("b")).as("v")),
          struct(least(col("n"), col("c")).as("u"),
            greatest(col("n"), col("c")).as("v")),
          struct(least(col("b"), col("c")).as("u"),
            greatest(col("b"), col("c")).as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("common"))
    }
    val degU = deg.select(col("node").as("u"), col("deg").as("deg_u"))
    val degV = deg.select(col("node").as("v"), col("deg").as("deg_v"))
    support
      .join(if (bcNodes) broadcast(degU) else degU, Seq("u"))
      .join(if (bcNodes) broadcast(degV) else degV, Seq("v"))
      .select(col("u"), col("v"), col("common"), col("deg_u"), col("deg_v"),
        (col("common").cast("double") /
          (col("deg_u") + col("deg_v") - 2L - col("common"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** Weakly-connected components of the co-purchase graph, reported as
    * per-component sizes — the catalog-health readout (is the product
    * space one connected market or many isolated islands?) and the
    * precondition check for the traversal operators above (PageRank/LPA
    * semantics differ across disconnected pieces). Reuses
    * [[Components.connectedComponents]]: min-label propagation with a
    * join-free convergence test at scale, exact driver union-find under
    * [[Components.LocalEdgeThreshold]] edges; both yield component =
    * min reachable node id, so the output is deterministic and the
    * DuckDB twin is the same label by recursive closure.
    */
  def weakComponents(edgesIn: DataFrame): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val pairs = edges.filter(col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    Components.connectedComponents(pairs)
      .groupBy(col("comp").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Round budget for [[wccCertificate]]'s BFS forest — a SAFETY BOUND,
    * not a truncation: the loop exhausts at the true root-set
    * eccentricity (tiny on co-purchase graphs) and the method REQUIRES
    * completion, so hitting the bound throws instead of emitting a
    * partial certificate.
    */
  val WccCertMaxRounds = 64

  /** WCC CERTIFICATE: per node, its component id plus a spanning-forest
    * witness `(node, comp, parent, depth)` that lets a verifier confirm
    * the component labeling with LINEAR property checks — no transitive
    * closure. This is what makes [[weakComponents]] auditable at any
    * scale: the r18 sf0.1 oracle record had to defer `graph_wcc` because
    * DuckDB's recursive-closure twin is superlinear (measured: killed
    * after 240 s at sf0.1), while this certificate verifies in seconds.
    *
    * == The lemma (why local checks prove global components) ==
    * Suppose a table T(node, comp, parent, depth) over exactly the graph's
    * node set satisfies:
    *  (1) comp(u) <= u for every u;
    *  (2) depth(u)=0  <=>  parent(u) IS NULL  <=>  comp(u)=u;
    *  (3) every non-root's (node, parent) is a real edge, with
    *      comp(parent)=comp(node) and depth(parent)=depth(node)-1;
    *  (4) every edge (u,v) has comp(u)=comp(v).
    * Then comp(u) = min(u's connected component) for every u. Proof:
    * by induction on depth via (3), every u reaches the node comp(u)
    * along real edges, so comp(u) is IN u's component (no over-merge);
    * by (4) comp is constant on each component (no split); apply (1) at
    * the component's true minimum m: comp(m) <= m, and comp(m) is a
    * member of the component so comp(m) >= m — hence the constant is m.
    *
    * The certificate itself is CANONICAL (deterministic, twin-matchable):
    * depth is the BFS level from the component root and parent is the
    * MINIMUM neighbor one level up, so the DuckDB twin re-derives it
    * exactly at the gate SFs, and the sf0.1 staged verifier
    * (`tools/oracle_wcc_staged.py`) checks properties (1)-(4) plus the
    * [[weakComponents]] readout without ever running a closure.
    *
    * == Scale shape ==
    * [[Components.connectedComponents]] supplies comp (min-label
    * propagation; driver union-find under the local threshold). The
    * forest is frontier-bounded multi-source BFS: each round joins the
    * edge list to the frontier only (keyed shuffle, broadcast-gated
    * under [[NodeBroadcastMaxRows]]), takes `min(parent)` as a
    * map-side-combinable aggregate, and anti-joins the settled set;
    * rounds = root-set eccentricity. Superseded checkpoints are
    * released per round — the same discipline as the components loop.
    */
  def wccCertificate(edgesIn: DataFrame,
      maxRounds: Int = WccCertMaxRounds): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val pairs = edges.filter(col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    val comp = graft.CheckpointLease.track(
      Components.connectedComponents(pairs).localCheckpoint())
    val nNodes = comp.count()
    def gate(df: DataFrame) =
      if (nNodes <= NodeBroadcastMaxRows) broadcast(df) else df
    var settled = graft.CheckpointLease.track(
      comp.filter(col("node") === col("comp"))
        .select(col("node"), lit(null).cast("long").as("parent"),
          lit(0L).as("depth"))
        .localCheckpoint())
    var frontier = settled
    var r = 1
    var done = false
    while (!done && r <= maxRounds) {
      val cand = edges
        .join(gate(frontier.select(col("node").as("dst"))), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("dst")).as("parent"))
      val next = graft.CheckpointLease.track(
        cand.join(gate(settled.select("node")), Seq("node"), "left_anti")
          .select(col("node"), col("parent"), lit(r.toLong).as("depth"))
          .localCheckpoint(false))
      if (next.isEmpty) done = true
      else {
        settled = graft.CheckpointLease.track(
          settled.union(next).localCheckpoint(false))
        frontier = next
        r += 1
      }
    }
    val out = settled.join(comp, Seq("node"))
      .select(col("node"), col("comp"), col("parent"), col("depth"))
    require(done && out.count() == nNodes,
      s"wccCertificate: BFS forest incomplete after $maxRounds rounds " +
        "— raise maxRounds (certificates must cover every node)")
    out
  }

  /** Pairs reported by [[linkPrediction]]. */
  val LinkPredTopK = 100
  /** Middles with degree above this are skipped as evidence — the hub
    * guard (see [[linkPrediction]] scaladoc).
    */
  val LinkPredMaxMiddleDegree = 256L
  /** Per-middle neighbor budget: each admitted middle pairs only its
    * this-many LOWEST-DEGREE neighbors (ties by id). Bounds total wedge
    * fan-out at `n·B²/2` REGARDLESS of the degree distribution — the
    * degree cap alone keels over on graphs where every node sits just
    * under the cap (the co-purchase graph at sf0.1: min degree > 32, so
    * Σdeg² ≈ 3·10⁸ wedges; the budget cuts that 13× with no skew
    * exposure). Low-degree neighbors are kept because they form the
    * NICHE pairs a recommender wants — hub neighbors pair with
    * everything and score low RA anyway.
    */
  val LinkPredNeighborBudget = 32

  /** Resource-allocation link prediction (Zhou/Lü/Zhang 2009): for each
    * NON-adjacent pair (u,v), `RA = Σ_w 1/deg(w)` over their common
    * neighbors w — the "which products will be co-purchased next"
    * recommender primitive, and on benchmark graphs the strongest of
    * the classic local indices (it down-weights hub middles, which
    * carry almost no signal). Top `topK` pairs by score.
    *
    * The score is kept EXACT as `ra_micro = Σ (10⁶ div deg(w))` — a
    * fixed-point integer both engines compute identically (the one
    * double emitted is a single correctly-rounded division by 10⁶), and
    * the top-k cut orders by (ra_micro desc, u, v) so ties never make
    * the cut nondeterministic.
    *
    * == Scale shape ==
    * The wedge enumeration through middle w is Σ deg(w)² — unlike the
    * triangle path it CANNOT be degree-oriented, because the middle is
    * the evidence. TWO guards bound it:
    *  - [[LinkPredMaxMiddleDegree]] drops hub middles before the
    *    self-join (they contribute ≤ 10⁶/cap each — evidence RA itself
    *    says to ignore), the [[coPurchaseEdges]] reducer-protection
    *    argument;
    *  - [[LinkPredNeighborBudget]] keeps each remaining middle's B
    *    lowest-degree neighbors (ties by id), so total fan-out is
    *    ≤ n·B²/2 EVEN when every node's degree sits just under the cap
    *    (where a cap alone goes quadratic — measured 180 s → ~14 s at
    *    sf0.1 on the co-purchase graph, whose min degree exceeds 32).
    * One keyed self-join on w, one pair aggregate, one anti-join
    * against the (broadcast-gated) edge list, TakeOrdered for the cut —
    * no global sort.
    */
  def linkPrediction(edgesIn: DataFrame, topK: Int = LinkPredTopK,
      maxMiddleDegree: Long = LinkPredMaxMiddleDegree,
      neighborBudget: Int = LinkPredNeighborBudget): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val nEdges = edges.count()
    val bcNodes = nEdges <= NodeBroadcastMaxRows
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val degGate = if (bcNodes) broadcast(deg) else deg
    val wBudget = Window.partitionBy("src")
      .orderBy(col("deg_u"), col("dst"))
    val ew = edges
      .join(degGate.select(col("node").as("src"), col("deg").as("deg_w")),
        Seq("src"))
      .filter(col("deg_w") <= maxMiddleDegree)
      .join(degGate.select(col("node").as("dst"), col("deg").as("deg_u")),
        Seq("dst"))
      .withColumn("nbrank", row_number().over(wBudget))
      .filter(col("nbrank") <= neighborBudget)
    val wedges = ew.select(col("src").as("w"), col("dst").as("u"),
        col("deg_w"))
      .join(ew.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
    val scores = wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000 div deg_w")).as("ra_micro"))
    val canon = edges.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val canonGate =
      if (nEdges <= TriangleBroadcastMaxEdges) broadcast(canon) else canon
    scores.join(canonGate, Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"), col("common"), col("ra_micro"),
        (col("ra_micro").cast("double") / lit(1000000.0)).as("ra"))
      .orderBy(col("ra_micro").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** Per-node clustering coefficient `c(v) = 2·T(v) / (deg(v)·(deg(v)−1))`
    * — the local-density profile (which products sit inside tight
    * co-purchase communities vs on bridges; the node-level reading of
    * [[edgeJaccard]]'s edge view).
    *
    * Rides the same oriented-wedge triangle machinery
    * ([[triangleCorners]]): each closed triangle credits its 3 corners
    * via a narrow explode and ONE keyed count; nodes on no triangle come
    * back through a left join with T=0 (deg<2 nodes report 0.0 — the
    * convention that avoids 0/0). Both joined sides are node-domain
    * sized; the coefficient is one fixed IEEE tree off exact integers.
    */
  def clusteringCoeff(edgesIn: DataFrame,
      broadcastMaxEdges: Long = TriangleBroadcastMaxEdges): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val bcNodes = edges.count() <= NodeBroadcastMaxRows
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val rel = graft.CheckpointLease.track(
      orientedEdges(edges, bcDeg = bcNodes).localCheckpoint(false))
    val (nOriented, packable) = orientedStats(rel)
    val corners = triangleCorners(rel, nOriented, packable,
      broadcastMaxEdges)
    val tc = corners
      .select(explode(array(col("n"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    val tcSide = if (bcNodes) broadcast(tc) else tc
    deg.join(tcSide, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff",
        when(col("deg") < 2, lit(0.0)).otherwise(
          lit(2.0) * col("n_tri").cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double")))
  }

  /** k-core extraction by iterative peeling: `rounds` fixed rounds of
    * "drop every node whose degree in the CURRENT subgraph is < k",
    * then the surviving nodes with their final in-core degree. The
    * fixed round count makes the operator deterministic and gives the
    * oracle an exact unrolled-CTE twin (same trade as [[pagerank]]'s
    * fixed iterations); on the testdata co-purchase graph k = 80
    * reaches its fixpoint in ≤ 6 rounds at sf0.01 AND sf0.1, so 8
    * rounds return the true k-core there. A production run would
    * convergence-test per round like [[Components]] (edge count
    * unchanged → stop) — same per-round plan, driver-side scalar only.
    *
    * Scale shape: two gated physical strategies with identical results —
    * [[kcoreDelta]] (broadcast delta peeling, edge list scanned in place)
    * under [[NodeBroadcastMaxRows]], [[kcoreShuffle]] (per-round degree
    * agg + semi-join restrictions on a shrinking checkpointed edge list —
    * the canonical distributed peel) above it.
    * Input `edges`: directed both ways (as [[coPurchaseEdges]] emits).
    */
  /** Survivor-set row bound at or under which [[kcore]]/[[pagerank]]
    * broadcast their node-sized side (~10M ids ≈ 160 MB hashed —
    * comfortable executor headroom, same budget as
    * [[TriangleBroadcastMaxEdges]]); above it the joins ship both sides.
    */
  val NodeBroadcastMaxRows: Long = 10000000L

  def kcore(edgesIn: DataFrame, k: Int = 80, rounds: Int = 8): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    // the count is free on the just-materialized checkpoint; node-sized
    // tables (degrees, dropped sets, decrements — all bounded by the
    // node count ≤ edge count) broadcast under the gate
    if (edges.count() <= NodeBroadcastMaxRows) kcoreDelta(edges, k, rounds)
    else kcoreShuffle(edges, k, rounds)
  }

  /** DELTA PEELING fast path: degrees are aggregated from the full edge
    * list exactly once; each subsequent round only scans the edges
    * incident to the PREVIOUS round's dropped nodes (one map-side
    * broadcast probe over the checkpointed list) and decrements the
    * surviving nodes' degrees — the edge list itself is never rewritten.
    * `deg_r(v) = deg_{r-1}(v) - #edges to round-r dropped` is exactly the
    * degree of `v` in the round-r restricted subgraph, so the per-round
    * drop decisions — and therefore the output — are identical to the
    * restrict-and-reaggregate form ([[kcoreShuffle]], the DuckDB oracle's
    * unrolled shape). Survivors whose final degree hits 0 are omitted to
    * match the groupBy-over-edges form (no edges → no row). Per-round
    * cost: one in-memory edge scan + node-sized joins, vs one full
    * shuffle + two edge-list joins — measured ~2.3x on the whole peel at
    * sf0.1, and the gap grows with round count since rounds after the
    * first touch only the shrinking frontier.
    */
  private def kcoreDelta(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var deg = graft.CheckpointLease.track(
      edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(false))
    // DATA-DEPENDENT broadcasts (r17 verdict #4): dropped/decr are
    // node-sized in the worst case (a first round can shed most of the
    // graph), not bounded by construction — gated once on the node
    // count, the bfsDistances device; deg is checkpointed so the count
    // is one cheap scan, and dropped/decr are always ⊆ nodes
    val n = deg.count()
    def gate(df: DataFrame) =
      if (n <= NodeBroadcastMaxRows) broadcast(df) else df
    var dropped = deg.filter(col("deg") < k).select("node")
    for (_ <- 1 until rounds) {
      val decr = edges
        .join(gate(dropped.withColumnRenamed("node", "dst")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("dec"))
      deg = graft.CheckpointLease.track(
        deg.join(gate(dropped), Seq("node"), "left_anti")
          .join(gate(decr), Seq("node"), "left")
          .select(col("node"),
            (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
          .localCheckpoint(false))
      dropped = deg.filter(col("deg") < k).select("node")
    }
    // final round's delta IS the output: survivors with their in-core
    // degree (zero-degree survivors omitted, matching the groupBy form)
    val decr = edges
      .join(gate(dropped.withColumnRenamed("node", "dst")), Seq("dst"))
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("dec"))
    deg.join(gate(dropped), Seq("node"), "left_anti")
      .join(gate(decr), Seq("node"), "left")
      .select(col("node"),
        (col("deg") - coalesce(col("dec"), lit(0L))).as("core_deg"))
      .filter(col("core_deg") > 0)
  }

  /** Restrict-and-reaggregate fallback for graphs past the broadcast
    * gate: per round, one degree shuffle + two shuffle semi-joins on a
    * shrinking checkpointed edge list — every step exchange-partitioned,
    * nothing node-sized held in memory.
    */
  private def kcoreShuffle(edgesIn: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = edgesIn
    for (_ <- 1 to rounds) {
      val keep = edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("node")
      edges = graft.CheckpointLease.track(edges
        .join(keep.withColumnRenamed("node", "src"), Seq("src"))
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"))
        .select("src", "dst")
        .localCheckpoint(false))
    }
    edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** Degree distribution of an undirected graph (edges emitted both
    * ways, so out-degree = degree): how many nodes have each degree,
    * with the degree's share of nodes — the first diagnostic run on any
    * graph (power-law check, supernode detection before a join fan-out).
    * Two keyed aggregates (node, then degree) — shuffle keys shrink at
    * each step; the share divides exact counts once.
    */
  def degreeDistribution(edgesIn: DataFrame): DataFrame = {
    val deg = edgesIn.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    // materialized once: the histogram feeds both the totals and the
    // output join — without this the (expensive) edge derivation and
    // both aggregates execute twice
    val hist = graft.CheckpointLease.track(
      deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .localCheckpoint())
    val tot = hist.agg(sum("n_nodes").as("n_total"))
    hist.crossJoin(broadcast(tot))
      .select(col("degree"), col("n_nodes"),
        (col("n_nodes").cast("double") / col("n_total")).as("node_share"))
  }

  /** HITS hubs/authorities on the DIRECTED bipartite purchase graph
    * (customer → supplier, one distinct edge per trading pair): two
    * exact integer iterations from the all-ones start —
    * `a1(s) = indeg(s)`, `h1(c) = Σ_{c→s} a1(s)`,
    * `a2(s) = Σ_{c→s} h1(c)` — reported per supplier with its final hub
    * mass. Integer iterates are EXACT (no per-round normalization, which
    * is only a scale factor for the ranking HITS is used for), so the
    * whole query hash-matches the DuckDB twin; two iterations is the
    * standard "co-citation strength" form (a2 = AᵀA·indeg reweighting).
    *
    * Scale shape: three keyed aggregates + two equi-joins, each keyed on
    * one side of the bipartite graph; the supplier-keyed authority table
    * is dimension-sized and broadcasts into the edge join. Magnitudes:
    * a2 ≤ indeg·max_h1 ≤ deg_max²·indeg_max — at 10⁶ customers and
    * deg ≤ 10³ that is ≤ 10¹² ≪ 2⁶³, so int64 never overflows in any
    * plausible deployment; overflow would throw under ANSI mode, not
    * corrupt.
    */
  def hits(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val edges = lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    // supplier-sized sides, no hint (r17 verdict #4): a1 grows with the
    // supplier dim and re-deriving it for a planning scan would re-run
    // the edge join; AQE's runtime statistics gate the conversion
    val a1 = edges.groupBy("s").agg(count(lit(1)).as("a1"))
    val h1 = edges.join(a1, Seq("s"))
      .groupBy("c").agg(sum("a1").as("h1"))
    edges.join(h1, Seq("c"))
      .groupBy("s")
      .agg(sum("h1").as("a2"))
      .join(a1, Seq("s"))
      .select(col("s").as("s_suppkey"), col("a1").as("indeg"), col("a2"))
  }

  /** Degree assortativity of the co-purchase graph: Newman's r — the
    * Pearson correlation of endpoint degrees over the edge list — tells
    * whether hubs link to hubs (r > 0, social-network-like) or to
    * leaves (r < 0, catalog/hub-and-spoke-like); the one scalar a graph
    * pipeline checks before trusting degree-based sampling or
    * sparsification heuristics.
    *
    * On a both-ways edge list the formula collapses (Σj = Σk, Σj² = Σk²
    * by symmetry) to `r = (m·Σjk − (Σj)²) / (m·Σj² − (Σj)²)` — one scan
    * of edges with the degree table joined in (broadcast under the node
    * gate), five exact integer aggregates, one IEEE division. Magnitudes:
    * `m·Σjk ≤ m²·d_max²` ≈ 10¹⁷ at sf0.1 (m 2.4M, d_max ~3k) — inside
    * int64; a deployment past that overflows LOUDLY under ANSI mode and
    * would bucket degrees first (same trade as [[hits]]).
    */
  def assortativity(edgesIn: DataFrame): DataFrame = {
    val edges = graft.CheckpointLease.track(edgesIn.localCheckpoint())
    val bcDeg = edges.count() <= NodeBroadcastMaxRows
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val degSrc = deg.select(col("node").as("src"), col("deg").as("du"))
    val degDst = deg.select(col("node").as("dst"), col("deg").as("dv"))
    edges
      .join(if (bcDeg) broadcast(degSrc) else degSrc, Seq("src"))
      .join(if (bcDeg) broadcast(degDst) else degDst, Seq("dst"))
      .agg(count(lit(1)).as("m_ends"),
        sum(col("du") * col("dv")).as("sjk"),
        sum(col("du")).as("sj"),
        sum(col("du") * col("du")).as("sjj"))
      .withColumn("r_num", col("m_ends") * col("sjk") - col("sj") * col("sj"))
      .withColumn("r_den", col("m_ends") * col("sjj") - col("sj") * col("sj"))
      .withColumn("assortativity",
        col("r_num").cast("double") / col("r_den").cast("double"))
      .select("m_ends", "sjk", "sj", "sjj", "r_num", "r_den", "assortativity")
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_assortativity" -> ((s, d) =>
      assortativity(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_hits" -> ((s, d) =>
      hits(Tables.lineitem(s, d), Tables.orders(s, d))),
    "graph_pagerank" -> ((s, d) =>
      pagerank(coPurchaseEdges(Tables.lineitem(s, d)), iterations = 3)),
    "graph_triangles" -> ((s, d) =>
      triangleCount(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_degrees" -> ((s, d) =>
      degreeDistribution(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_kcore" -> ((s, d) =>
      kcore(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_edge_jaccard" -> ((s, d) =>
      edgeJaccard(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_clustering" -> ((s, d) =>
      clusteringCoeff(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_lpa" -> ((s, d) =>
      labelPropagation(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_lpa_modularity" -> ((s, d) =>
      lpaModularity(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_ppr" -> ((s, d) =>
      personalizedPagerank(coPurchaseEdges(Tables.lineitem(s, d)),
        iterations = 3)),
    "graph_bfs" -> ((s, d) =>
      bfsDistances(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_link_pred" -> ((s, d) =>
      linkPrediction(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_wcc" -> ((s, d) =>
      weakComponents(coPurchaseEdges(Tables.lineitem(s, d)))),
    "graph_wcc_cert" -> ((s, d) =>
      wccCertificate(coPurchaseEdges(Tables.lineitem(s, d)))),
  )

  /** Unrolled personalized-PageRank twin: same 3 fixed-point
    * iterations as the `graph_pagerank` oracle, with the teleport term
    * gated to the top-degree seed set (ORDER BY outdeg DESC, node
    * LIMIT k — the Spark side's TakeOrdered anchor, identical ties).
    */
  private def duckPprSql(iterations: Int = 3,
      seedCount: Int = PprSeedCount): String = {
    val steps = (1 to iterations).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |              CAST(sum(r${i - 1}.r // r${i - 1}.outdeg) AS BIGINT) AS csum
         |       FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node GROUP BY 1),
         |r$i AS (SELECT d.node, d.outdeg,
         |              CASE WHEN sd.node IS NOT NULL
         |                   THEN (1000000000000 * 15) // (100 * (SELECT s FROM nn))
         |                   ELSE 0 END +
         |              (85 * COALESCE(c$i.csum, 0)) // 100 AS r
         |       FROM deg d LEFT JOIN c$i ON d.node = c$i.node
         |              LEFT JOIN sd ON d.node = sd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS src, b.pk AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
       |deg AS MATERIALIZED (
       |  SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
       |nn AS (SELECT least($seedCount, count(*)) AS s FROM deg),
       |sd AS MATERIALIZED (
       |  SELECT node, 1 AS seed_flag FROM deg
       |  ORDER BY outdeg DESC, node LIMIT $seedCount),
       |r0 AS (SELECT d.node, d.outdeg,
       |              CASE WHEN sd.node IS NOT NULL
       |                   THEN 1000000000000 // (SELECT s FROM nn)
       |                   ELSE 0 END AS r
       |       FROM deg d LEFT JOIN sd ON d.node = sd.node),
       |$steps
       |SELECT r$iterations.node AS part_node, r$iterations.r AS rank_scaled,
       |       CAST(COALESCE(sd.seed_flag, 0) AS BIGINT) AS is_seed
       |FROM r$iterations LEFT JOIN sd ON r$iterations.node = sd.node"""
      .stripMargin
  }

  /** Unrolled LPA oracle: `rounds` sync passes as chained CTEs, the
    * per-node argmax spelled as window-max + min(label) over the
    * maximal-count rows — identical tie semantics to the Spark side's
    * `max(struct(count, −label))`. All-integer, so bit-exact.
    */
  private def duckLpaCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT e.dst AS node, l.label, count(*) AS c
         |  FROM e JOIN l${r - 1} l ON e.src = l.node GROUP BY 1, 2),
         |l$r AS MATERIALIZED (
         |  SELECT node, min(label) AS label FROM (
         |    SELECT node, label, c,
         |           max(c) OVER (PARTITION BY node) AS mc FROM m$r) t
         |  WHERE c = mc GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS src, b.pk AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS label FROM e),
       |$steps""".stripMargin
  }

  private def duckLpaSql(rounds: Int = LpaRounds): String =
    s"""WITH ${duckLpaCtes(rounds)}
       |SELECT node AS part_node, label FROM l$rounds""".stripMargin

  /** LPA-modularity twin: the LPA round CTEs composed with the
    * both-ways modularity arithmetic of [[modularityOfLabelsOn]] — same
    * exact-integer inputs, same IEEE tree for share/q_contrib.
    */
  private def duckLpaModularitySql(rounds: Int = LpaRounds): String =
    s"""WITH ${duckLpaCtes(rounds)},
       |lab AS MATERIALIZED (
       |  SELECT node, label AS cluster_id FROM l$rounds),
       |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
       |mm AS (SELECT count(*) AS m2 FROM e),
       |dc AS (
       |  SELECT lab.cluster_id, count(*) AS n_nodes,
       |         CAST(sum(deg.deg) AS BIGINT) AS d_sum
       |  FROM deg JOIN lab USING (node) GROUP BY 1),
       |ec AS (
       |  SELECT la.cluster_id, count(*) AS e_in
       |  FROM e JOIN lab la ON e.src = la.node
       |         JOIN lab lb ON e.dst = lb.node
       |  WHERE la.cluster_id = lb.cluster_id
       |  GROUP BY 1),
       |f AS (
       |  SELECT dc.cluster_id, dc.n_nodes,
       |         COALESCE(ec.e_in, 0) AS e_in, dc.d_sum, mm.m2,
       |         CAST(dc.d_sum AS DOUBLE) / CAST(mm.m2 AS DOUBLE) AS share
       |  FROM dc LEFT JOIN ec USING (cluster_id), mm)
       |SELECT cluster_id, n_nodes, e_in, d_sum, m2,
       |       CAST(e_in AS DOUBLE) / CAST(m2 AS DOUBLE) - share * share
       |         AS q_contrib
       |FROM f""".stripMargin

  /** Unrolled k-core oracle: 8 peel rounds as chained CTEs (e0..e8),
    * identical restriction arithmetic per round.
    */
  private def duckKcoreSql: String = {
    // every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    // each round references its predecessor TWICE (the edge relation
    // and the survivor set), so the inlined expression tree would grow
    // 2^rounds — materialization keeps the unrolled peel linear, which
    // is also what the Spark side's per-round localCheckpoint does
    val rounds = (1 to 8).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY 1
         |        HAVING count(*) >= 80),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |        JOIN k$i a ON e.src = a.src
         |        JOIN k$i b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS src, b.pk AS dst
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
       |$rounds
       |SELECT src AS node, count(*) AS core_deg FROM e8 GROUP BY 1"""
      .stripMargin
  }

  /** DuckDB twin: the same 3 fixed-point iterations unrolled as CTEs —
    * `//` (floor div) equals Spark's `div` for the all-positive values
    * here, and BIGINT sums are order-independent, so the hash matches
    * exactly.
    */
  def oracleSql: Map[String, String] = Map(
    "graph_ppr" -> duckPprSql(),
    "graph_bfs" ->
      s"""WITH RECURSIVE li AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT a.pk AS src, b.pk AS dst
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         |deg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
         |sd AS MATERIALIZED (
         |  SELECT node FROM deg ORDER BY outdeg DESC, node
         |  LIMIT $PprSeedCount),
         |bfs AS (
         |  SELECT node, 0 AS dist FROM sd
         |  UNION
         |  SELECT e.dst AS node, b.dist + 1 AS dist
         |  FROM bfs b JOIN e ON e.src = b.node
         |  WHERE b.dist < $BfsRounds)
         |SELECT node AS part_node, CAST(min(dist) AS BIGINT) AS dist
         |FROM bfs GROUP BY 1""".stripMargin,
    "graph_assortativity" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        |s AS (
        |  SELECT count(*) AS m_ends,
        |         CAST(sum(du.deg * dv.deg) AS BIGINT) AS sjk,
        |         CAST(sum(du.deg) AS BIGINT) AS sj,
        |         CAST(sum(du.deg * du.deg) AS BIGINT) AS sjj
        |  FROM e JOIN deg du ON e.src = du.node
        |         JOIN deg dv ON e.dst = dv.node),
        |f AS (
        |  SELECT *, m_ends * sjk - sj * sj AS r_num,
        |            m_ends * sjj - sj * sj AS r_den
        |  FROM s)
        |SELECT m_ends, sjk, sj, sjj, r_num, r_den,
        |       CAST(r_num AS DOUBLE) / CAST(r_den AS DOUBLE) AS assortativity
        |FROM f""".stripMargin,
    "graph_hits" ->
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |a1 AS (SELECT s, count(*) AS a1 FROM e GROUP BY 1),
        |h1 AS (
        |  SELECT e.c, CAST(sum(a1.a1) AS BIGINT) AS h1
        |  FROM e JOIN a1 ON e.s = a1.s GROUP BY 1),
        |a2 AS (
        |  SELECT e.s, CAST(sum(h1.h1) AS BIGINT) AS a2
        |  FROM e JOIN h1 ON e.c = h1.c GROUP BY 1)
        |SELECT a2.s AS s_suppkey, a1.a1 AS indeg, a2.a2
        |FROM a2 JOIN a1 ON a2.s = a1.s""".stripMargin,
    "graph_kcore" -> duckKcoreSql,
    "graph_lpa" -> duckLpaSql(),
    "graph_lpa_modularity" -> duckLpaModularitySql(),
    // same degree-orientation + wedge close + 3-edges-per-triangle plan,
    // tuple comparisons spelled as ROW(...) < ROW(...)
    "graph_wcc" ->
      """WITH RECURSIVE li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |p AS (SELECT src AS doc_a, dst AS doc_b FROM e WHERE src < dst),
        |und AS (
        |  SELECT doc_a AS u, doc_b AS v FROM p
        |  UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT u AS node, u AS r FROM und
        |  UNION
        |  SELECT und.u AS node, reach.r
        |  FROM und JOIN reach ON und.v = reach.node),
        |lab AS (
        |  SELECT node, min(r) AS comp
        |  FROM (SELECT node, r FROM reach
        |        UNION SELECT node, node FROM (SELECT DISTINCT u AS node
        |                                      FROM und))
        |  GROUP BY 1)
        |SELECT comp AS component_id, count(*) AS n_nodes
        |FROM lab GROUP BY 1""".stripMargin,
    // the certificate's CANONICAL form re-derived: closure for comp,
    // bounded multi-source BFS from the component roots for depth,
    // min-neighbor-one-level-up for parent (WccCertMaxRounds matches
    // the Spark side's safety bound; both exhaust at the eccentricity)
    "graph_wcc_cert" ->
      s"""WITH RECURSIVE li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT a.pk AS src, b.pk AS dst
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
         |reach AS (
         |  SELECT src AS node, src AS r FROM e
         |  UNION
         |  SELECT e.src AS node, reach.r
         |  FROM e JOIN reach ON e.dst = reach.node),
         |lab AS MATERIALIZED (
         |  SELECT node, min(r) AS comp FROM reach GROUP BY 1),
         |bfs AS (
         |  SELECT node, 0 AS d FROM lab WHERE node = comp
         |  UNION
         |  SELECT e.src AS node, b.d + 1 AS d
         |  FROM e JOIN bfs b ON e.dst = b.node
         |  WHERE b.d < $WccCertMaxRounds),
         |lvl AS MATERIALIZED (
         |  SELECT node, CAST(min(d) AS BIGINT) AS depth FROM bfs GROUP BY 1),
         |par AS (
         |  SELECT e.src AS node, min(e.dst) AS parent
         |  FROM e JOIN lvl lu ON e.src = lu.node
         |         JOIN lvl lv ON e.dst = lv.node
         |  WHERE lv.depth = lu.depth - 1
         |  GROUP BY 1)
         |SELECT l.node, lab.comp, p.parent, l.depth
         |FROM lvl l JOIN lab ON l.node = lab.node
         |LEFT JOIN par p ON l.node = p.node""".stripMargin,
    "graph_link_pred" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS MATERIALIZED (
        |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        |ew AS MATERIALIZED (
        |  SELECT w, dst, deg_w FROM (
        |    SELECT e.src AS w, e.dst AS dst, d.deg AS deg_w,
        |           row_number() OVER (PARTITION BY e.src
        |                              ORDER BY du.deg, e.dst) AS nbrank
        |    FROM e JOIN deg d ON e.src = d.node
        |           JOIN deg du ON e.dst = du.node
        |    WHERE d.deg <= 256)
        |  WHERE nbrank <= 32),
        |wed AS (
        |  SELECT a.w, a.dst AS u, b.dst AS v, a.deg_w
        |  FROM ew a JOIN ew b ON a.w = b.w AND a.dst < b.dst),
        |sc AS (
        |  SELECT u, v, count(*) AS common,
        |         CAST(sum(1000000 // deg_w) AS BIGINT) AS ra_micro
        |  FROM wed GROUP BY 1, 2),
        |cand AS (
        |  SELECT sc.u, sc.v, sc.common, sc.ra_micro
        |  FROM sc LEFT JOIN e ON sc.u = e.src AND sc.v = e.dst
        |  WHERE e.src IS NULL)
        |SELECT u, v, common, ra_micro,
        |       CAST(ra_micro AS DOUBLE) / 1000000.0 AS ra
        |FROM cand ORDER BY ra_micro DESC, u, v LIMIT 100""".stripMargin,
    "graph_edge_jaccard" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS MATERIALIZED (
        |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        |orient AS MATERIALIZED (
        |  SELECT e.src, e.dst, dv.deg AS dv
        |  FROM e JOIN deg du ON e.src = du.node
        |         JOIN deg dv ON e.dst = dv.node
        |  WHERE ROW(du.deg, e.src) < ROW(dv.deg, e.dst)),
        |tri AS MATERIALIZED (
        |  SELECT w.n, w.b, w.c FROM (
        |    SELECT e1.src AS n, e1.dst AS b, e2.dst AS c
        |    FROM orient e1 JOIN orient e2
        |      ON e1.src = e2.src
        |     AND ROW(e1.dv, e1.dst) < ROW(e2.dv, e2.dst)) w
        |  JOIN orient e3 ON e3.src = w.b AND e3.dst = w.c),
        |te AS (
        |  SELECT least(n, b) AS u, greatest(n, b) AS v FROM tri
        |  UNION ALL
        |  SELECT least(n, c), greatest(n, c) FROM tri
        |  UNION ALL
        |  SELECT least(b, c), greatest(b, c) FROM tri),
        |support AS (SELECT u, v, count(*) AS common FROM te GROUP BY 1, 2)
        |SELECT s.u, s.v, s.common, du.deg AS deg_u, dv.deg AS deg_v,
        |       CAST(s.common AS DOUBLE)
        |         / (du.deg + dv.deg - 2 - s.common) AS jaccard
        |FROM support s JOIN deg du ON s.u = du.node
        |               JOIN deg dv ON s.v = dv.node
        |ORDER BY jaccard DESC, s.u, s.v LIMIT 100""".stripMargin,
    "graph_clustering" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS MATERIALIZED (
        |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        |orient AS MATERIALIZED (
        |  SELECT e.src, e.dst, dv.deg AS dv
        |  FROM e JOIN deg du ON e.src = du.node
        |         JOIN deg dv ON e.dst = dv.node
        |  WHERE ROW(du.deg, e.src) < ROW(dv.deg, e.dst)),
        |tri AS MATERIALIZED (
        |  SELECT w.n, w.b, w.c FROM (
        |    SELECT e1.src AS n, e1.dst AS b, e2.dst AS c
        |    FROM orient e1 JOIN orient e2
        |      ON e1.src = e2.src
        |     AND ROW(e1.dv, e1.dst) < ROW(e2.dv, e2.dst)) w
        |  JOIN orient e3 ON e3.src = w.b AND e3.dst = w.c),
        |corn AS (
        |  SELECT n AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri),
        |tc AS (SELECT node, count(*) AS n_tri FROM corn GROUP BY 1)
        |SELECT d.node, d.deg, COALESCE(tc.n_tri, 0) AS n_tri,
        |       CASE WHEN d.deg < 2 THEN 0.0
        |            ELSE 2.0 * CAST(COALESCE(tc.n_tri, 0) AS DOUBLE) /
        |                 CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS coeff
        |FROM deg d LEFT JOIN tc USING (node)""".stripMargin,
    "graph_degrees" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY 1),
        |h AS (SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1),
        |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS n_total FROM h)
        |SELECT h.degree, h.n_nodes,
        |       CAST(h.n_nodes AS DOUBLE) / t.n_total AS node_share
        |FROM h, t""".stripMargin,
    "graph_pagerank" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM deg),
        |r0 AS (SELECT node, outdeg,
        |              1000000000000 // (SELECT n FROM nn) AS r FROM deg),
        |c1 AS (SELECT e.dst AS node, CAST(sum(r0.r // r0.outdeg) AS BIGINT) AS csum
        |       FROM e JOIN r0 ON e.src = r0.node GROUP BY 1),
        |r1 AS (SELECT d.node, d.outdeg,
        |              (1000000000000 * 15) // (100 * (SELECT n FROM nn)) +
        |              (85 * COALESCE(c1.csum, 0)) // 100 AS r
        |       FROM deg d LEFT JOIN c1 ON d.node = c1.node),
        |c2 AS (SELECT e.dst AS node, CAST(sum(r1.r // r1.outdeg) AS BIGINT) AS csum
        |       FROM e JOIN r1 ON e.src = r1.node GROUP BY 1),
        |r2 AS (SELECT d.node, d.outdeg,
        |              (1000000000000 * 15) // (100 * (SELECT n FROM nn)) +
        |              (85 * COALESCE(c2.csum, 0)) // 100 AS r
        |       FROM deg d LEFT JOIN c2 ON d.node = c2.node),
        |c3 AS (SELECT e.dst AS node, CAST(sum(r2.r // r2.outdeg) AS BIGINT) AS csum
        |       FROM e JOIN r2 ON e.src = r2.node GROUP BY 1),
        |r3 AS (SELECT d.node,
        |              (1000000000000 * 15) // (100 * (SELECT n FROM nn)) +
        |              (85 * COALESCE(c3.csum, 0)) // 100 AS r
        |       FROM deg d LEFT JOIN c3 ON d.node = c3.node)
        |SELECT node AS part_node, r AS rank_scaled FROM r3""".stripMargin,
    "graph_triangles" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        |rel AS (
        |  SELECT e.src, e.dst, dv.deg AS dv
        |  FROM e JOIN deg du ON e.src = du.node
        |         JOIN deg dv ON e.dst = dv.node
        |  WHERE (du.deg, e.src) < (dv.deg, e.dst)),
        |wedges AS (
        |  SELECT e1.dst AS b, e2.dst AS c
        |  FROM rel e1 JOIN rel e2
        |    ON e1.src = e2.src AND (e1.dv, e1.dst) < (e2.dv, e2.dst))
        |SELECT count(*) AS n_triangles
        |FROM wedges w JOIN rel ON w.b = rel.src AND w.c = rel.dst"""
        .stripMargin,
  )
}
