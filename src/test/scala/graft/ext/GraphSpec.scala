package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pagerank on a 3-node path matches hand-computed fixed point") {
    // undirected path 1 — 2 — 3, emitted both directions
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)
    ).toDF("src", "dst")
    val got = Graph.pagerank(edges, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // n=3, scale=1e12: r0 = 333333333333 each; teleport = 5e10
    // node1: in from 2 (outdeg 2): c = 333333333333 div 2 = 166666666666
    //   r1 = 5e10 + (85*166666666666) div 100 = 5e10 + 141666666666
    val c12 = 333333333333L / 2
    val end = 50000000000L + 85L * c12 / 100
    // node2: in from 1 and 3 (outdeg 1 each): csum = 2*333333333333
    val mid = 50000000000L + 85L * (2 * 333333333333L) / 100
    assert(got(1L) === end)
    assert(got(3L) === end)
    assert(got(2L) === mid)
    // rank mass approximately conserved (truncation loses <1 unit/node/step)
    assert(math.abs(got.values.sum - Graph.Scale) < 10L)
    graft.CheckpointLease.releaseAll()
  }

  test("pagerank is deterministic across partitionings") {
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L),
      (1L, 4L), (4L, 1L)
    ).toDF("src", "dst")
    val a = Graph.pagerank(edges.repartition(1), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    val b = Graph.pagerank(edges.repartition(7), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    assert(a.toSeq === b.toSeq)
  }

  test("personalizedPagerank: hand-replayed 3 iterations, teleport only " +
      "to the top-degree seed") {
    // undirected path 1 — 2 — 3: seed = node 2 (degree 2), s = 1,
    // teleport = 1.5e11, init r = [0, 1e12, 0]; three exact
    // fixed-point iterations land on [370812500000, 258375000000, ...]
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)
    ).toDF("src", "dst")
    val got = Graph.personalizedPagerank(edges, iterations = 3, seedCount = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) === ((370812500000L, 0L)))
    assert(got(2L) === ((258375000000L, 1L)))
    assert(got(3L) === ((370812500000L, 0L)))
    graft.CheckpointLease.releaseAll()
  }

  test("personalizedPagerank: deterministic across partitionings, " +
      "zero rank stays on nodes the walk cannot reach") {
    // two components: square 1-2-3-4 and isolated pair 5-6; seeds land
    // in the square (higher degree), so 5/6 keep rank exactly 0
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (5L, 6L))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val a = Graph.personalizedPagerank(edges.repartition(1), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    val b = Graph.personalizedPagerank(edges.repartition(7), 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    assert(a.toSeq === b.toSeq)
    // seeds: nodes 1 and 3 (degree 3 each, smallest ids win ties)
    assert(a.filter(_._3 == 1L).map(_._1).toSeq === Seq(1L, 3L))
    assert(a.filter(x => x._1 >= 5L).forall(_._2 === 0L),
      "isolated component must keep zero rank")
    // one iteration, hand-replayed: seeds 1 and 3 start at Scale/2 and
    // send (Scale/2) div 3 along each edge; a seed gets the teleport
    // Scale·15/200 plus 85 % of the other seed's share, nodes 2 and 4
    // 85 % of both seeds' shares
    val one = Graph.personalizedPagerank(edges, iterations = 1, seedCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    val c = Graph.Scale / 2 / 3
    val seed = Graph.Scale * 15L / 200L + 85L * c / 100
    val mid = 85L * (2 * c) / 100
    assert(one.toSeq === Seq((1L, seed, 1L), (2L, mid, 0L), (3L, seed, 1L),
      (4L, mid, 0L), (5L, 0L, 0L), (6L, 0L, 0L)))
  }

  test("triangleCount: counts each triangle once, orientation-independent") {
    // K4 on {1,2,3,4} (4 triangles) plus a pendant 4-5 (0 triangles)
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    assert(Graph.triangleCount(edges).first().getLong(0) === 4L)
    graft.CheckpointLease.releaseAll()
    // triangle-free graph: a 4-cycle
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }.toDF("src", "dst")
    assert(Graph.triangleCount(cyc).first().getLong(0) === 0L)
    graft.CheckpointLease.releaseAll()
  }

  test("triangleCount: shuffle-join fallback path counts identically") {
    // broadcastMaxEdges = 0 forces the non-broadcast closing join; the
    // count must not depend on which join strategy the gate picks
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val viaBroadcast = Graph.triangleCount(edges).first().getLong(0)
    graft.CheckpointLease.releaseAll()
    val viaShuffle =
      Graph.triangleCount(edges, broadcastMaxEdges = 0L).first().getLong(0)
    graft.CheckpointLease.releaseAll()
    assert(viaBroadcast === 5L) // 4 in K4 + triangle 4-5-6
    assert(viaShuffle === viaBroadcast)
  }

  test("triangle orientation plan contains no window operator") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    // the orientation subplan is where the old dense-rank relabel put an
    // unpartitioned row_number() — assert the struct-comparison form
    // really dropped it (the outer plan is cut at a checkpoint, so it is
    // the subplan that must be window-free)
    val plan = Graph.orientedEdges(edges)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"),
      s"orientation must not use a global window:\n$plan")
    val orient = Graph.orientedEdges(edges).as[(Long, Long, Long)]
      .collect().map { case (s, d, _) => (s, d) }.toSet
    assert(orient === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("kcore: peels below-k nodes, cascade removes dependents round by " +
      "round") {
    // triangle {1,2,3} + path 3-4, 4-5: at k=2 node 5 (deg 1) peels in
    // round 1, which drops node 4 to deg 1 so it peels in round 2 —
    // only the triangle survives, each node at in-core degree 2
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val core = Graph.kcore(edges, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    graft.CheckpointLease.releaseAll()
    // k above the max degree empties the graph
    assert(Graph.kcore(edges, k = 10, rounds = 3).count() === 0L)
    graft.CheckpointLease.releaseAll()
  }

  test("coPurchaseEdges pairs within orders, undirected, mega-order capped") {
    val li = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), // order 10: triangle
      (11L, 1L), (11L, 2L),            // order 11: reinforces 1-2
      (12L, 7L),                       // singleton: no pairs
      (13L, 8L), (13L, 9L), (13L, 8L)  // duplicate lineitem rows collapse
    ).toDF("l_orderkey", "l_partkey")
    val e = Graph.coPurchaseEdges(li).as[(Long, Long)].collect().toSet
    assert(e === Set(
      (1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L),
      (8L, 9L), (9L, 8L)))

    // an order above the item cap contributes nothing
    val mega = (1 to 50).map(i => (99L, i.toLong)).toDF("l_orderkey", "l_partkey")
    assert(Graph.coPurchaseEdges(mega, maxOrderItems = 10).count() === 0L)
    assert(Graph.coPurchaseEdges(mega, maxOrderItems = 50).count() === 50L * 49)
  }

  test("edgeJaccard: per-edge common-neighbor counts with exact weights") {
    // K4 on {1,2,3,4}: every edge sits on 2 triangles, all degrees 3 ->
    // jaccard = 2 / (3 + 3 - 2 - 2) = 1.0 for all 6 edges; pendant edge
    // 4-5 has no common neighbor -> absent from the output
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val got = Graph.edgeJaccard(edges)
      .select("u", "v", "common", "deg_u", "deg_v", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    graft.CheckpointLease.releaseAll()
    assert(got.length === 6)
    assert(got.map(r => (r._1, r._2)).toSet ===
      Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // edges touching node 4 see its pendant-inflated degree 4
    got.foreach { case (u, v, common, du, dv, j) =>
      assert(common === 2L)
      val expDeg = (n: Long) => if (n == 4L) 4L else 3L
      assert(du === expDeg(u) && dv === expDeg(v))
      assert(j === 2.0 / (du + dv - 2 - 2))
    }
    // deterministic ranking: non-4 edges (j=1.0) sort before 4-edges
    val ranked = Graph.edgeJaccard(edges).select("u", "v")
      .as[(Long, Long)].collect().toSeq
    graft.CheckpointLease.releaseAll()
    assert(ranked === Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (1L, 4L), (2L, 4L), (3L, 4L)))
  }

  test("edgeJaccard: shuffle-join path produces the identical ranking") {
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val viaBroadcast = Graph.edgeJaccard(edges).collect().toSeq
    graft.CheckpointLease.releaseAll()
    val viaShuffle = Graph.edgeJaccard(edges, broadcastMaxEdges = 0L)
      .collect().toSeq
    graft.CheckpointLease.releaseAll()
    assert(viaBroadcast === viaShuffle)
  }

  test("edgeJaccard: pruned path, forced fallback, and the unpruned " +
      "formulation all return the identical top-k") {
    // a graph big enough that the pool really is a strict subset and the
    // degree screen bites: 8 dense cliques of size 6 bridged in a ring,
    // plus a sparse star fringe of low-jaccard edges
    val cliques = (0 until 8).flatMap { c =>
      val ids = (0 until 6).map(i => (c * 6 + i + 1).toLong)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }
    val ring = (0 until 8).map(c =>
      ((c * 6 + 1).toLong, ((c + 1) % 8 * 6 + 2).toLong))
    val fringe = (1 to 40).map(i => (100L + i, (i % 48 + 1).toLong))
    val edges = (cliques ++ ring ++ fringe)
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val pruned = Graph.edgeJaccard(edges, topK = 10).collect().toSeq
    graft.CheckpointLease.releaseAll()
    val fallback = Graph.edgeJaccard(edges, topK = 10,
      expansionBudget = 0L).collect().toSeq
    graft.CheckpointLease.releaseAll()
    assert(pruned === fallback)
    assert(pruned.length === 10)
    // the screen must actually prune here: every clique-internal edge
    // has best-case (5-1)/(6-1) while fringe stars top out far lower
    val j = pruned.map(_.getAs[Double]("jaccard"))
    assert(j.head >= j.last && j.last > 0.0)
  }

  test("edgeJaccard: pruned and unpruned agree on the sf0.001 " +
      "co-purchase graph") {
    val edges = Graph.coPurchaseEdges(
      graft.Tables.lineitem(spark, "/root/testdata/sf0.001"))
    val pruned = Graph.edgeJaccard(edges).collect().toSeq
    graft.CheckpointLease.releaseAll()
    val full = Graph.edgeJaccard(edges, expansionBudget = 0L)
      .collect().toSeq
    graft.CheckpointLease.releaseAll()
    assert(pruned === full)
    assert(pruned.nonEmpty)
  }

  test("clusteringCoeff: triangle node 1.0, pendant/bridge nodes 0.0") {
    // triangle {1,2,3} plus pendant 3-4: nodes 1,2 have deg 2 and sit on
    // the one triangle -> coeff 1.0; node 3 deg 3 -> 2*1/(3*2) = 1/3;
    // node 4 deg 1 -> 0.0 by the deg<2 convention
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val edges = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .toDF("src", "dst")
    val got = Graph.clusteringCoeff(edges)
      .select("node", "deg", "n_tri", "coeff")
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    assert(got === Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 2.0 * 1.0 / 6.0), (4L, 1L, 0L, 0.0)))
    // struct-keyed fallback path agrees
    val viaShuffle = Graph.clusteringCoeff(edges, broadcastMaxEdges = 0L)
      .select("node", "deg", "n_tri", "coeff")
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    assert(viaShuffle === got)
  }

  test("hits: two integer iterations on a hand-built bipartite graph") {
    // purchase edges: c1->{s1,s2}, c2->{s1}; duplicate lineitem rows for
    // the same (order, supplier) must collapse via the distinct
    val li = Seq((10L, 1L), (10L, 1L), (10L, 2L), (20L, 1L))
      .toDF("l_orderkey", "l_suppkey")
    val o = Seq((10L, 100L), (20L, 200L)).toDF("o_orderkey", "o_custkey")
    // a1: s1=2, s2=1; h1: c1=a1(s1)+a1(s2)=3, c2=a1(s1)=2;
    // a2: s1=h1(c1)+h1(c2)=5, s2=h1(c1)=3
    val r = Graph.hits(li, o).select("s_suppkey", "indeg", "a2")
      .as[(Long, Long, Long)].collect().toSet
    assert(r === Set((1L, 2L, 5L), (2L, 1L, 3L)))
  }

  test("assortativity: path graph P3 is perfectly disassortative") {
    // path 1-2-3 both ways: ends (1,2),(2,1),(2,3),(3,2) with degree
    // pairs (1,2),(2,1),(2,1),(1,2) -> m=4, sjk=8, sj=6, sjj=10 ->
    // r_num = 32-36 = -4, r_den = 40-36 = 4, r = -1 (every edge joins
    // the hub to a leaf)
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst")
    val r = Graph.assortativity(edges)
      .select("m_ends", "sjk", "sj", "sjj", "r_num", "r_den", "assortativity")
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq((4L, 8L, 6L, 10L, -4L, 4L, -1.0)))
    graft.CheckpointLease.releaseAll()
  }

  test("degreeDistribution: star graph counts leaves and hub with shares") {
    // star: hub 1 connected to 2,3,4 (both directions)
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (4L, 1L)).toDF("src", "dst")
    val r = Graph.degreeDistribution(edges)
      .select("degree", "n_nodes", "node_share")
      .as[(Long, Long, Double)].collect().toSet
    assert(r === Set((3L, 1L, 0.25), (1L, 3L, 0.75)))
  }

  test("labelPropagation: two triangles over a bridge settle into two " +
      "communities with deterministic min-label ties") {
    // triangles {1,2,3} and {10,11,12}, bridge 3-10; hand-replayed sync
    // rounds: A converges to label 1; B converges to label 3 (node 3's
    // label crossed the bridge in round 1 and won B's round-2 ties)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Graph.labelPropagation(edges)
      .as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    graft.CheckpointLease.releaseAll()
  }

  test("lpaModularity: planted two-community graph scores exact per-" +
      "community q, positive Q, and beats a parity relabel") {
    // same planted graph as the LPA test: communities {1,2,3} / {10,11,12},
    // m2 = 14 directed edges; each community: e_in 6, d_sum 7
    // -> q_c = 6/14 - (7/14)^2 per community, Q ~ 0.357
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val rows = Graph.lpaModularity(edges).collect()
    val byC = rows.map(r => r.getAs[Long]("cluster_id") -> r).toMap
    assert(byC.keySet === Set(1L, 3L))
    byC.values.foreach { r =>
      assert(r.getAs[Long]("n_nodes") === 3L)
      assert(r.getAs[Long]("e_in") === 6L)
      assert(r.getAs[Long]("d_sum") === 7L)
      assert(r.getAs[Long]("m2") === 14L)
      assert(r.getAs[Double]("q_contrib") ===
        6.0 / 14 - (7.0 / 14) * (7.0 / 14))
    }
    val qLpa = rows.map(_.getAs[Double]("q_contrib")).sum
    // a community-blind parity relabel must score strictly worse
    val parity = edges.select(col("src").as("node")).distinct()
      .withColumn("cluster_id", col("node") % 2)
    val qParity = Graph.modularityOfLabelsOn(edges, parity)
      .collect().map(_.getAs[Double]("q_contrib")).sum
    assert(qLpa > 0 && qParity < 0 && qLpa > qParity)
    // one round (ties to the smallest label): 1 -> 2, 2 -> 1, 3 -> 1,
    // 10 -> 3, 11 -> 10, 12 -> 10 — the communities are not found yet
    val one = Graph.lpaModularity(edges, rounds = 1).collect()
    assert(one.map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("e_in"),
          r.getAs[Long]("d_sum"), r.getAs[Double]("q_contrib")))).toMap ===
      Map(1L -> ((2L, 2L, 5L, 2.0 / 14 - (5.0 / 14) * (5.0 / 14))),
        2L -> ((1L, 0L, 2L, 0.0 - (2.0 / 14) * (2.0 / 14))),
        3L -> ((1L, 0L, 3L, 0.0 - (3.0 / 14) * (3.0 / 14))),
        10L -> ((2L, 2L, 4L, 2.0 / 14 - (4.0 / 14) * (4.0 / 14)))))
    assert(one.map(_.getAs[Double]("q_contrib")).sum < qLpa)
    // a community with zero intra edges keeps its row (left join)
    val lone = edges.select(col("src").as("node")).distinct()
      .withColumn("cluster_id",
        when(col("node") === 1L, lit(99L)).otherwise(lit(0L)))
    val eIn = Graph.modularityOfLabelsOn(edges, lone).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("e_in")).toMap
    assert(eIn(99L) === 0L)
    graft.CheckpointLease.releaseAll()
  }

  test("labelPropagation: partition-invariant (integer argmax ties)") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val a = Graph.labelPropagation(edges.repartition(7))
      .as[(Long, Long)].collect().toSet
    graft.CheckpointLease.releaseAll()
    val b = Graph.labelPropagation(edges.coalesce(1))
      .as[(Long, Long)].collect().toSet
    graft.CheckpointLease.releaseAll()
    assert(a === b)
  }
  test("bfsDistances: hand-computed hops on a chain from the min-tie " +
      "top-degree seed; rounds cap the reach") {
    // chain 1-2-3-4-5-6: interior degrees 2 (tie -> seed = node 2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }.toDF("src", "dst")
    val got = Graph.bfsDistances(edges, seedCount = 1, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CheckpointLease.releaseAll()
    assert(got === Map(2L -> 0L, 1L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L,
      6L -> 4L))
    val capped = Graph.bfsDistances(edges, seedCount = 1, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CheckpointLease.releaseAll()
    assert(capped === Map(2L -> 0L, 1L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("bfsDistances: multi-source takes the nearer seed; disconnected " +
      "components stay out of the domain") {
    // square 1-2-3-4 plus pendant 7 on node 1; isolated pair 5-6
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 7L),
        (5L, 6L))
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }.toDF("src", "dst")
    // degrees: 1 -> 3, others 2 or 1; seeds (k=2) = {1, 2} (tie at 2
    // broken by id)
    val got = Graph.bfsDistances(edges, seedCount = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CheckpointLease.releaseAll()
    assert(got === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 7L -> 1L))
    assert(!got.contains(5L) && !got.contains(6L))
  }

  test("linkPrediction: RA on a 4-cycle scores both diagonals via two " +
      "degree-2 middles; adjacent pairs are excluded") {
    // cycle 1-2-3-4-1: non-adjacent pairs (1,3) and (2,4), each with
    // common neighbors of degree 2 -> ra_micro = 2 * (10^6 div 2) = 10^6
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 4L), (4L, 3L), (4L, 1L), (1L, 4L)).toDF("src", "dst")
    val r = Graph.linkPrediction(edges)
      .select("u", "v", "common", "ra_micro")
      .as[(Long, Long, Long, Long)].collect().sortBy(x => (x._1, x._2))
    graft.CheckpointLease.releaseAll()
    assert(r.toSeq === Seq((1L, 3L, 2L, 1000000L),
      (2L, 4L, 2L, 1000000L)))
  }

  test("linkPrediction: middles above the degree cap contribute no " +
      "evidence") {
    // star: hub 10 connects leaves 1..4 -> every leaf pair's only
    // common neighbor is the hub (deg 4). cap=3 silences it entirely;
    // cap=4 admits it with ra_micro = 10^6 div 4.
    val star = (1L to 4L).flatMap(l => Seq((10L, l), (l, 10L)))
      .toDF("src", "dst")
    assert(Graph.linkPrediction(star, maxMiddleDegree = 3L).count() === 0L)
    graft.CheckpointLease.releaseAll()
    val r = Graph.linkPrediction(star, maxMiddleDegree = 4L)
      .select("u", "v", "common", "ra_micro")
      .as[(Long, Long, Long, Long)].collect()
    graft.CheckpointLease.releaseAll()
    assert(r.length === 6) // C(4,2) leaf pairs
    assert(r.forall(x => x._3 === 1L && x._4 === 250000L))
  }

  test("linkPrediction: neighbor budget keeps the lowest-degree " +
      "neighbors, so hub-side pairs drop first") {
    // middle 10 has neighbors 1 (deg 1), 2 (deg 1), 9 (deg 3: 10,20,21)
    // budget 2 keeps {1, 2}: pair (1,2) survives, pairs with 9 do not
    val edges = Seq(
      (10L, 1L), (1L, 10L), (10L, 2L), (2L, 10L), (10L, 9L), (9L, 10L),
      (9L, 20L), (20L, 9L), (9L, 21L), (21L, 9L)).toDF("src", "dst")
    val r = Graph.linkPrediction(edges, neighborBudget = 2)
      .select("u", "v").as[(Long, Long)].collect().toSet
    graft.CheckpointLease.releaseAll()
    assert(r.contains((1L, 2L)))
    assert(!r.contains((1L, 9L)) && !r.contains((2L, 9L)))
  }

  test("weakComponents: two islands get min-id labels and exact sizes") {
    // triangle {1,2,3} and path {7-8}; both directions as coPurchase emits
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (7L, 8L), (8L, 7L)).toDF("src", "dst")
    val r = Graph.weakComponents(edges)
      .as[(Long, Long)].collect().sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    assert(r.toSeq === Seq((1L, 3L), (7L, 2L)))
  }

  test("wccCertificate: canonical spanning forest on a toy graph — " +
      "roots, min-parents, BFS depths") {
    // path 1-2-3 plus triangle edge 1-3 collapsed: component {1,2,3}
    // (root 1; 2 and 3 both depth 1, parent 1) and path {7-8-9}
    // (root 7; 8 depth 1 parent 7; 9 depth 2 parent 8)
    val edges = Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L),
      (7L, 8L), (8L, 7L), (8L, 9L), (9L, 8L)).toDF("src", "dst")
    val r = Graph.wccCertificate(edges)
      .collect().map(x => (x.getLong(0), x.getLong(1),
        Option(x.get(2)).map(_.asInstanceOf[Long]), x.getLong(3)))
      .sortBy(_._1)
    graft.CheckpointLease.releaseAll()
    assert(r.toSeq === Seq(
      (1L, 1L, None, 0L), (2L, 1L, Some(1L), 1L), (3L, 1L, Some(1L), 1L),
      (7L, 7L, None, 0L), (8L, 7L, Some(7L), 1L), (9L, 7L, Some(8L), 2L)))
  }

  test("wccCertificate: the certificate lemma's properties hold on the " +
      "sf0.001 co-purchase graph and the readout equals weakComponents") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val edges = Graph.coPurchaseEdges(li).localCheckpoint()
    val cert = Graph.wccCertificate(edges).localCheckpoint()
    val nodes = edges.select($"src".as("node")).distinct()
    // coverage: exactly the node set
    assert(cert.count() === nodes.count())
    assert(cert.join(nodes, Seq("node")).count() === cert.count())
    // (1) comp <= node; (2) root iff parent null iff depth 0
    assert(cert.filter($"comp" > $"node").count() === 0L)
    assert(cert.filter(($"depth" === 0L) =!= $"parent".isNull).count()
      === 0L)
    assert(cert.filter(($"depth" === 0L) =!= ($"comp" === $"node"))
      .count() === 0L)
    // (3) parent is a real neighbor, same comp, depth-1
    val pj = cert.filter($"parent".isNotNull)
      .join(edges.withColumnRenamed("src", "node")
        .withColumnRenamed("dst", "parent"), Seq("node", "parent"))
    assert(pj.count() === cert.filter($"parent".isNotNull).count())
    val pc = cert.filter($"parent".isNotNull).as("c")
      .join(cert.as("p"), col("c.parent") === col("p.node"))
    assert(pc.filter(col("c.comp") =!= col("p.comp")).count() === 0L)
    assert(pc.filter(col("c.depth") =!= col("p.depth") + 1L).count()
      === 0L)
    // (4) edge consistency
    val ec = edges.join(cert.select($"node".as("src"),
        $"comp".as("comp_s")), Seq("src"))
      .join(cert.select($"node".as("dst"), $"comp".as("comp_d")),
        Seq("dst"))
    assert(ec.filter($"comp_s" =!= $"comp_d").count() === 0L)
    // readout equality with weakComponents
    val fromCert = cert.groupBy($"comp".as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .as[(Long, Long)].collect().toSet
    val direct = Graph.weakComponents(edges)
      .as[(Long, Long)].collect().toSet
    graft.CheckpointLease.releaseAll()
    assert(fromCert === direct)
  }
}
