package graft.ext

import graft.SparkSpec

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val mixedEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L),
    (10L, 12L), (20L, 21L))
  private val mixedExpect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
    10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)

  test("chains, triangles, and separate components resolve to min labels") {
    // components: {1,2,3} (chain), {10,11,12} (triangle), {20,21}
    val got = Components.connectedComponents(mixedEdges.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(got === mixedExpect)
  }

  test("distributed label propagation agrees with driver union-find") {
    // localThreshold = -1 forces the distributed fixpoint path
    val got = Components.connectedComponents(
      mixedEdges.toDF("doc_a", "doc_b"), localThreshold = -1L)
      .as[(Long, Long)].collect().toMap
    assert(got === mixedExpect)
  }

  test("long chain converges within the iteration cap (label hops)") {
    // path graph 0-1-2-...-12: min label must travel the full diameter —
    // on the DISTRIBUTED path, where convergence is iterative
    val edges = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Components.connectedComponents(edges, localThreshold = -1L)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 13)
    assert(got.values.forall(_ === 0L))
  }

  test("distributed path: of its rounds, only the returned one stays " +
      "stored") {
    // path graph 0-1-...-6: seven rounds, so the loop supersedes several
    val sc = spark.sparkContext
    val edges = (0L until 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = sc.getPersistentRDDs.keySet
    val out = Components.connectedComponents(edges, localThreshold = 0L)
    assert(out.as[(Long, Long)].collect().forall(_._2 === 0L))
    assert((sc.getPersistentRDDs.keySet -- before).size === 1)
    graft.CheckpointLease.releaseAll()
  }

  test("canonicalDocs: longest doc wins, ties break to smallest doc_id") {
    // docs 1,2 near-dup (identical text), 2 longer by n_chars -> 2 is
    // canonical of cluster 1; docs 4,5 near-dup with EQUAL n_chars ->
    // min doc_id 4 wins; doc 3 unrelated -> no cluster row at all
    val d = Seq(
      (1L, "a b c d e f", 10L), (2L, "a b c d e f", 12L),
      (3L, "q r s t u v", 6L),
      (4L, "x y z w k m", 7L), (5L, "x y z w k m", 7L))
      .toDF("doc_id", "text", "n_chars")
    val got = Components.canonicalDocs(d)
      .select("cluster_id", "n_docs", "canonical_doc", "canonical_chars",
        "dropped_docs", "dropped_chars")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(got.keySet === Set(1L, 4L))
    assert(got(1L) === ((1L, 2L, 2L, 12L, 1L, 10L)))
    assert(got(4L) === ((4L, 2L, 4L, 7L, 1L, 7L)))
  }

  test("modularityOfPairs: exact edge/degree masses and Newman q per cluster") {
    // triangle {1,2,3} + single edge {4,5}: m = 4
    // cluster 1: e=3, d=6 -> q = 3/4 - (6/8)^2 = 0.1875
    // cluster 4: e=1, d=2 -> q = 1/4 - (2/8)^2 = 0.1875
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L))
      .toDF("doc_a", "doc_b")
    val got = Components.modularityOfPairs(pairs)
      .select("cluster_id", "n_docs", "e_in", "d_sum", "m", "q_contrib")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    graft.CheckpointLease.releaseAll()
    assert(got(1L) === ((1L, 3L, 3L, 6L, 4L, 0.1875)))
    assert(got(4L) === ((4L, 2L, 1L, 2L, 4L, 0.1875)))
  }
}
