package graft.ext

import graft.{SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")

  /** The rotated corpus `(vec_id, rotated array<double>)` through the
    * rotation kernel `vec_rotate_hadamard` reports on.
    */
  private def hadamardRotate(e: org.apache.spark.sql.DataFrame) =
    e.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { case (id, v) =>
        (id, Similarity.hadamardRotateArray(v.toArray)) }
      .toDF("vec_id", "rotated")

  test("gramMatrix: exact quantized outer-product sums, partition-invariant") {
    // q1 = [10000, 20000], q2 = [5000, -2500] (all exact in float)
    val d = emb(1L -> Seq(1.0f, 2.0f), 2L -> Seq(0.5f, -0.25f))
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.gramMatrix(df)
        .select("i", "j", "n_vecs", "gram_q")
        .as[(Long, Long, Long, Long)].collect().toSet
    val want = Set(
      (0L, 0L, 2L, 125000000L),   // 1e8 + 25e6
      (0L, 1L, 2L, 187500000L),   // 2e8 - 12.5e6
      (1L, 0L, 2L, 187500000L),
      (1L, 1L, 2L, 406250000L))   // 4e8 + 6.25e6
    assert(run(d) === want)
    // partial-merge correctness: one vector per partition, same result
    assert(run(d.repartition(2)) === want)
  }

  test("dimProfile: per-coordinate min/max/zero-share, order-independent") {
    val r = Similarity.dimProfile(emb(
      1L -> Seq(1f, 0f), 2L -> Seq(3f, -2f)))
      .select("dim", "n", "min_val", "max_val", "n_zero", "zero_share")
      .as[(Int, Long, Double, Double, Long, Double)].collect().toSet
    assert(r === Set(
      (0, 2L, 1.0, 3.0, 0L, 0.0),
      (1, 2L, -2.0, 0.0, 1L, 0.5)))
  }

  test("cosine: orthogonal=0, identical=1, opposite=-1") {
    val d = emb(0L -> Seq(1f, 0f), 1L -> Seq(0f, 1f), 2L -> Seq(-1f, 0f),
      3L -> Seq(2f, 0f))
    val sims = Similarity.nearestNeighborGraph(d).collect()
      .map(r => r.getAs[Long]("src") ->
        (r.getAs[Long]("dst"), r.getAs[Double]("cosine"))).toMap
    assert(sims(0L) === ((3L, 1.0)))   // same direction, scale-invariant
    assert(sims(2L)._2 === 0.0)        // best for -x is an orthogonal vec
  }

  test("bruteForceTopK: ranks by cosine desc with id tie-break") {
    val d = emb(0L -> Seq(1f, 0f), 1L -> Seq(1f, 0f), 2L -> Seq(1f, 0f),
      3L -> Seq(0f, 1f))
    val rows = Similarity.bruteForceTopK(d, 3)
      .filter($"query_id" === 0L)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(rows.toSeq === Seq((1, 1L), (2, 2L), (3, 3L))) // ties -> id order
  }

  test("IVF recall@10 vs brute force on sf0.001 embeddings") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.bruteForceTopK(d).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(d).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // probing 4/16 TRAINED centroids must find nearly all true neighbors
    // (round-2 bound was 0.6 with untrained first-k centroids)
    assert(recall >= 0.9, s"IVF recall $recall below 0.9")
    info(f"IVF recall@10 = $recall%.2f")
  }

  test("trainCentroids: k-means separates well-separated clusters") {
    // two tight clusters on orthogonal axes; first-k init (ids 0,1) puts
    // both seeds in cluster A — training must move one to cluster B
    val d = emb(
      0L -> Seq(1f, 0.00f), 1L -> Seq(1f, 0.01f), 2L -> Seq(1f, -0.01f),
      3L -> Seq(0f, 1.00f), 4L -> Seq(0.01f, 1f), 5L -> Seq(-0.01f, 1f))
    val cents = Similarity.trainCentroids(d, k = 2, iters = 3).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(cents.size === 2)
    val dirs = cents.values.map(v => math.abs(v(0)) > math.abs(v(1))).toSet
    assert(dirs === Set(true, false),
      s"one centroid per orthogonal cluster, got $cents")
    // assignments agree: each cluster maps wholly to one centroid
    val assign = Similarity.ivfAssignments(d,
        Similarity.trainCentroids(d, k = 2, iters = 3))
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().toMap
    assert(Set(0L, 1L, 2L).map(assign).size === 1)
    assert(Set(3L, 4L, 5L).map(assign).size === 1)
    assert(assign(0L) !== assign(3L))
  }

  test("embeddingNearDupPairs: label-blocked, thresholded, a<b once") {
    val d = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0.01f), 0), // near-dups, label 0
      (2L, Seq(1f, 0f), 1),                          // dup of 0 but label 1
      (3L, Seq(0f, 1f), 0))                          // orthogonal to 0/1
      .toDF("vec_id", "embedding", "label")
    val pairs = Similarity.embeddingNearDupPairs(d, 0.9).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(pairs.toSeq === Seq((0L, 1L)),
      "only the same-label near-dup pair, emitted once")
  }

  test("embeddingNearDupPairs: hot-label sub-split bounds comparisons, " +
      "default cap leaves output unchanged") {
    // 6 near-identical vectors all in ONE label: maxBlockSize=2 splits
    // it into 3 sub-blocks by vec_id mod 3 — same guard arithmetic as
    // the IVF variant, now on the exact/oracle path
    val d = (0L to 5L).map(i => (i, Seq(1f, i * 1e-4f), 7))
      .toDF("vec_id", "embedding", "label")
    val all = Similarity.embeddingNearDupPairs(d, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val split = Similarity.embeddingNearDupPairs(d, 0.9, maxBlockSize = 2)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(all.size === 15, "label under the default cap compares all 6C2")
    assert(split === Set((0L, 3L), (1L, 4L), (2L, 5L)),
      "vec_id pmod 3 sub-blocks: {0,3},{1,4},{2,5}")
  }

  test("embeddingNearDupPairsIvf: recall >= 0.9 vs UNBLOCKED ground truth " +
      "on sf0.001 embeddings") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // ground truth: every pair past the threshold, no blocking at all —
    // harder than the label-blocked oracle (label blocking already loses
    // cross-label pairs; the IVF stack is gated against the full set)
    val truth = Similarity.embeddingNearDupPairs(
        d.withColumn("label", org.apache.spark.sql.functions.lit(0)), 0.35)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val got = Similarity.embeddingNearDupPairsIvf(d, 0.35)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(got.subsetOf(truth), "bucketing must not invent pairs")
    assert(recall >= 0.9, s"IVF near-dup recall $recall below 0.9 " +
      s"(truth ${truth.size}, got ${got.size})")
    info(f"IVF near-dup recall = $recall%.2f over ${truth.size} pairs")
  }

  test("embeddingNearDupPairsIvf: oversized buckets sub-split, pairs " +
      "emitted once") {
    // 6 near-identical vectors, a 1-centroid codebook -> one bucket;
    // maxBlockSize=2 forces the skew guard to split it into 3 sub-blocks
    val d = emb((0L to 5L).map(i => i -> Seq(1f, i * 1e-4f)): _*)
    val book = Some(Similarity.trainCentroids(d, k = 1, iters = 1))
    val all = Similarity.embeddingNearDupPairsIvf(d, 0.9, probes = 1,
      maxBlockSize = 100, codebook = book)
    val split = Similarity.embeddingNearDupPairsIvf(d, 0.9, probes = 1,
      maxBlockSize = 2, codebook = book)
    val allPairs = all.select("vec_a", "vec_b").as[(Long, Long)]
      .collect().toSet
    val splitPairs = split.select("vec_a", "vec_b").as[(Long, Long)]
      .collect().toSet
    assert(allPairs.size === 15, "unsplit bucket compares all 6C2 pairs")
    assert(splitPairs.subsetOf(allPairs))
    // vec_id pmod 3 sub-blocks: {0,3},{1,4},{2,5} -> exactly those pairs
    assert(splitPairs === Set((0L, 3L), (1L, 4L), (2L, 5L)))
    // no duplicates in either output
    assert(all.count() === allPairs.size)
    assert(split.count() === splitPairs.size)
  }

  test("quantizeInt8: scale maps max|x| to ±127, small recon error") {
    val d = Seq(
      (0L, Seq(1f, -2f, 0.5f), 0),
      (1L, Seq(0f, 0f, 0f), 0)) // zero vector guarded by the 1e-12 floor
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.quantizeInt8(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getDouble(1) === 2.0)
    assert(r(0L).getString(2) === "64,-127,32")
    assert(r(0L).getDouble(3) < 0.02, "recon error must be < scale/2 * sqrt(d)")
    assert(r(1L).getString(2) === "0,0,0")
    assert(r(1L).getDouble(3) === 0.0)
  }

  test("labelCentroids: exact micro sums, truncating-division mean for " +
      "negative sums, partition-invariant") {
    val d = Seq(
      (0L, Seq(0.5f, -0.25f), 7),
      (1L, Seq(0.25f, -0.5f), 7),
      (2L, Seq(1f, 1f), 8))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.labelCentroids(d)
      .select("label", "dim", "n_vecs", "sum_micro", "mean_micro")
      .as[(Long, Int, Long, Long, Long)].collect().toSet
    // label 7 dim 1: -250000 + -500000 = -750000 -> -375000 (exact
    // multiple); dim 0: 750000 -> 375000
    assert(r === Set(
      (7L, 0, 2L, 750000L, 375000L), (7L, 1, 2L, -750000L, -375000L),
      (8L, 0, 1L, 1000000L, 1000000L), (8L, 1, 1L, 1000000L, 1000000L)))
    // floor-vs-truncate witness: odd negative sum over 2 vecs
    val odd = Seq((0L, Seq(-0.25f), 3), (1L, Seq(-0.5000005f), 3))
      .toDF("vec_id", "embedding", "label")
    val m = Similarity.labelCentroids(odd)
      .select("sum_micro", "mean_micro").as[(Long, Long)].collect().head
    // s = -250000 + floor(-500000.5) = -750001 (odd, negative):
    // TRUNCATION gives -375000 — both Spark `div` and DuckDB `//`
    // truncate toward zero (a floor would give -375001)
    assert(m._1 === -750001L && m._2 === -375000L,
      "mean must truncate toward zero (Spark div == DuckDB //)")
    // partition invariance of the integer sums
    val shuffled = Similarity.labelCentroids(d.repartition(5))
      .select("label", "dim", "n_vecs", "sum_micro", "mean_micro")
      .as[(Long, Int, Long, Long, Long)].collect().toSet
    assert(shuffled === r)
  }

  test("centroidOutliers: driver-recomputed exact-centroid cosines, sane flags") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.centroidOutliers(emb).collect()
    assert(r.length === emb.count())
    // recompute one label's centroid cosine on the driver with the same
    // micro-truncation arithmetic
    val vecs = emb.filter(emb("label") === 3)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val dim = vecs.head._2.length
    val micro = Array.tabulate(dim)(i =>
      vecs.map(v => math.floor(v._2(i).toDouble * 1e6).toLong).sum)
    val cent = micro.map(s =>
      ((s / vecs.length).toDouble / 1e6).toFloat)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val got = r.filter(_.getAs[Long]("label") == 3L)
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Double]("cos_centroid"))
      .toMap
    vecs.foreach { case (id, v) =>
      val want = dot(v, cent) /
        (math.sqrt(dot(v, v)) * math.sqrt(dot(cent, cent)))
      assert(got(id) === want, s"vec $id")
    }
    // flags are exactly the negative-cosine rows and a minority
    val flagged = r.count(_.getAs[Boolean]("flagged"))
    r.foreach(x => assert(x.getAs[Boolean]("flagged") ===
      (x.getAs[Double]("cos_centroid") < 0.0)))
    assert(flagged > 0 && flagged < r.length / 2)
  }

  test("hardNegatives: cross-label top-k plus one same-label positive per anchor") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Similarity.hardNegatives(emb).collect()
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byAnchor = rows.groupBy(_.getAs[Long]("anchor_id"))
    assert(byAnchor.keySet === (0L until Similarity.NQueries).toSet)
    byAnchor.foreach { case (a, rs) =>
      val (pos, neg) = rs.partition(_.getAs[String]("role") == "positive")
      assert(pos.length === 1 && neg.length === Similarity.HardNegK)
      // roles match the label structure
      assert(labels(pos.head.getAs[Long]("neighbor_id")) === labels(a))
      neg.foreach(n =>
        assert(labels(n.getAs[Long]("neighbor_id")) !== labels(a)))
      // hard negatives are ordered and the positive outranks them on
      // this label-clustered corpus is NOT guaranteed — only ordering is
      val negCos = neg.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Double]("cosine"))
      assert(negCos.zip(negCos.tail).forall { case (x, y) => x >= y })
    }
  }

  test("pqProfile: full code words in range, nonneg recon, codes discriminate") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.pqProfile(emb).collect()
    assert(r.length === emb.count())
    r.foreach { row =>
      val codes = row.getAs[String]("codes_csv").split(',').map(_.toInt)
      assert(codes.length === Similarity.PqSubspaces)
      assert(codes.forall(c => c >= 0 && c < Similarity.PqCodebookK))
      assert(row.getAs[Double]("recon_sq_total") >= 0.0)
    }
    // quantization must discriminate: far more distinct code words than
    // a collapsed codebook would give
    val distinctWords = r.map(_.getAs[String]("codes_csv")).distinct.length
    assert(distinctWords > r.length / 2,
      s"only $distinctWords distinct code words over ${r.length} vectors")
  }

  test("pqTopK: ADC shortlist + exact re-rank recalls >= 0.85 of brute top-10") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(emb)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (brute & pq).size.toDouble / brute.size
    info(f"PQ recall@10 = $recall%.2f")
    assert(recall >= 0.85, f"recall $recall%.2f below gate")
    // the re-rank stage reports EXACT cosines: every (q, n) pair shared
    // with brute must carry an identical cosine value
    val bc = Similarity.bruteForceTopK(emb)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    Similarity.pqTopK(emb)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .foreach { case (q, n, c) =>
        bc.get((q, n)).foreach(exact => assert(exact === c)) }
  }

  test("ivfPqTopK: probed-list ADC + re-rank recall between the IVF " +
      "and PQ parents; cosines exact on shared pairs") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(emb)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val got = Similarity.ivfPqTopK(emb)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (brute & got).size.toDouble / brute.size
    info(f"IVF+PQ recall@10 = $recall%.2f")
    // the composition can only lose what its stages lose: IVF probes
    // measure 0.95, PQ shortlist 0.90 — gate leaves box-to-box
    // codebook margin below the measured 0.88
    assert(recall >= 0.75, f"IVF+PQ recall $recall%.2f below gate")
    // re-rank reports EXACT cosines on every pair shared with brute
    val bc = Similarity.bruteForceTopK(emb)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    Similarity.ivfPqTopK(emb)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .foreach { case (q, n, c) =>
        bc.get((q, n)).foreach(exact => assert(exact === c)) }
  }

  test("semDedup: drop set matches brute-force recomputation, cluster " +
      "keeper survives, eps monotone") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.trainCentroids(emb)
    val r = Similarity.semDedup(emb, codebook = Some(cents)).collect()
    assert(r.length === emb.count())
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i); i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val byC = r.groupBy(_.getAs[Int]("centroid_id"))
    val expected = scala.collection.mutable.Set[Long]()
    byC.values.foreach { rows =>
      for (a <- rows; b <- rows) {
        val (ca, cb) = (a.getAs[Double]("cos_centroid"),
          b.getAs[Double]("cos_centroid"))
        val (ia, ib) = (a.getAs[Long]("vec_id"), b.getAs[Long]("vec_id"))
        if ((ca < cb || (ca == cb && ia < ib)) &&
            cos(vecs(ia), vecs(ib)) >= Similarity.SemDedupEps)
          expected += ib
      }
    }
    val dropped = r.filter(_.getAs[Boolean]("dropped"))
      .map(_.getAs[Long]("vec_id")).toSet
    assert(dropped === expected.toSet)
    info(s"semDedup drops ${dropped.size} of ${r.length} at eps " +
      s"${Similarity.SemDedupEps}")
    assert(dropped.nonEmpty, "fixture corpus should contain semantic dups")
    // the least-centroid-similar member of every cluster always survives
    byC.values.foreach { rows =>
      val keeper = rows.minBy(x =>
        (x.getAs[Double]("cos_centroid"), x.getAs[Long]("vec_id")))
      assert(!keeper.getAs[Boolean]("dropped"))
    }
    // a stricter eps can only drop a subset
    val strict = Similarity.semDedup(emb, eps = 0.8,
        codebook = Some(cents)).collect()
      .filter(_.getAs[Boolean]("dropped")).map(_.getAs[Long]("vec_id")).toSet
    assert(strict.subsetOf(dropped))
  }

  test("semDedupSweep: mass conserved, monotone arms, counts equal the " +
      "operator's own drops") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Similarity.trainCentroids(emb)
    val sweep = Similarity.semDedupSweep(emb, codebook = Some(cents))
      .orderBy("eps").collect()
    assert(sweep.length === Similarity.SemDedupSweepEps.length)
    val n = emb.count()
    sweep.foreach(r =>
      assert(r.getAs[Long]("n_dropped") + r.getAs[Long]("n_kept") === n))
    val drops = sweep.map(_.getAs[Long]("n_dropped"))
    assert(drops.zip(drops.tail).forall { case (x, y) => x >= y },
      s"drop curve must fall as eps rises: ${drops.toSeq}")
    // the what-if must agree with the operator it tunes
    Seq(0.4, 0.5).foreach { eps =>
      val direct = Similarity.semDedup(emb, eps = eps,
        codebook = Some(cents)).filter(col("dropped")).count()
      val arm = sweep.find(r =>
        math.abs(r.getAs[Double]("eps") - eps) < 1e-12).get
      assert(arm.getAs[Long]("n_dropped") === direct,
        s"sweep arm $eps disagrees with semDedup($eps)")
    }
  }

  test("matryoshkaEval: full-width arm is a recall-1.0 canary, every arm " +
      "scored against the same truth set") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.matryoshkaEval(emb).orderBy("dim").collect()
    assert(r.length === Similarity.MatryoshkaDims.length)
    r.foreach { x =>
      assert(x.getAs[Long]("n_true") ===
        Similarity.NQueries.toLong * Similarity.TopK)
      val rec = x.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      info(f"dim ${x.getAs[Long]("dim")}%2d recall $rec%.2f")
    }
    val full = r.last
    assert(full.getAs[Long]("dim") === Similarity.SrpDim.toLong)
    assert(full.getAs[Double]("recall") === 1.0,
      "prefix = full vector must reproduce the exact top-k")
  }

  test("topComponent: unit loading, positive dominant eigenvalue, " +
      "residual shrinks to an eigenpair") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.topComponent(emb).orderBy("dim").collect()
    assert(r.length === Similarity.SrpDim)
    val v = r.map(_.getAs[Double]("loading"))
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    val lam = r.head.getAs[Double]("eigenvalue")
    val ve = r.head.getAs[Double]("var_explained")
    assert(lam > 0.0)
    assert(ve > 0.0 && ve <= 1.0 + 1e-12)
    // recompute the covariance with the operator's own quantization and
    // check (v, lam) approximates an eigenpair: ||Cv - lam*v|| << lam
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val d = Similarity.SrpDim
    val n = vecs.length.toDouble
    val mu = new Array[Double](d)
    val g = Array.ofDim[Double](d, d)
    vecs.foreach { x =>
      val q = x.map(f => math.floor(f.toDouble * 10000.0))
      val m6 = x.map(f => math.floor(f.toDouble * 1000000.0))
      for (i <- 0 until d) {
        mu(i) += m6(i)
        for (j <- 0 until d) g(i)(j) += q(i) * q(j)
      }
    }
    for (i <- 0 until d)
      mu(i) = math.floor(mu(i) / n) / 1000000.0 // ~ truncated micro mean
    val c = Array.tabulate(d, d)((i, j) =>
      g(i)(j) / (n * 100000000.0) - mu(i) * mu(j))
    val cv = Array.tabulate(d)(i =>
      (0 until d).map(j => c(i)(j) * v(j)).sum)
    val resid = math.sqrt(
      (0 until d).map(i => math.pow(cv(i) - lam * v(i), 2)).sum)
    info(f"eigenvalue $lam%.6g var_explained $ve%.3f residual/lam ${resid / lam}%.3f")
    // measured 0.063 on the fixture; 0.15 leaves box/fixture margin but
    // catches a materially wrong direction (a dropped iteration or a
    // mis-indexed covariance row lands far above it)
    assert(resid / lam < 0.15,
      s"power iteration far from an eigenpair: resid=$resid lam=$lam")
  }

  test("topComponents: deflated cascade — unit loadings, trace " +
      "conservation, near-orthogonal directions, per-component residual") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.TopComponentsR
    val d = Similarity.SrpDim
    val rows = Similarity.topComponents(emb)
      .orderBy("component", "dim").collect()
    assert(rows.length === r * d)
    val comps = rows.grouped(d).toSeq
    val loadings = comps.map(_.map(_.getAs[Double]("loading")))
    val lams = comps.map(_.head.getAs[Double]("eigenvalue"))
    // component 0 must be EXACTLY topComponent's output (same DAG)
    val single = Similarity.topComponent(emb).orderBy("dim").collect()
      .map(_.getAs[Double]("loading"))
    assert(loadings.head.sameElements(single),
      "deflation cascade's first component drifted from topComponent")
    loadings.foreach { v =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    // the fixtures' spectrum is nearly FLAT (top share ~2.6% of 64
    // dims), so a fixed 8-iteration budget cannot rank-order near-tied
    // eigenvalues — strict monotonicity is NOT an invariant here.
    // What IS invariant: every Rayleigh value is positive and bounded
    // by the total variance, and deflation removes EXACTLY lam from
    // the trace, so the extracted mass can never exceed tr0.
    val tr0 = comps.head.head.getAs[Double]("eigenvalue") /
      comps.head.head.getAs[Double]("var_explained")
    lams.foreach(l => assert(l > 0.0 && l <= tr0 + 1e-9))
    assert(lams.sum <= tr0 + 1e-9,
      s"deflation over-extracted: sum ${lams.sum} > trace $tr0")
    // mis-deflation (wrong sign / index transpose) re-finds the SAME
    // direction, so near-orthogonality is the load-bearing gate; the
    // flat tail leaves rotation slack (measured max 0.104 on the
    // fixture), but a repeated direction lands at ~1.0
    for (a <- 0 until r; b <- a + 1 until r) {
      val dot = loadings(a).zip(loadings(b)).map { case (x, y) => x * y }.sum
      info(f"|v$a . v$b| = ${math.abs(dot)}%.4f")
      assert(math.abs(dot) < 0.3, s"components $a,$b not orthogonal: $dot")
    }
    // residual gate per component against the spec-side recomputed,
    // spec-side deflated covariance (same quantization as the operator)
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val n = vecs.length.toDouble
    val mu = new Array[Double](d)
    val g = Array.ofDim[Double](d, d)
    vecs.foreach { x =>
      val q = x.map(f => math.floor(f.toDouble * 10000.0))
      val m6 = x.map(f => math.floor(f.toDouble * 1000000.0))
      for (i <- 0 until d) {
        mu(i) += m6(i)
        for (j <- 0 until d) g(i)(j) += q(i) * q(j)
      }
    }
    for (i <- 0 until d)
      mu(i) = math.floor(mu(i) / n) / 1000000.0
    var c = Array.tabulate(d, d)((i, j) =>
      g(i)(j) / (n * 100000000.0) - mu(i) * mu(j))
    for (k <- 0 until r) {
      val v = loadings(k)
      val lam = lams(k)
      val cv = Array.tabulate(d)(i =>
        (0 until d).map(j => c(i)(j) * v(j)).sum)
      val resid = math.sqrt(
        (0 until d).map(i => math.pow(cv(i) - lam * v(i), 2)).sum)
      info(f"component $k lam $lam%.6g resid/lam ${resid / lam}%.3f")
      // measured ≤0.097 across all four on the fixture; 0.3 leaves
      // box/fixture margin while a broken deflation (wrong sign, index
      // transpose) lands the residual near or above lam because the
      // direction then mixes an already-removed component
      assert(resid / lam < 0.3,
        s"component $k far from an eigenpair: resid=$resid lam=$lam")
      c = Array.tabulate(d, d)((i, j) => c(i)(j) - lam * v(i) * v(j))
    }
  }

  test("abttTransform: hand-built dominant direction is found and " +
      "removed; output orthogonal to the loading") {
    import spark.implicits._
    val d = Similarity.SrpDim
    // variance concentrated on dim 3 (strong) and dim 17 (weak): the
    // top component must be ±e3 and the transform must null its energy
    val rows = (0 until 40).map { k =>
      val arr = Array.fill(d)(0.05f)
      arr(3) = 0.1f + 0.02f * k
      arr(17) = 0.05f + 0.001f * (k % 5)
      (k.toLong, arr.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val loading = Similarity.topComponent(emb).orderBy("dim")
      .collect().map(_.getAs[Double]("loading"))
    assert(math.abs(math.abs(loading(3)) - 1.0) < 0.01,
      s"dominant loading should be +-e3, got ${loading(3)}")
    val t = Similarity.abttTransform(emb).orderBy("vec_id").collect()
    assert(t.length === 40)
    t.foreach { r =>
      val e = r.getSeq[Double](1)
      // x' = cen - (v.cen) v  =>  v.x' = 0 exactly (up to float eps)
      val proj = e.zip(loading).map { case (x, w) => x * w }.sum
      assert(math.abs(proj) < 1e-9, s"not orthogonal to v: $proj")
      // the dominant axis's energy is gone (mean + projection removed)
      assert(math.abs(e(3)) < 5e-3, s"dim-3 energy survived: ${e(3)}")
    }
  }

  test("abttEval: raw arm is a recall-1.0 canary, abtt arm bounded") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.abttEval(emb).collect()
    assert(r.length === 2)
    val raw = r.find(_.getAs[String]("space") == "raw").get
    val ab = r.find(_.getAs[String]("space") == "abtt").get
    Seq(raw, ab).foreach(x => assert(x.getAs[Long]("n_true") ===
      Similarity.NQueries.toLong * Similarity.TopK))
    assert(raw.getAs[Double]("recall") === 1.0,
      "raw space scored against itself must be a perfect recall canary")
    val rec = ab.getAs[Double]("recall")
    assert(rec >= 0.0 && rec <= 1.0)
    info(f"abtt recall@10 vs raw space: $rec%.2f")
  }

  test("whitenTransform: output replays the literal center/project/" +
      "fused-add DAG of the solved components") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val comps = Similarity.topComponentsSolve(emb).get
    val d = comps.head.mu.length
    val lamBar = comps.head.tr / d
    val scales = comps.map(c =>
      if (c.lam > 0.0)
        math.min(math.sqrt(lamBar / c.lam), Similarity.WhitenScaleCap)
      else 1.0)
    // healthy near-isotropic spectrum: neither the cap nor the
    // degenerate guard binds
    scales.foreach(s => assert(s > 0.3 && s < Similarity.WhitenScaleCap))
    val raw = emb.orderBy("vec_id").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).toArray).toMap
    val out = Similarity.whitenTransform(emb).orderBy("vec_id").collect()
    assert(out.length === raw.size)
    out.take(20).foreach { r =>
      val x = raw(r.getAs[Long]("vec_id"))
      // the same fold orders as the plan: center ascending, one
      // sequential projection per component on the SAME cen, then the
      // left-assoc fused adds
      val cen = Array.tabulate(d)(i => x(i).toDouble - comps.head.mu(i))
      val pj = comps.map { c =>
        var acc = 0.0
        for (i <- 0 until d) acc += cen(i) * c.v(i)
        acc
      }
      val expect = Array.tabulate(d) { i =>
        var e = cen(i)
        for (k <- comps.indices)
          e = e + pj(k) * (scales(k) - 1.0) * comps(k).v(i)
        e
      }
      val got = r.getSeq[Double](1)
      for (i <- 0 until d)
        assert(math.abs(got(i) - expect(i)) < 1e-12,
          s"dim $i: got ${got(i)} expect ${expect(i)}")
    }
  }

  test("whitenTransform: degenerate all-identical corpus maps to the " +
      "zero vector (guarded scales, centered out)") {
    import spark.implicits._
    val d = Similarity.SrpDim
    val emb = (0 until 12).map(k =>
      (k.toLong, Array.fill(d)(0.25f).toSeq)).toDF("vec_id", "embedding")
    val out = Similarity.whitenTransform(emb).collect()
    assert(out.length === 12)
    out.foreach(r =>
      r.getSeq[Double](1).foreach(v => assert(math.abs(v) < 1e-9)))
  }

  test("whitenEval: raw arm is a recall-1.0 canary, whiten arm bounded") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.whitenEval(emb).collect()
    assert(r.length === 2)
    val raw = r.find(_.getAs[String]("space") == "raw").get
    val wh = r.find(_.getAs[String]("space") == "whiten").get
    Seq(raw, wh).foreach(x => assert(x.getAs[Long]("n_true") ===
      Similarity.NQueries.toLong * Similarity.TopK))
    assert(raw.getAs[Double]("recall") === 1.0,
      "raw space scored against itself must be a perfect recall canary")
    val rec = wh.getAs[Double]("recall")
    assert(rec >= 0.0 && rec <= 1.0)
    info(f"whiten recall@10 vs raw space: $rec%.2f")
  }

  test("embeddingDecontam: planted near-copy flagged, benchmark " +
      "excluded, report covers every corpus vector") {
    import spark.implicits._
    val d = Similarity.SrpDim
    // splitmix64 finalizer: a plain multiplicative hash of the
    // (seed, i) arithmetic progression leaves Weyl-sequence structure
    // in the high bits and cross-seed cosines up to ~0.5
    def mix(x0: Long): Long = {
      var x = x0
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    def vec(seed: Int): Array[Float] =
      Array.tabulate(d) { i =>
        ((mix(seed * 1000003L + i * 7919L) >>> 40) % 1000L - 500L) /
          1000.0f
      }
    // bench = label 0 (ids 0,1); corpus: id 10 is a near-copy of bench
    // vector 0 (tiny perturbation), ids 11/12 are unrelated
    val near = vec(1).clone(); near(0) += 0.01f
    val rows = Seq(
      (0L, vec(1).toSeq, 0), (1L, vec(2).toSeq, 0),
      (10L, near.toSeq, 3), (11L, vec(7).toSeq, 4),
      (12L, vec(11).toSeq, 5))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val r = Similarity.embeddingDecontam(emb).collect()
      .map(x => x.getAs[Long]("vec_id") -> x).toMap
    assert(r.keySet === Set(10L, 11L, 12L),
      "one screening row per corpus vector, none for the benchmark")
    assert(r(10L).getAs[Boolean]("contaminated"),
      "planted near-copy must be flagged")
    assert(r(10L).getAs[Long]("best_bench_id") === 0L)
    assert(r(10L).getAs[Double]("best_cosine") > 0.99)
    r.values.foreach { x =>
      val c = x.getAs[Double]("best_cosine")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(x.getAs[Boolean]("contaminated") ===
        (c >= Similarity.DecontamEps))
    }
    // hash-decorrelated unrelated vectors stay clean
    assert(!r(11L).getAs[Boolean]("contaminated"))
    assert(!r(12L).getAs[Boolean]("contaminated"))
  }

  test("mmrTopK: near-duplicate of the top hit is demoted behind the " +
      "diverse aspect, scores recompute exactly") {
    import spark.implicits._
    val d = Similarity.SrpDim
    def v(pairs: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(d)(0.0f)
      pairs.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    // query 0 has two aspects (dims 0 and 1); 10/11 are near-dups of
    // each other on aspect 0; 12 covers aspect 1; 13 is irrelevant
    val emb = Seq(
      (0L, v(0 -> 1.0f, 1 -> 1.0f)),
      (10L, v(0 -> 1.0f, 1 -> 0.4f)),
      (11L, v(0 -> 1.0f, 1 -> 0.40001f)),
      (12L, v(1 -> 1.0f)),
      (13L, v(5 -> 1.0f))).toDF("vec_id", "embedding")
    val r = Similarity.mmrTopK(emb, k = 3).orderBy("query_id", "rank")
      .collect()
    assert(r.length === 3)
    val order = r.map(_.getAs[Long]("neighbor_id")).toSeq
    // relevance alone would rank the near-dup pair 1-2 (11 then 10);
    // MMR demotes the dup behind the diverse aspect-1 hit
    assert(order === Seq(11L, 12L, 10L), s"got $order")
    r.foreach { row =>
      val expect = Similarity.MmrLambda * row.getAs[Double]("relevance") -
        (1.0 - Similarity.MmrLambda) * row.getAs[Double]("max_sim_prior")
      assert(row.getAs[Double]("mmr_score") === expect)
    }
    assert(r.head.getAs[Double]("max_sim_prior") === 0.0,
      "rank 1 is pure relevance")
    assert(r(2).getAs[Double]("max_sim_prior") > 0.999,
      "the demoted dup carries its near-1 similarity to rank 1")
  }

  test("mmrTopK: fixture run selects k distinct neighbors per query, " +
      "rank 1 agrees with brute-force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.mmrTopK(emb).collect()
    assert(r.length === Similarity.NQueries * Similarity.TopK)
    val byQ = r.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size === Similarity.NQueries)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq ===
        (1 to Similarity.TopK))
      val ids = rows.map(_.getAs[Long]("neighbor_id"))
      assert(ids.distinct.length === ids.length, s"query $q repeats")
    }
    val brute1 = Similarity.bruteForceTopK(emb)
      .filter(org.apache.spark.sql.functions.col("rank") === 1)
      .collect()
      .map(x => x.getAs[Long]("query_id") -> x.getAs[Long]("neighbor_id"))
      .toMap
    r.filter(_.getAs[Int]("rank") == 1).foreach { row =>
      assert(row.getAs[Long]("neighbor_id") ===
        brute1(row.getAs[Long]("query_id")),
        "MMR rank 1 must be the pure-relevance argmax")
    }
  }

  test("mmrTopK shortlistFrom: IVF-fed MMR agrees with the brute arm — " +
      "rank-1 recall and selection overlap clear their gates") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def sel(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id")))
    val brute = sel(Similarity.mmrTopK(emb))
    val ivf = sel(Similarity.mmrTopK(emb, shortlistFrom = Some(
      Similarity.ivfTopK(emb, k = Similarity.MmrShortlist)
        .select(col("query_id"), col("neighbor_id").as("cand_id"),
          col("cosine").as("rel")))))
    graft.CheckpointLease.releaseAll()
    val nq = Similarity.NQueries
    // rank 1 is pure relevance, so agreement here is IVF recall@1
    val b1 = brute.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
    val i1 = ivf.filter(_._2 == 1).map(r => r._1 -> r._3).toMap
    val r1Agree = b1.count { case (q, n) => i1.get(q).contains(n) }
    assert(r1Agree >= (0.8 * nq).toInt,
      s"rank-1 agreement $r1Agree/$nq below gate")
    // full-selection overlap (order-insensitive): the diversified sets
    // should mostly coincide when the shortlists mostly coincide
    val bSet = brute.map(r => (r._1, r._3)).toSet
    val iSet = ivf.map(r => (r._1, r._3)).toSet
    val overlap = (bSet & iSet).size.toDouble / bSet.size
    assert(overlap >= 0.7,
      f"selection overlap $overlap%.2f below 0.7 " +
        s"(${(bSet & iSet).size}/${bSet.size})")
  }

  test("hardNegatives candidatesFrom: IVF-fed mining agrees with the " +
      "brute arm and still yields positives") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def sel(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[String]("role"),
        r.getAs[Long]("neighbor_id")))
    val brute = sel(Similarity.hardNegatives(emb))
    val ivf = sel(Similarity.hardNegatives(emb, candidatesFrom = Some(
      Similarity.ivfCandidates(emb)
        .select(col("query_id").as("anchor_id"),
          col("neighbor_id").as("vec_id"), col("cosine")))))
    val nq = Similarity.NQueries
    // every anchor keeps a positive under the probed candidate set at
    // this SF (labels spread across lists, probes cover enough)
    assert(ivf.count(_._2 == "positive") === nq,
      "an anchor lost its positive under IVF candidates")
    val bruteNeg = brute.filter(_._2 == "hard_negative")
      .map(r => (r._1, r._3)).toSet
    val ivfNeg = ivf.filter(_._2 == "hard_negative")
      .map(r => (r._1, r._3)).toSet
    val overlap = (bruteNeg & ivfNeg).size.toDouble / bruteNeg.size
    assert(overlap >= 0.7,
      f"hard-negative overlap $overlap%.2f below 0.7")
  }

  test("lofScores: planted off-manifold point scores LOF >> 1, tight " +
      "cluster stays near 1") {
    import spark.implicits._
    val d = Similarity.SrpDim
    def mix(x0: Long): Long = {
      var x = x0
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    // 20 points jittered around one direction + 1 orthogonal outlier
    val cluster = (0 until 20).map { s =>
      val arr = Array.tabulate(d) { i =>
        val base = if (i < 8) 1.0f else 0.0f
        base + ((mix(s * 97L + i) >>> 40) % 100L) / 2000.0f
      }
      (s.toLong, arr.toSeq)
    }
    val outlier = {
      val arr = Array.fill(d)(0.0f); arr(40) = 1.0f
      (99L, arr.toSeq)
    }
    val emb = (cluster :+ outlier).toDF("vec_id", "embedding")
    val r = Similarity.lofScores(emb).collect()
      .map(x => x.getAs[Long]("vec_id") -> x).toMap
    assert(r.size === 21)
    r.values.foreach { x =>
      assert(x.getAs[Long]("n_neighbors") === Similarity.LofK.toLong)
      assert(x.getAs[Double]("k_dist") > 0.0)
      assert(x.getAs[Double]("lrd") > 0.0)
    }
    val out = r(99L)
    assert(out.getAs[Boolean]("is_outlier"),
      s"outlier LOF ${out.getAs[Double]("lof")} below threshold")
    assert(out.getAs[Double]("lof") > 2.0,
      "an orthogonal point amid a tight cluster must score LOF >> 1")
    cluster.foreach { case (id, _) =>
      assert(!r(id).getAs[Boolean]("is_outlier"),
        s"cluster point $id falsely flagged: ${r(id).getAs[Double]("lof")}")
    }
    // the same witness over the IVF-blocked graph (the edges hook —
    // what a 100 TB run feeds LOF instead of the quadratic stage):
    // the off-manifold point is still flagged, the cluster still clean
    val rb = Similarity.lofScores(emb,
        edges = Some(Similarity.ivfKnnEdges(emb, k = Similarity.LofK)))
      .collect().map(x => x.getAs[Long]("vec_id") -> x).toMap
    graft.CheckpointLease.releaseAll()
    assert(rb.contains(99L), "outlier missing from the blocked graph")
    assert(rb(99L).getAs[Boolean]("is_outlier"),
      s"blocked-graph LOF ${rb(99L).getAs[Double]("lof")} below threshold")
    assert(rb(99L).getAs[Double]("lof") > 2.0)
    cluster.foreach { case (id, _) =>
      assert(!rb.getOrElse(id, fail(s"cluster point $id missing"))
        .getAs[Boolean]("is_outlier"),
        s"cluster point $id falsely flagged over blocked edges")
    }
  }

  test("lofScores exact vs blocked edges agree on sf0.001: same vector " +
      "set, same (empty) outlier flags on the near-uniform cloud") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.lofScores(e).collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Boolean]("is_outlier"))
      .toMap
    val ivf = Similarity.lofScores(e,
        edges = Some(Similarity.ivfKnnEdges(e, k = Similarity.LofK)))
      .collect()
      .map(x => x.getAs[Long]("vec_id") -> x.getAs[Boolean]("is_outlier"))
      .toMap
    graft.CheckpointLease.releaseAll()
    assert(ivf.keySet === exact.keySet,
      "every vector must keep a neighborhood under the blocked graph")
    assert(exact.values.forall(_ == false) && ivf.values.forall(_ == false),
      "the near-uniform fixture has no density outliers under either arm")
  }

  test("knnGraphIvfEval: blocked graph clears the 0.9 edge-recall gate " +
      "while pruning the candidate space") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val r = Similarity.knnGraphIvfEval(emb).collect()
    assert(r.length === 1)
    val row = r.head
    val nTrue = row.getAs[Long]("n_true")
    val nHit = row.getAs[Long]("n_hit")
    val nCand = row.getAs[Long]("n_cand")
    val recall = row.getAs[Double]("edge_recall")
    assert(nTrue === n * Similarity.TopK)
    assert(nHit <= nTrue)
    assert(nCand < n * (n - 1),
      "blocking must prune below the full directed pair space")
    assert(recall >= 0.9,
      f"blocked kNN edge recall $recall%.3f below the substitution gate")
    info(f"IVF kNN graph: recall $recall%.3f over $nCand candidates " +
      f"(full space ${n * (n - 1)})")
  }

  test("embeddingDecontamSweep: monotone arms, agrees with the screen " +
      "at the operating eps") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sweep = Similarity.embeddingDecontamSweep(emb)
      .orderBy("eps").collect()
    assert(sweep.length === Similarity.DecontamSweepEps.length)
    val nCorpus = sweep.head.getAs[Long]("n_corpus")
    sweep.foreach(r => assert(r.getAs[Long]("n_corpus") === nCorpus))
    // flagged counts are non-increasing in eps
    val counts = sweep.map(_.getAs[Long]("n_flagged")).toSeq
    assert(counts === counts.sorted.reverse, s"not monotone: $counts")
    // the arm at the operating threshold equals the screen's flag count
    val atOp = sweep.find(
      _.getAs[Double]("eps") == Similarity.DecontamEps).get
    val flagged = Similarity.embeddingDecontam(emb)
      .filter(org.apache.spark.sql.functions.col("contaminated"))
      .count()
    assert(atOp.getAs[Long]("n_flagged") === flagged)
    assert(atOp.getAs[Double]("flag_rate") ===
      atOp.getAs[Long]("n_flagged").toDouble / nCorpus.toDouble)
  }

  test("knnGraphIvfEval: summary is invariant to input partitioning " +
      "(integer-trained codebook, exact counts)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.knnGraphIvfEval(df).collect().map(r =>
        (r.getAs[Long]("n_true"), r.getAs[Long]("n_hit"),
          r.getAs[Long]("n_cand"), r.getAs[Double]("edge_recall")))
        .toSeq
    assert(run(emb.repartition(3)) === run(emb.repartition(11)))
  }

  test("topComponent: driver traffic is a constant d²+d+1 rows merged " +
      "by a keyed aggregate, invariant to input partitioning") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val d = Similarity.SrpDim
    // the collected frame must be the MERGED partials (d²+d+1 rows),
    // not the raw per-partition ones (which would scale with the
    // partition count: 13 partitions here would make it 13x bigger)
    Seq(emb, emb.repartition(13)).foreach { e =>
      assert(Similarity.topComponentPartials(e).count() ===
        (d.toLong * d + d + 1))
    }
    // and the merge must happen in the shuffle, not on the driver: the
    // physical plan carries the keyed aggregate over (i, j)
    val plan = Similarity.topComponentPartials(emb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      s"expected a keyed aggregate over the partials, got:\n$plan")
    // result itself is partition-invariant (integer sums commute)
    val base = Similarity.topComponent(emb).orderBy("dim").collect()
    val re = Similarity.topComponent(emb.repartition(13))
      .orderBy("dim").collect()
    base.zip(re).foreach { case (a, b) =>
      assert(a.getAs[Double]("loading") === b.getAs[Double]("loading"))
      assert(a.getAs[Double]("eigenvalue") === b.getAs[Double]("eigenvalue"))
    }
  }

  test("embeddingThresholdSweep: monotone drop curve, mass conserved") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val r = Similarity.embeddingThresholdSweep(emb)
      .orderBy("threshold").collect()
    assert(r.length === Similarity.VecSweepThresholds.length)
    r.foreach { row =>
      assert(row.getAs[Long]("n_dropped") + row.getAs[Long]("n_kept") === n)
    }
    // tightening the threshold can only drop fewer vectors
    r.sliding(2).foreach { case Array(loose, tight) =>
      assert(loose.getAs[Long]("n_dropped") >=
        tight.getAs[Long]("n_dropped"))
    }
    // the floor row agrees with the pair operator it derives from
    val direct = Similarity.embeddingNearDupPairs(emb, 0.3)
      .select("vec_b").distinct().count()
    assert(r.head.getAs[Long]("n_dropped") === direct)
  }

  test("srpSignatures: sign bits match driver-side projections") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(20)
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    val sigs = Similarity.srpSignatures(emb)
      .as[(Long, Long)].collect().toMap
    vecs.foreach { case (id, v) =>
      val want = (0 until Similarity.SrpBits).map { j =>
        var s = 0.0
        for (i <- v.indices)
          s += v(i).toDouble * Similarity.srpSign(j, i).toDouble
        if (s >= 0.0) 1L << j else 0L
      }.sum
      assert(sigs(id) === want, s"vec $id")
    }
  }

  test("srpEval: nested geometries give monotone recall at fixed n_true") {
    val r = Similarity.srpEval(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
      .orderBy("rows_per_band").collect()
    assert(r.length === Similarity.SrpGeometries.length)
    // same ground truth on every arm
    assert(r.map(_.getAs[Long]("n_true")).distinct.length === 1)
    assert(r.head.getAs[Long]("n_true") > 0L)
    // a collision at (8,2) implies both 1-bit sub-bands collide at
    // (16,1): recall and candidate volume must fall as bands widen
    r.sliding(2).foreach { case Array(coarse, fine) =>
      assert(coarse.getAs[Long]("n_hit") >= fine.getAs[Long]("n_hit"))
      assert(coarse.getAs[Long]("cand_pairs") >=
        fine.getAs[Long]("cand_pairs"))
    }
    r.foreach { g =>
      val rec = g.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
  }

  test("kcenterCoreset: one pick per planted cluster, deterministic " +
      "seed, monotone coverage radius, final objective row") {
    // three orthogonal 2-point clusters; the greedy must visit all
    // three before refining any (their cross-cluster distance is 1.0,
    // within-cluster 0.2)
    val d = emb(
      0L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      1L -> Seq(0.8f, 0.6f, 0.0f, 0.0f),
      10L -> Seq(0.0f, 1.0f, 0.0f, 0.0f),
      11L -> Seq(0.0f, 0.8f, 0.6f, 0.0f),
      20L -> Seq(0.0f, 0.0f, 1.0f, 0.0f),
      21L -> Seq(0.0f, 0.0f, 0.8f, 0.6f))
    val r = Similarity.kcenterCoreset(d, k = 3)
      .orderBy("rank").collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2)))
    assert(r.length === 4)
    assert(r(0) === ((1, 0L, 0.0)), "seed must be min vec_id at radius 0")
    // picks 2 and 3 land in the two other clusters (orthogonal: radius
    // exactly 1.0; ties broken on vec_id so 10 precedes 20)
    assert(r(1) === ((2, 10L, 1.0)))
    assert(r(2) === ((3, 20L, 1.0)))
    // the objective row: every remaining point is a within-cluster
    // near-dup of a center (cos 0.8 -> dist ~0.2)
    val (rk, cid, cover) = r(3)
    assert(rk === 4 && cid === -1L)
    assert(cover > 0.0 && cover < 0.5, s"cover radius $cover")
  }

  test("kcenterCoreset: fixture run — distinct centers, non-increasing " +
      "radius curve, objective bounded by the last pick") {
    val r = Similarity.kcenterCoreset(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
      .orderBy("rank").collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2)))
    assert(r.length === Similarity.CoresetK + 1)
    val centers = r.dropRight(1).map(_._2)
    assert(centers.distinct.length === centers.length,
      "greedy re-picked a center before exhausting the corpus")
    // coverage radius is non-increasing: pick r's dmin is bounded by
    // the max dmin BEFORE pick r-1 lowered it
    r.drop(1).map(_._3).sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, s"radius curve increased: $a -> $b")
    }
    assert(r.last._2 === -1L)
  }

  test("ivfListStats: planted codebook gives exact sizes; fixture " +
      "imbalance respects the Cauchy-Schwarz floor") {
    import spark.implicits._
    // hand codebook: two orthogonal centroids; 3 vectors join c0, 1
    // joins c1 -> sizes {3, 1}: imbalance = 2*(9+1)/16 = 1.25
    val cents = Seq((0, Seq(1.0f, 0.0f)), (1, Seq(0.0f, 1.0f)))
      .toDF("centroid_id", "c")
    val d = emb(1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.9f, 0.1f),
      3L -> Seq(0.8f, 0.2f), 4L -> Seq(0.0f, 1.0f))
    val r = Similarity.ivfListStats(d, codebook = Some(cents))
      .collect().head
    assert(r.getAs[Long]("k_lists") === 2L)
    assert(r.getAs[Long]("n_vecs") === 4L)
    assert(r.getAs[Long]("max_list") === 3L)
    assert(r.getAs[Long]("min_list") === 1L)
    assert(r.getAs[Double]("imbalance") === 1.25)

    val f = Similarity.ivfListStats(
      Tables.embeddings(spark, "/root/testdata/sf0.001")).collect().head
    assert(f.getAs[Long]("n_vecs") === 500L)
    assert(f.getAs[Long]("k_lists") <= Similarity.Centroids)
    assert(f.getAs[Double]("imbalance") >= 1.0)
    assert(f.getAs[Long]("max_list") >= f.getAs[Long]("min_list"))
  }

  test("hadamardRotate: exact basis witnesses; spectrum flattens and PQ " +
      "recall improves on the skewed corpus (the rotation-vs-raw " +
      "evidence, matching the OPQ-lite measurement)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // basis witness: H.D.e0 / 8 is the constant vector s0/8 (H column 0
    // is all +1), so every output entry is identical with |v| = 0.125
    val e0 = emb(1L -> (Seq(1.0f) ++ Seq.fill(63)(0.0f)))
    val r0 = hadamardRotate(e0).collect().head
      .getSeq[Double](1)
    assert(r0.length === 64 && r0.distinct.length === 1 &&
      math.abs(r0.head) === 0.125, s"basis rotation wrong: ${r0.take(4)}")
    // skewed-spectrum corpus (same generator as the OPQ-lite test)
    def mix(x0: Long): Long = {
      var x = x0
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    def u(s: Long): Double = ((mix(s) >>> 40) % 2000L - 1000L) / 1000.0
    val d = Similarity.SrpDim
    val vecs = (0 until 2000).map { v =>
      val arr = Array.tabulate(d) { j =>
        val std = if (j < 8) 1.0 else 0.02
        (u(v * 131L + j * 7919L + 17L) * std).toFloat
      }
      (v.toLong, arr.toSeq)
    }
    val embSkew = vecs.toDF("vec_id", "embedding")
    val rep = Similarity.hadamardSpectrum(embSkew).collect()
      .map(r => (r.getAs[Int]("dim"), r.getAs[Long]("energy_q_raw"),
        r.getAs[Long]("energy_q_rot")))
    assert(rep.length === 64)
    val totRaw = rep.map(_._2).sum.toDouble
    val totRot = rep.map(_._3).sum.toDouble
    // orthogonal transform preserves total energy (up to the u-quant)
    assert(math.abs(totRot - totRaw) / totRaw < 0.005,
      s"energy not preserved: $totRaw -> $totRot")
    val top8Raw = rep.filter(_._1 < 8).map(_._2).sum / totRaw
    val top8Rot = rep.filter(_._1 < 8).map(_._3).sum / totRot
    info(f"top-8 energy share: raw $top8Raw%.3f -> rotated $top8Rot%.3f")
    assert(top8Raw > 0.9, "fixture must be anisotropic")
    assert(top8Rot < 0.35, "rotation must flatten the spectrum")
    // the PQ payoff: same recall harness as the OPQ-lite measurement
    val brute = Similarity.bruteForceTopK(embSkew)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    def recallOf(e: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.pqTopK(e)
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      (brute & got).size.toDouble / brute.size
    }
    val raw = recallOf(embSkew)
    val rotatedF = hadamardRotate(embSkew)
      .select(col("vec_id"),
        expr("transform(rotated, x -> CAST(x AS FLOAT))").as("embedding"))
    val rot = recallOf(rotatedF)
    info(f"skewed-spectrum PQ recall@10: raw $raw%.2f, " +
      f"Hadamard-rotated $rot%.2f (delta ${rot - raw}%+.2f)")
    assert(rot > raw,
      f"structured rotation must win on a skewed spectrum ($rot%.2f " +
        f"vs $raw%.2f)")
  }

  test("ivfProbeSweep: recall and candidate volume rise monotonically " +
      "with probes; the operating point clears the recall gate") {
    val r = Similarity.ivfProbeSweep(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
      .orderBy("probes").collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))
    graft.CheckpointLease.releaseAll()
    assert(r.map(_._1).toSeq === Similarity.IvfProbeArms)
    assert(r.map(_._2).distinct.length === 1, "truth size must be fixed")
    r.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._3 >= lo._3, s"recall not monotone: $lo -> $hi")
      assert(hi._4 >= lo._4, s"candidates not monotone: $lo -> $hi")
    }
    r.foreach { case (_, t, h, _, rec) =>
      assert(rec === h.toDouble / t)
    }
    // the last arm IS the production probe count: same gate as the
    // ivfTopK recall spec
    assert(r.last._1 === Similarity.Probes)
    assert(r.last._5 >= 0.9, s"operating-point recall ${r.last._5}")
  }

  test("silhouetteProfile: planted codebook — margin 1 on-axis, margin 0 " +
      "on the decision boundary, truncated cluster means") {
    val d = emb(
      1L -> Seq(1f, 0f),     // own c0 (a=0), other c1 (b=1) -> sil 1
      2L -> Seq(0.5f, 0.5f), // equidistant: tie -> c0, a=b -> sil 0
      3L -> Seq(0f, 1f))     // own c1 -> sil 1
    val cents = Seq((0, Seq(1f, 0f)), (1, Seq(0f, 1f)))
      .toDF("centroid_id", "c")
    val r = Similarity.silhouetteProfile(d, Some(cents))
      .select("centroid_id", "n_vecs", "mean_sil")
      .as[(Int, Long, Double)].collect().toSet
    // c0: (1e9 + 0) div 2 = 5e8 -> 0.5; c1: 1e9 div 1 -> 1.0
    assert(r === Set((0, 2L, 0.5), (1, 1L, 1.0)))
  }

  test("silhouetteProfile: fixture run — clusters partition the corpus, " +
      "margins in [0, 1), partition-invariant") {
    val d = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.silhouetteProfile(df)
        .select("centroid_id", "n_vecs", "mean_sil")
        .as[(Int, Long, Double)].collect().sortBy(_._1)
    val r = run(d)
    assert(r.map(_._2).sum === d.count())
    r.foreach { case (cid, n, s) =>
      assert(n > 0)
      assert(s >= 0.0 && s < 1.0, s"cluster $cid mean_sil $s out of [0,1)")
    }
    // a clustered corpus must show real margin somewhere
    assert(r.map(_._3).max > 0.1, "no cluster shows separation margin")
    assert(run(d.repartition(7)).toSeq === r.toSeq)
  }

  test("rangeSearchEval: served hits are a subset of the brute truth; " +
      "probed lists keep most of the radius mass") {
    val d = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Similarity.rangeSearchEval(d)
      .select("query_id", "n_true", "n_cand", "n_hit", "recall")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(r.length === Similarity.NQueries)
    r.foreach { case (q, t, c, h, rec) =>
      assert(h <= t, s"query $q: hits $h exceed truth $t")
      assert(h <= c, s"query $q: hits $h exceed candidates $c")
      assert(c > 0, s"query $q scanned no candidates")
      if (t == 0) assert(rec === 1.0)
      else assert(rec === h.toDouble / t)
    }
    val macroRecall = {
      val withTruth = r.filter(_._2 > 0)
      withTruth.map(_._5).sum / withTruth.length
    }
    info(f"range-search macro recall at tau ${Similarity.RangeSearchThreshold}: $macroRecall%.3f")
    assert(macroRecall >= 0.6, s"macro recall $macroRecall")
    // the point of IVF: candidates scanned < full corpus per query
    assert(r.map(_._3).max < d.count() - 1)
  }
  private def embL(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("knnLabelEval: separated clusters classify perfectly; a planted " +
      "mislabel is the only miss") {
    // label 0 cluster near [1,0], label 1 cluster near [0,1]; vec 6
    // sits on cluster 1's flank but carries label 0 -> its 1-NN vote
    // must miss, while staying far enough out not to capture 4/5's 1-NN
    val d = embL(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.8f, 0.05f), 0),
      (4L, Seq(0.0f, 1.0f), 1), (5L, Seq(0.1f, 0.9f), 1),
      (6L, Seq(0.3f, 0.7f), 0))
    val r = Similarity.knnLabelEval(d, k = 1)
      .select("label", "n", "correct", "accuracy")
      .as[(Long, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    // label 0 members: vecs 1,2,3 predict 0 (in-cluster 1-NN); vec 6's
    // 1-NN is vec 5 (label 1) -> 3/4 correct
    assert(r(0L)._2 === 4L && r(0L)._3 === 3L && r(0L)._4 === 0.75)
    // label 1 members: 4 and 5 are each other's 1-NN -> 2/2
    assert(r(1L)._2 === 2L && r(1L)._3 === 2L && r(1L)._4 === 1.0)
  }

  test("knnLabelEval: vote ties break to the smallest label") {
    // vec 1 at the origin axis sees one neighbor of each label at the
    // same cosine -> tie {0: 1, 1: 1} -> predicted 0
    val d = embL(
      (1L, Seq(1.0f, 1.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(0.0f, 1.0f), 1))
    val r = Similarity.knnLabelEval(d, k = 2)
      .select("label", "correct")
      .as[(Long, Long)].collect().toMap
    // vec 1 ties -> 0 (correct); vec 2 neighbors {1(l0), 3(l1)} tie -> 0
    // correct; vec 3 neighbors {1(l0), 2(l0)} -> 0, a miss for label 1
    assert(r(0L) === 2L)
    assert(r(1L) === 0L)
  }
  test("knnLabelEvalIvf: per-label accuracy tracks the exact arm on the " +
      "fixture within the recall trade") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.knnLabelEval(emb).collect()
      .map(r => r.getAs[Long]("label") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("correct"),
          r.getAs[Double]("accuracy")))).toMap
    val ivf = Similarity.knnLabelEvalIvf(emb).collect()
      .map(r => r.getAs[Long]("label") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("correct"),
          r.getAs[Double]("accuracy")))).toMap
    graft.CheckpointLease.releaseAll()
    assert(ivf.nonEmpty)
    ivf.foreach { case (label, (n, _, acc)) =>
      val (ne, _, accE) = exact(label)
      assert(n <= ne, s"label $label: IVF domain can only shrink")
      assert(math.abs(acc - accE) <= 0.2,
        s"label $label: IVF accuracy $acc drifted from exact $accE")
    }
    // the shortlist keeps most of the corpus in the readout
    val kept = ivf.values.map(_._1).sum.toDouble /
      exact.values.map(_._1).sum
    assert(kept >= 0.85, s"IVF kept only $kept of the corpus")
  }

  test("sqTopK: int8 scoring recalls >= 0.9 of brute top-10 on sf0.001 " +
      "embeddings") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(d).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val sq = Similarity.sqTopK(d).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (brute intersect sq).size.toDouble / brute.size
    assert(recall >= 0.9, s"SQ recall $recall below 0.9")
    info(f"SQ recall@10 = $recall%.2f")
  }

  test("sqTopK over the IVF shortlist: recall >= 0.85 of brute top-10 " +
      "and exact score agreement with the full SQ arm on shared pairs") {
    val d = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val full = Similarity.sqTopK(d)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap
    val ivf = Similarity.sqTopK(d, candidates = Some(
        Similarity.ivfCandidates(d).select("query_id", "neighbor_id")))
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val brute = Similarity.bruteForceTopK(d)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (brute intersect
      ivf.map(x => (x._1, x._2)).toSet).size.toDouble / brute.size
    assert(recall >= 0.85, s"SQ-over-IVF recall $recall below 0.85")
    // the shortlist only PRUNES: shared pairs score identically
    ivf.foreach { case (q, nb, c) =>
      full.get((q, nb)).foreach(fc => assert(fc === c, s"pair ($q,$nb)"))
    }
    info(f"SQ-over-IVF recall@10 = $recall%.2f")
  }

  test("sqTopK: scale invariance — scaling a vector leaves its codes' " +
      "direction and the ranking unchanged; zero vectors are excluded") {
    // 2 & 3 parallel up to scale, 4 orthogonal; query 0 near-parallel
    // to them. Parallel candidates tie on quantized cosine -> id order.
    val d = emb(
      0L -> Seq(1.0f, 0.0f), 1L -> Seq(0.9f, 0.1f),
      2L -> Seq(1.0f, 0.001f), 3L -> Seq(100.0f, 0.1f),
      4L -> Seq(0.0f, 1.0f), 5L -> Seq(0.0f, 0.0f))
    val r = Similarity.sqTopK(d, k = 5)
      .filter(org.apache.spark.sql.functions.col("query_id") === 0L)
      .orderBy("rank")
      .select("neighbor_id", "cosine")
      .as[(Long, Double)].collect()
    // zero vector 5 never appears (on either side)
    assert(!r.map(_._1).contains(5L))
    // 2 and 3 quantize to the same direction -> identical cosine,
    // tie broken by id; both beat 1 and 4
    val pos = r.map(_._1).toSeq
    assert(pos.indexOf(2L) >= 0 && pos.indexOf(3L) === pos.indexOf(2L) + 1)
    val c2 = r.find(_._1 == 2L).get._2
    val c3 = r.find(_._1 == 3L).get._2
    assert(c2 === c3)
    assert(pos.indexOf(4L) === pos.length - 1) // orthogonal ranks last
  }

  test("clusterSourceMix: exact per-cluster source counts, shares, and " +
      "HHI under a fixed codebook") {
    import org.apache.spark.sql.functions.col
    val codebook = Seq((0, Seq(1.0f, 0.0f)), (1, Seq(0.0f, 1.0f)))
      .toDF("centroid_id", "c")
    val vecs = emb(
      1L -> Seq(1.0f, 0.1f), 2L -> Seq(0.9f, 0.0f), 3L -> Seq(1.0f, 0.2f),
      4L -> Seq(0.1f, 1.0f), 5L -> Seq(0.0f, 0.9f))
    val docs = Seq((1L, "srcA"), (2L, "srcA"), (3L, "srcB"),
        (4L, "srcA"), (5L, "srcA"))
      .map { case (id, s) => (id, "t", "en", s, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Similarity.clusterSourceMix(vecs, docs, Some(codebook))
      .orderBy(col("centroid_id"), col("source"))
      .select("centroid_id", "source", "n_docs", "cluster_total",
        "share", "hhi")
      .as[(Int, String, Long, Long, Double, Double)].collect().toSeq
    assert(r === Seq(
      (0, "srcA", 2L, 3L, 2.0 / 3.0, 5.0 / 9.0),
      (0, "srcB", 1L, 3L, 1.0 / 3.0, 5.0 / 9.0),
      (1, "srcA", 2L, 2L, 1.0, 1.0)))
  }

  test("bitextMarginPairsIvf: probed-list arm recovers most of the " +
      "exact arm's mutual pairs on the fixture") {
    val d = "/root/testdata/sf0.001"
    val vecs = Tables.embeddings(spark, d)
    val docs = Tables.documents(spark, d)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bitextMarginPairs(vecs, docs))
    val ivf = pairs(Similarity.bitextMarginPairsIvf(vecs, docs))
    assert(exact.nonEmpty, "fixture must produce mutual-best pairs")
    val recall = (ivf intersect exact).size.toDouble / exact.size
    assert(recall >= 0.85, s"ivf arm recall $recall < 0.85 " +
      s"(exact ${exact.size}, ivf ${ivf.size})")
  }

  test("bitextMarginPairs: mutual-best translation pairs survive, a " +
      "displaced suitor does not, matches clear the margin") {
    import org.apache.spark.sql.functions.col
    // en side: e1 along x, e2 along y, e3 near x (loses f1 to e1)
    // fr side: f101 ~ e1's translation, f102 ~ e2's
    val vecs = emb(
      1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.0f, 1.0f),
      3L -> Seq(0.9f, 0.1f),
      101L -> Seq(1.0f, 0.05f), 102L -> Seq(0.05f, 1.0f))
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "en"),
        (101L, "fr"), (102L, "fr"))
      .map { case (id, l) => (id, "t", l, "src0", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Similarity.bitextMarginPairs(vecs, docs)
      .orderBy(col("a_id"))
      .select("a_id", "b_id", "margin", "mined")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(r.map(p => (p._1, p._2)) === Seq((1L, 101L), (2L, 102L)),
      s"expected the two true pairs, got $r")
    // true translations dominate their kNN average comfortably
    assert(r.forall(_._3 > 1.05), s"margins too small: $r")
    assert(r.forall(_._4 === 1))
  }
}
