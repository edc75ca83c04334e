package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, explode}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("bloomDecontam: exact-match shingles always positive, disjoint " +
      "docs clean") {
    // src0 benchmark "a b c d" sets bits for shingles {a b c, b c d};
    // corpus doc 10 shares both (plus c d e, a possible-but-not-here FP),
    // corpus doc 11 is disjoint
    val d = Seq(
      (1L, "a b c d", "src0"),
      (10L, "a b c d e", "src1"),
      (11L, "x y z w", "src1"))
      .map { case (id, t, s) => (id, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.bloomDecontam(d, threshold = 0.5)
      .select("doc_id", "n_shingles", "n_bloom_pos", "flagged")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(t => t._1 -> t).toMap
    // membership of a truly-present shingle can never be negative
    assert(r(10L)._3 >= 2L && r(10L)._2 === 3L)
    assert(r(11L) === ((11L, 2L, 0L, false)))
  }

  test("dedupThresholdSweep: drop counts step down as the threshold rises") {
    // docs 1,2 identical (j=1.0); doc 3 shares 2 of its 3 shingles with
    // them (j = 2/4 = 0.5); doc 4 unique. best_j: doc2=1.0, doc3=0.5.
    val d = docs(
      1L -> "a b c d e",
      2L -> "a b c d e",
      3L -> "a b c d x",
      4L -> "p q r s t")
    val r = Dedup.dedupThresholdSweep(d)
      .select("threshold", "n_dropped", "n_kept", "drop_rate")
      .as[(Double, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    graft.CheckpointLease.releaseAll()
    assert(r(0.5) === ((0.5, 2L, 2L, 0.5)))  // doc2 and doc3 drop
    assert(r(0.6) === ((0.6, 1L, 3L, 0.25))) // only the exact dup drops
    assert(r(0.9) === ((0.9, 1L, 3L, 0.25)))
  }

  test("decontamMatrix: exact pairwise overlap and Jaccard across sources") {
    // srcA: {a b c, b c d}; srcB: {a b c, b c e}; srcC: {x y z}
    val d = Seq(
      (1L, "a b c d", "en", "srcA", 7L),
      (2L, "a b c e", "en", "srcB", 7L),
      (3L, "x y z", "en", "srcC", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.decontamMatrix(d)
      .select("src_a", "src_b", "inter_size", "n_a", "n_b", "union_size",
        "jaccard")
      .as[(String, String, Long, Long, Long, Long, Double)].collect().toSet
    graft.CheckpointLease.releaseAll()
    // disjoint pairs produce no row (inner join on shingle)
    assert(r === Set(("srcA", "srcB", 1L, 2L, 2L, 3L, 1.0 / 3.0)))
  }

  test("shingles: short docs produce no shingles, no descending-sequence bug") {
    val out = Dedup.shingles(docs(1L -> "a b", 2L -> "a b c d"))
      .as[(Long, String)].collect().toSet
    assert(out === Set((2L, "a b c"), (2L, "b c d")))
  }

  test("exactGroups/exactDocs: copies collapse to lowest doc_id") {
    val d = docs(1L -> "x y z", 2L -> "x y z", 3L -> "other text here")
    val groups = Dedup.exactGroups(d).collect()
    assert(groups.map(_.getAs[Long]("n_copies")).sorted.toSeq === Seq(1L, 2L))
    assert(Dedup.exactDocs(d).select("doc_id").as[Long].collect().toSet ===
      Set(1L, 3L))
  }

  test("ngramJaccardPairs: identical docs have jaccard 1.0, disjoint absent") {
    val d = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "p q r s t")
    val pairs = Dedup.ngramJaccardPairs(d, 0.5).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("doc_a") === 1L)
    assert(pairs.head.getAs[Double]("jaccard") === 1.0)
  }

  test("stop-shingle cap: hot shingles stop generating pairs, real " +
      "near-dups survive on their remaining shingles") {
    // "x y z" occurs in 8 docs; docs 3..8 consist of ONLY that shingle
    val d = docs(Seq(
      1L -> "x y z a b", 2L -> "x y z a b") ++
      (3L to 8L).map(i => i -> "x y z"): _*)
    // uncapped: the six hot-shingle-only docs are all pairwise exact dups
    val free = Dedup.ngramJaccardPairs(d, 0.5, maxShingleDf = Long.MaxValue)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(free.contains((3L, 4L)) && free.contains((1L, 2L)))
    // cap 5 < df 8 drops the hot shingle: its pairs vanish (the skew
    // guard's recall contract — similarity loses ONLY ubiquitous
    // shingles), while (1,2) still matches on its 2 kept shingles
    val capped = Dedup.ngramJaccardPairs(d, 0.5, maxShingleDf = 5L)
    val cp = capped.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cp === Set((1L, 2L)))
    // jaccard is a true Jaccard of the KEPT sets (cap hits both
    // numerator and denominator): 2 shared of 2 kept shingles = 1.0
    assert(capped.collect().head.getAs[Double]("jaccard") === 1.0)
  }

  test("default cap sits above testdata df: capped == uncapped at sf0.001") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Dedup.ngramJaccardPairs(d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val b = Dedup.ngramJaccardPairs(d, 0.5, maxShingleDf = Long.MaxValue)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  test("containmentPairs: embedded benchmark doc scores containment 1.0") {
    val bench = docs(100L -> "the quick brown fox jumps over dog")
    val corpus = docs(
      1L -> "prefix words the quick brown fox jumps over dog suffix tail",
      2L -> "completely different text with no overlap at all here")
    val r = Dedup.containmentPairs(corpus, bench).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("corpus_id") === 1L)
    assert(r.head.getAs[Long]("bench_id") === 100L)
    assert(r.head.getAs[Long]("shared_ngrams") === 3L)  // 7 tokens → 3 5-grams
    assert(r.head.getAs[Double]("containment") === 1.0)
  }

  test("minhash LSH recall equals exact ground truth on sf0.001 documents") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccardPairs(d, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cands = Dedup.lshCandidates(DedupOracle.minhashSignatures(d))
      .as[(Long, Long)].collect().toSet
    val missed = exact -- cands
    assert(missed.isEmpty, s"LSH missed ${missed.size} of ${exact.size} true pairs")
    // and the dedup result drops exactly the higher ids of verified pairs
    val kept = Dedup.minhashDedupDocs(d, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === (d.select("doc_id").as[Long].collect().toSet --
      exact.map(_._2)))
  }

  test("portable minhash path: full LSH recall vs exact ground truth, " +
      "survivors match the xxhash path's") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.ngramJaccardPairs(d, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cands = Dedup.lshCandidatesPortable(
        DedupOracle.minhashSignaturesPortable(Dedup.shingles(d)))
      .as[(Long, Long)].collect().toSet
    val missed = exact -- cands
    assert(missed.isEmpty,
      s"portable LSH missed ${missed.size} of ${exact.size} true pairs")
    // verified survivors are hash-independent (both paths verify with
    // exact Jaccard), so the two dedup results must agree exactly
    val keptPortable = Dedup.minhashDedupDocsPortable(d, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptPortable === (d.select("doc_id").as[Long].collect().toSet --
      exact.map(_._2)))
  }

  test("lshEval: counts agree with independently computed truth/candidate " +
      "sets on sf0.001 documents") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val truth = Dedup.ngramJaccardPairs(d, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cands = Dedup.lshCandidatesPortable(
        DedupOracle.minhashSignaturesPortable(Dedup.shingles(d)))
      .as[(Long, Long)].collect().toSet
    graft.CheckpointLease.releaseAll()
    val r = Dedup.lshEval(d).collect().head
    graft.CheckpointLease.releaseAll()
    assert(r.getAs[Long]("n_true") === truth.size.toLong)
    assert(r.getAs[Long]("n_cand") === cands.size.toLong)
    assert(r.getAs[Long]("n_hit") === (truth & cands).size.toLong)
    assert(r.getAs[Double]("recall") ===
      (truth & cands).size.toDouble / truth.size)
    assert(r.getAs[Double]("precision") ===
      (truth & cands).size.toDouble / cands.size)
  }

  test("simhash near-dup banding finds ALL pairs within the hamming bound") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val fps = Dedup.simhash(d).as[(Long, Long)].collect()
    // brute-force ground truth over collected fingerprints
    val want = (for {
      (a, fa) <- fps; (b, fb) <- fps if a < b
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhashNearDupPairs(d, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    assert(want.nonEmpty, "expected some near-dup simhash pairs in testdata")
  }

  test("narrow simhash equals the aggregated reference bit-for-bit") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val narrow = Dedup.simhash(d).as[(Long, Long)].collect().toMap
    val agg = DedupOracle.simhashAgg(d).as[(Long, Long)].collect().toMap
    assert(narrow === agg)
  }

  test("narrow portable MinHash signatures equal the aggregated md5 " +
      "reference bit-for-bit (r20 kernel)") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val narrow = Dedup.minhashSignaturesPortableNarrow(
        Dedup.shingleStrArrays(d))
      .as[(Long, Seq[Long])].collect().toMap
    val agg = DedupOracle.minhashSignaturesPortable(Dedup.shingles(d))
      .as[(Long, Seq[Long])].collect().toMap
    assert(narrow === agg)
    assert(narrow.nonEmpty)
  }

  test("simhash: identical docs share fingerprint; groups count them") {
    val d = docs(1L -> "a b c d e f g h", 2L -> "a b c d e f g h",
      3L -> "totally different words entirely here now")
    val fps = Dedup.simhash(d).as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    val groups = Dedup.simhashGroups(d).collect()
      .map(r => r.getAs[Long]("keeper_doc_id") -> r.getAs[Long]("n_docs"))
      .toMap
    assert(groups(1L) === 2L)
  }

  test("containmentDedupPairs: embedded short doc scores 1.0 where jaccard misses") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta eta theta"
    val long = "intro words here " + short +
      " plus many extra trailing tokens one two three four five"
    val d = Seq((1L, long), (2L, short),
      (3L, "completely unrelated filler text with different words entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentDedupPairs(d).collect()
    assert(pairs.length === 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") === 1L && p.getAs[Long]("doc_b") === 2L)
    assert(p.getAs[Double]("containment") === 1.0)
    assert(p.getAs[Long]("contained_doc") === 2L,
      "the smaller side is the contained doc")
    // the symmetric detector misses this pair at its default threshold
    assert(p.getAs[Double]("jaccard") < 0.5)
    assert(Dedup.ngramJaccardPairs(d).collect().isEmpty)
    // threshold 0 reports every pair that shares a shingle, with its
    // exact containment: doc 4's 4 shingles share only "alpha beta gamma"
    // with docs 1 and 2; doc 3 shares none, so it never pairs
    val d4 = d.union(Seq((4L, "alpha beta gamma kappa lambda mu"))
      .toDF("doc_id", "text"))
    val all = Dedup.containmentDedupPairs(d4, threshold = 0.0).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment")))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(all === Seq((1L, 2L, 1.0), (1L, 4L, 0.25), (2L, 4L, 0.25)))
  }

  test("minhashIncremental: batch probes index, lower batch id wins, unique kept") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps", "srcA"), // indexed corpus
      (2L, "the quick brown fox jumps", "src0"), // batch dup of index doc
      (3L, "totally different text here now", "src0"), // batch unique
      (4L, "the quick brown fox jumps", "src0")  // dup of index AND of 2
    ).toDF("doc_id", "text", "source")
    val r = Dedup.minhashIncremental(d)
      .select("doc_id", "n_cand_index", "n_dup_index", "n_cand_batch",
        "n_dup_batch", "keep")
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(t => t._1 -> t).toMap
    // only batch docs are reported — the index is state, not output
    assert(r.keySet === Set(2L, 3L, 4L))
    assert(r(2L)._3 === 1L && r(2L)._5 === 0L && !r(2L)._6)
    assert(r(3L) === ((3L, 0L, 0L, 0L, 0L, true)))
    // doc 4 collides with the indexed doc and the lower-id batch doc
    assert(r(4L)._3 === 1L && r(4L)._5 === 1L && !r(4L)._6)
  }

  test("tfidfCosinePairs: exact dups score ~1, disjoint docs absent, " +
      "repeats weigh in") {
    val d = docs(
      1L -> "a b c d e",         // shingles abc bcd cde, tf 1 each
      2L -> "a b c d e",         // exact duplicate of 1
      3L -> "p q r s t",         // disjoint: shares nothing, no pair row
      4L -> "a b c a b c a b",   // abc/bca/cab tf 2 — the multiset path
      5L -> "a b c a b c a b")
    val r = Dedup.tfidfCosinePairs(d, 0.5).collect()
      .map(p => (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b")) -> p)
      .toMap
    assert(r.keySet === Set((1L, 2L), (4L, 5L)),
      "only the two duplicate pairs clear the threshold")
    // equal weight vectors: dot == both norms, cosine == 1 up to the
    // sqrt(x)*sqrt(x) ulp
    r.values.foreach { p =>
      assert(p.getAs[Long]("dot") === p.getAs[Long]("norm2_a"))
      assert(p.getAs[Long]("norm2_a") === p.getAs[Long]("norm2_b"))
      assert(p.getAs[Double]("cosine") > 0.9999999)
    }
    // tf=2 shingles square into the norm: doc 4 = {abc tf2 idf 5div4=1,
    // bca tf2 idf 5div2=2, cab tf2 idf 2} -> 2^2 + 4^2 + 4^2 = 36
    assert(r((4L, 5L)).getAs[Long]("norm2_a") === 36L)
  }

  test("tfidfCosinePairs: idf down-weights common shingles and the df " +
      "cap drops hot ones") {
    // "x y z" in 6 of 8 docs (common), "a b c" in exactly 2 (rare):
    // pair (1,2) shares BOTH; with the cap at 5 < df 6 the hot shingle
    // is dropped entirely and the pair survives on the rare one
    val d = docs(Seq(
      1L -> "x y z a b c", 2L -> "x y z a b c") ++
      (3L to 6L).map(i => i -> "x y z"): _*)
    val capped = Dedup.tfidfCosinePairs(d, 0.5, maxShingleDf = 5L)
      .collect()
    assert(capped.map(p =>
      (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))).toSet ===
      Set((1L, 2L)))
    // dropped hot shingle means the hot-only docs contribute no rows
    // at all; the surviving pair matches on its kept shingles
    // {yza, zab, abc}, each df 2 -> idf = 6 div 2 = 3
    val p = capped.head
    assert(p.getAs[Long]("dot") === p.getAs[Long]("norm2_a"))
    assert(p.getAs[Double]("cosine") > 0.9999999)
  }

  test("tfidfCosinePairs: partition-invariant (exact integer sums)") {
    val d = docs(
      1L -> "a b c d e f g", 2L -> "a b c d e f h",
      3L -> "a b c d e f g", 4L -> "m n o p q r s")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.tfidfCosinePairs(df, 0.3).collect()
        .map(p => (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"),
          p.getAs[Long]("dot"), p.getAs[Long]("norm2_a"),
          p.getAs[Long]("norm2_b"), p.getAs[Double]("cosine")))
        .toSet
    assert(run(d.repartition(1)) === run(d.repartition(7)))
  }

  test("keptPostingLists plan: the df cap is ONE capped-buffer " +
      "aggregation — partial+final ObjectHashAggregate, a single " +
      "Exchange, no WindowExec, no anti-join, no second derive of the " +
      "posting stream (r19 one-pass shape)") {
    val d = docs(
      1L -> "a b c d e", 2L -> "a b c d e", 3L -> "p q r s t")
    val kept = Dedup.keptPostingLists(Dedup.shingleIds(d), 5L)
    // collect() — not count(), which builds a SEPARATE query execution —
    // so this frame's own adaptive plan is the one finalized and inspected
    kept.collect()
    // AdaptiveSparkPlan.toString appends the pre-adaptive Initial Plan
    // section after execution — pin the FINAL plan only
    val plan = kept.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"),
      s"df cap must not ride a window (hot-key co-location): $plan")
    // the capped aggregate partially aggregates map-side (a hot key is
    // absorbed into one count-only partial buffer per map partition)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"capped collect must partial-aggregate map-side: $plan")
    // one pass, one exchange: the r1–r18 shape paid a second tokenize,
    // an anti-join, and a standalone repartition on top
    assert("Exchange".r.findAllIn(plan).size === 1,
      s"kept lists must cost exactly one exchange: $plan")
    assert(!plan.contains("LeftAnti"), s"anti-join retired in r19: $plan")
    assert("Scan parquet".r.findAllIn(plan).size <= 1 &&
      "LocalTableScan".r.findAllIn(plan).size <= 1,
      s"posting stream must be derived once: $plan")
    // kept universe identical to the r1–r18 anti-join definition
    val all = kept.select(explode(col("ds")).as("doc_id"))
      .as[Long].collect()
    assert(all.length === 9 && all.toSet === Set(1L, 2L, 3L))
    // df on the row = exact posting count; lists arrive sorted
    val rows = kept.collect()
    rows.foreach { r =>
      val ds = r.getSeq[Long](r.fieldIndex("ds"))
      assert(ds.length.toLong === r.getAs[Long]("df"))
      assert(ds === ds.sorted)
    }
    // df<=1 keeps only doc 3's unique shingles
    val hard = Dedup.keptPostingLists(Dedup.shingleIds(d), 1L)
      .select(explode(col("ds")).as("doc_id")).as[Long].collect()
    assert(hard.toSet === Set(3L) && hard.length === 3)
  }

  test("CappedPostingsAgg: exact df across merges, count-only overflow " +
      "buffers, sorted output; stride-2 blocks sort by doc_id") {
    // direct Aggregator semantics (the skew guard's exactness contract)
    val a1 = new graft.functions.CappedPostingsAgg(3, 1)
    def red(b: graft.functions.CappedWorkBuf, v: Long*) =
      v.foldLeft(b)((acc, x) => a1.reduce(acc, Array(x)))
    // under-cap merge: all elements kept, sorted by finish
    val m = a1.finish(a1.merge(red(a1.zero, 5L, 2L), red(a1.zero, 9L)))
    assert(m.n === 3L && m.ds.toSeq === Seq(2L, 5L, 9L))
    // exact count survives overflow; elements drop the moment n > cap
    val o = a1.merge(red(a1.zero, 1L, 2L), red(a1.zero, 3L, 4L))
    assert(o.n === 4L && o.ds === null)
    val o2 = a1.merge(o, red(a1.zero, 7L))
    assert(o2.n === 5L && o2.ds === null)
    // per-partition overflow alone already degenerates to count-only
    val p = red(a1.zero, 1L, 2L, 3L, 4L, 5L)
    assert(p.n === 5L && p.ds === null)
    // stride 2: (doc_id, tf) blocks sort by leading doc_id
    val a2 = new graft.functions.CappedPostingsAgg(3, 2)
    val w = a2.finish(a2.merge(
      a2.reduce(a2.zero, Array(30L, 7L)),
      a2.reduce(a2.zero, Array(10L, 9L))))
    assert(w.n === 2L && w.ds.toSeq === Seq(10L, 9L, 30L, 7L))
    // r20 amortized-doubling buffer: a work buffer's capacity may exceed
    // its used watermark mid-stream, but merge/finish only ever read
    // `used` longs, and finish trims to the exact sorted output
    val a3 = new graft.functions.CappedPostingsAgg(1000, 1)
    val big = (1L to 700L).foldLeft(a3.zero)((b, x) =>
      a3.reduce(b, Array(1000L - x)))
    assert(big.used === 700 && big.ds.length >= 700)
    val merged = a3.merge(big,
      Seq(5000L, 4000L).foldLeft(a3.zero)((b, x) => a3.reduce(b, Array(x))))
    val fin = a3.finish(merged)
    assert(fin.n === 702L && fin.ds.length === 702 &&
      fin.ds.toSeq === fin.ds.toSeq.sorted)
  }
  private def docsWithSource(rows: (Long, String, String)*) =
    rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("crossSourceDupMatrix: cross-source copies and intra-source " +
      "boilerplate land in separate matrix cells; uniques stay out") {
    val d = docsWithSource(
      (1L, "the quick brown fox jumps over dogs", "srcA"),
      (2L, "the quick brown fox jumps over dogs", "srcB"), // copy of 1
      (3L, "alpha beta gamma delta epsilon zeta", "srcA"),
      (4L, "alpha beta gamma delta epsilon zeta", "srcA"), // intra dup
      (5L, "completely unrelated text with no twin", "srcB"))
    val r = Dedup.crossSourceDupMatrix(d)
      .select("source_lo", "source_hi", "n_pairs", "n_docs", "intra")
      .as[(String, String, Long, Long, Boolean)].collect().toSet
    graft.CheckpointLease.releaseAll()
    assert(r === Set(
      ("srcA", "srcB", 1L, 2L, false),
      ("srcA", "srcA", 1L, 2L, true)))
  }

  test("repeatedSpans: consecutive cross-doc grams coalesce into one " +
      "maximal span; within-doc-only repeats and short docs are excluded") {
    val d = docs(
      // docs 1/2 share exactly the 8-token prefix (gram i=1 only)
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h x y",
      // docs 3/4 share a 10-token prefix -> grams i=1..3 -> ONE span
      3L -> "p q r s t u v w x z2 t3a t3b",
      4L -> "p q r s t u v w x z2 o4",
      // gram repeated twice WITHIN doc 5 only: nd = 1, must not flag
      5L -> "m1 m2 m3 m4 m5 m6 m7 m8 mid m1 m2 m3 m4 m5 m6 m7 m8",
      6L -> "s1 s2 s3") // shorter than the gram width: no grams at all
    val r = Dedup.repeatedSpans(d)
      .select("doc_id", "span_start", "span_end", "span_tokens",
        "n_dup_grams")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(r === Set(
      (1L, 1L, 8L, 8L, 1L),
      (2L, 1L, 8L, 8L, 1L),
      (3L, 1L, 10L, 10L, 3L),
      (4L, 1L, 10L, 10L, 3L)))
  }

  test("repeatedSpansHashed: identical to the exact arm on the toy set " +
      "and the full sf0.001 fixture (hash only selects candidates)") {
    val toy = docs(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h x y",
      3L -> "m1 m2 m3 m4 m5 m6 m7 m8 mid m1 m2 m3 m4 m5 m6 m7 m8")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "span_start", "span_end", "span_tokens",
          "n_dup_grams")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(key(Dedup.repeatedSpansHashed(toy)) ===
      key(Dedup.repeatedSpans(toy)))
    val full = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = key(Dedup.repeatedSpans(full))
    assert(key(Dedup.repeatedSpansHashed(full)) === exact)
    assert(exact.nonEmpty, "fixture must exercise the span path")
  }

  test("spanScrub: the canonical (min doc, pos) occurrence survives, " +
      "every other copy is cut, untouched docs round-trip") {
    val d = docs(
      1L -> "a b c d e f g h i j",   // canonical copy: untouched
      2L -> "a b c d e f g h x y",   // loses the 8-token prefix
      3L -> "m1 m2 m3 m4 m5 m6 m7 m8 mid m1 m2 m3 m4 m5 m6 m7 m8", // intra
      4L -> "s1 s2 s3")              // under gram width: pass-through
    val r = Dedup.spanScrub(d)
      .select("doc_id", "n_tokens", "kept_tokens", "removed_tokens",
        "clean_text")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L) === ((1L, 10L, 10L, 0L, "a b c d e f g h i j")))
    assert(r(2L) === ((2L, 10L, 2L, 8L, "x y")))
    assert(r(3L)._4 === 0L && r(3L)._5.startsWith("m1 m2"))
    assert(r(4L) === ((4L, 3L, 3L, 0L, "s1 s2 s3")))
  }

  test("spanRemovalPlan: disjoint islands sum exactly, clean and short " +
      "docs report zeros with the true denominator") {
    val d = docs(
      1L -> "a b c d e f g h i j",                // span [1,8] -> 8 of 10
      2L -> "a b c d e f g h x y",
      3L -> "clean doc with no repeats here at all ok", // 0 of 9... 8 toks
      4L -> "s1 s2 s3")                           // too short: 0 of 3
    val r = Dedup.spanRemovalPlan(d)
      .select("doc_id", "n_tokens", "repeated_tokens", "n_spans",
        "repeated_share")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L) === ((1L, 10L, 8L, 1L, 0.8)))
    assert(r(2L) === ((2L, 10L, 8L, 1L, 0.8)))
    assert(r(3L)._3 === 0L && r(3L)._5 === 0.0)
    assert(r(4L) === ((4L, 3L, 0L, 0L, 0.0)))
  }

  test("spanRemovalPlan: overlapping island extents count covered " +
      "positions once — repeated_share can never exceed 1.0") {
    // doc 1's grams at starts 1 and 3 are cross-doc duplicated, start 2
    // is clean: two islands [1,8] and [3,10] overlapping on 3..8. A
    // span_tokens SUM would report 16 of 10 tokens (share 1.6); distinct
    // covered positions give the true 10 (r17 advice).
    val d = docs(
      1L -> "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10",
      2L -> "t1 t2 t3 t4 t5 t6 t7 t8 x y",   // shares doc1's start-1 gram
      3L -> "u v t3 t4 t5 t6 t7 t8 t9 t10")  // shares doc1's start-3 gram
    val r = Dedup.spanRemovalPlan(d)
      .select("doc_id", "n_tokens", "repeated_tokens", "n_spans",
        "repeated_share")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => x._1 -> x).toMap
    assert(r(1L) === ((1L, 10L, 10L, 2L, 1.0)))
    assert(r(2L) === ((2L, 10L, 8L, 1L, 0.8)))
    assert(r(3L) === ((3L, 10L, 8L, 1L, 0.8)))
  }

  test("hashed-fed spanScrub and spanRemovalPlan are output-identical " +
      "to the exact-fed arms on the toy set and the sf0.001 fixture") {
    // r17 verdict #3: the hooks swap ONLY the candidate aggregation's
    // shuffle width (8-byte gram hashes vs literal n-token strings);
    // the identity argument lives at scrubFlagsHashed/repeatedHitsHashed
    // and is machine-checked here on both fixtures
    val toy = docs(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h x y",
      3L -> "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10",
      4L -> "u v t3 t4 t5 t6 t7 t8 t9 t10",  // overlapping-extent case
      5L -> "s1 s2 s3")
    def scrubKey(d: org.apache.spark.sql.DataFrame) = {
      val exact = Dedup.spanScrub(d)
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val hashed = Dedup.spanScrub(d, Dedup.SpanGram,
          Some(Dedup.scrubFlagsHashed(d, Dedup.SpanGram)))
        .as[(Long, Long, Long, Long, String)].collect().toSet
      (exact, hashed)
    }
    def planKey(d: org.apache.spark.sql.DataFrame) = {
      val exact = Dedup.spanRemovalPlan(d)
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      val hashed = Dedup.spanRemovalPlan(d, Dedup.SpanGram,
          Some(Dedup.repeatedHitsHashed(d, Dedup.SpanGram)))
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      (exact, hashed)
    }
    val (se, sh) = scrubKey(toy)
    assert(sh === se)
    val (pe, ph) = planKey(toy)
    assert(ph === pe)
    val full = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val (fse, fsh) = scrubKey(full)
    assert(fsh === fse)
    assert(fse.exists(_._4 > 0L), "fixture must exercise the scrub path")
    val (fpe, fph) = planKey(full)
    assert(fph === fpe)
  }

  test("jaccardPairsAuto: identical output on BOTH sides of the " +
      "crossover, and the default constant is the documented value") {
    // r17 verdict #7: the chooser must be spec'd on both sides — force
    // each arm by pinning the crossover at the extremes and assert the
    // cut is the (already lemma-equal) pair set either way
    val d = docs(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g x",
      3L -> "a b c d e f g h",
      4L -> "p q r s t u v w")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "inter_size", "union_size", "jaccard")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
    val naive = key(Dedup.ngramJaccardPairs(d))
    val viaEnum = key(Dedup.jaccardPairsAuto(d, crossover = Long.MaxValue))
    val viaPrefix = key(Dedup.jaccardPairsAuto(d, crossover = 0L))
    graft.CheckpointLease.releaseAll()
    assert(viaEnum === naive, "below the crossover: enumeration arm")
    assert(viaPrefix === naive, "above the crossover: PPJoin arm")
    assert(naive.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 3L),
      (2L, 3L)))
    // the documented default — a drive-by change must update the
    // calibration derivation in the scaladoc with it
    assert(Dedup.JaccardArmCrossover === 3000000L)
  }

  test("spanScrubAuto/spanRemovalPlanAuto: identical output on BOTH " +
      "sides of the crossover; mass scan is a sane upper-bound estimate") {
    // r18 verdict #5: the span family's arm choice must be spec'd the
    // way jaccardPairsAuto is — force each arm at the crossover extremes
    // and assert the (already lemma-equal) outputs either way
    val d = docs(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h x y",
      3L -> "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10",
      4L -> "u v t3 t4 t5 t6 t7 t8 t9 t10",
      5L -> "s1 s2 s3")
    def scrubKey(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, String)].collect().toSet
    def planKey(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long, Double)].collect().toSet
    val scrubExact = scrubKey(Dedup.spanScrub(d))
    assert(scrubKey(Dedup.spanScrubAuto(d, crossover = Long.MaxValue))
      === scrubExact, "below the crossover: exact feed")
    assert(scrubKey(Dedup.spanScrubAuto(d, crossover = 0L))
      === scrubExact, "above the crossover: hashed feed")
    val planExact = planKey(Dedup.spanRemovalPlan(d))
    assert(planKey(Dedup.spanRemovalPlanAuto(d, crossover = Long.MaxValue))
      === planExact)
    assert(planKey(Dedup.spanRemovalPlanAuto(d, crossover = 0L))
      === planExact)
    // the mass estimate: docs 1-4 carry 3 gram positions each (10 tokens,
    // n=8), doc 5 is sub-gram and contributes nothing; per-position width
    // ~= 8 tokens at the doc's mean token-plus-separator width — an
    // upper-bound proxy for the exact arm's gram-shuffle bytes, so it
    // must dominate 12 positions x the shortest token width and stay
    // well under corpus-text x n
    val mass = Dedup.spanGramMassBytes(d, Dedup.SpanGram)
    assert(mass > 12L * 8, s"mass $mass too small to be a byte estimate")
    assert(mass < 5000L, s"mass $mass exceeds any sane bound for 5 docs")
    // the documented default — a drive-by change must update the
    // calibration derivation in the scaladoc with it
    assert(Dedup.SpanArmCrossoverBytes === 2000000000L)
  }

  test("prefixJaccardPairs: toy near-dups and exact dups cut identically " +
      "to the naive arm") {
    val d = docs(
      1L -> "a b c d e f g h",      // near-dup of 2
      2L -> "a b c d e f g x",
      3L -> "a b c d e f g h",      // exact dup of 1
      4L -> "p q r s t u v w")      // unrelated
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("inter_size"), r.getAs[Long]("union_size"),
        r.getAs[Double]("jaccard"))
    val naive = Dedup.ngramJaccardPairs(d).collect().map(key).toSet
    val pref = Dedup.prefixJaccardPairs(d).collect().map(key).toSet
    graft.CheckpointLease.releaseAll()
    assert(pref === naive)
    assert(naive.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 3L),
      (2L, 3L)))
  }

  test("prefixJaccardPairs: the length and positional filters are " +
      "lossless at the exact threshold boundary") {
    // J exactly = 1/2: shingle sets of sizes 4 and 4 sharing
    // inter 8/3... construct via overlap: |A|=6,|B|=6,|A∩B|=4 ->
    // J = 4/8 = 0.5 exactly — the boundary pair the filters must KEEP
    // (a one-off ceil error in prefix length, the length bound, or the
    // overlap requirement alpha would drop it). 3-gram shingles over
    // words: "a b c d e f g h" has shingles (a b c)..(f g h) = 6.
    val d = docs(
      1L -> "a b c d e f g h",   // 6 shingles
      2L -> "a b c d e f x y",   // shares (a b c)..(d e f) = 4 of 6
      3L -> "z1 z2 z3 z4 z5")    // size-3 unrelated (length-filter prey)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("inter_size"), r.getAs[Long]("union_size"),
        r.getAs[Double]("jaccard"))
    val naive = Dedup.ngramJaccardPairs(d).collect().map(key).toSet
    val pref = Dedup.prefixJaccardPairs(d).collect().map(key).toSet
    graft.CheckpointLease.releaseAll()
    assert(pref === naive)
    assert(naive.map(p => (p._1, p._2, p._5)) === Set((1L, 2L, 0.5)),
      "the exact-boundary pair must survive every candidate filter")
  }

  test("prefixJaccardPairs: full-fixture cut equals ngramJaccardPairs " +
      "at sf0.001 (the completeness lemma, machine-checked)") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("inter_size"), r.getAs[Long]("union_size"))
    val naive = Dedup.ngramJaccardPairs(d).collect().map(key).toSet
    val pref = Dedup.prefixJaccardPairs(d).collect().map(key).toSet
    graft.CheckpointLease.releaseAll()
    assert(pref === naive)
    assert(naive.nonEmpty, "fixture must exercise the pair path")
  }
}
