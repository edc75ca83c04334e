package graft.ext

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class CorpusSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, sf)

  test("lmDocScores: reference docs are fully in-vocabulary, counts " +
      "conserve, scores bounded") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val r = Corpus.lmDocScores(docs).collect()
    assert(r.length === docs.count())
    val bySrc = docs.select("doc_id", "source").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    var sawOov = false
    r.foreach { row =>
      val id = row.getAs[Long]("doc_id")
      val nb = row.getAs[Long]("n_bigrams")
      val nk = row.getAs[Long]("n_known")
      val no = row.getAs[Long]("n_oov")
      assert(nk + no === nb, s"doc $id: known+oov != bigrams")
      val oov = row.getAs[Double]("oov_rate")
      val mp = row.getAs[Double]("mean_pkn")
      assert(oov >= 0.0 && oov <= 1.0)
      assert(mp >= 0.0 && mp <= 1.0, s"doc $id mean_pkn $mp out of range")
      // the model is trained ON the reference slice, so every
      // reference transition is known by construction
      if (bySrc(id) == Corpus.LmRefSource)
        assert(no === 0L, s"reference doc $id has OOV transitions")
      if (no > 0L) sawOov = true
    }
    // and the scorer must discriminate: some non-reference doc carries
    // transitions the single-domain model has never seen
    assert(sawOov, "no document scored any OOV transition — the " +
      "reference model cannot be discriminating anything")
  }

  test("doremiMix: shares sum to 1, reference-like sources get the " +
      "boost, conservation holds") {
    val d = docs
    val r = Corpus.doremiMix(d).collect()
    assert(r.length === d.select("source").distinct().count())
    val totalDocs = d.count()
    assert(r.map(_.getAs[Long]("n_docs")).sum === totalDocs)
    val docShare = r.map(_.getAs[Double]("doc_share")).sum
    val wShare = r.map(_.getAs[Double]("weight_share")).sum
    assert(math.abs(docShare - 1.0) < 1e-9)
    assert(math.abs(wShare - 1.0) < 1e-9)
    r.foreach { row =>
      val src = row.getAs[String]("source")
      val exc = row.getAs[Long]("excess_micro")
      val w = row.getAs[Long]("w_micro")
      assert(exc >= 0L)
      assert(w === row.getAs[Long]("n_docs") * (1000000L + exc),
        s"$src: weight is not the declared integer product")
      // excess is mean - baseline clamped at zero: a source below the
      // corpus mean keeps exactly its document mass
      if (exc == 0L)
        assert(w === row.getAs[Long]("n_docs") * 1000000L)
    }
    // the reference slice scores against its OWN model: it must sit at
    // or above the corpus-wide baseline (zero OOV, in-domain mass)
    val ref = r.find(
      _.getAs[String]("source") == Corpus.LmRefSource).get
    assert(ref.getAs[Double]("mean_pkn") >=
      ref.getAs[Double]("base_pkn") - 1e-12)
    // and the scorer discriminates: not every source is boosted
    assert(r.exists(_.getAs[Long]("excess_micro") === 0L),
      "every source above baseline — the mean cannot exceed itself " +
        "everywhere")
    val boosted = r.count(_.getAs[Long]("excess_micro") > 0L)
    info(s"doremiMix: $boosted of ${r.length} sources boosted")
  }

  test("distinctNgramProfile: hand-counted totals and distincts, " +
      "repetition drives the ratio down") {
    import spark.implicits._
    val d = Seq(
      // srcA doc: "a b a b a" -> 5 unigrams (2 distinct),
      // 4 bigrams (2 distinct: "a b","b a"), 3 trigrams (2 distinct)
      (1L, "a b a b a", "srcA"),
      // srcB: all-distinct tokens -> every ratio is 1.0
      (2L, "p q r s", "srcB"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = Corpus.distinctNgramProfile(d).collect()
      .map(x => (x.getAs[String]("source"), x.getAs[Int]("n")) -> x)
      .toMap
    assert(r.keySet === Set(("srcA", 1), ("srcA", 2), ("srcA", 3),
      ("srcB", 1), ("srcB", 2), ("srcB", 3)))
    def chk(src: String, n: Int, tot: Long, dist: Long): Unit = {
      val row = r((src, n))
      assert(row.getAs[Long]("total_ngrams") === tot, s"$src n=$n total")
      assert(row.getAs[Long]("distinct_ngrams") === dist,
        s"$src n=$n distinct")
      assert(row.getAs[Double]("distinct_ratio") ===
        dist.toDouble / tot.toDouble)
    }
    chk("srcA", 1, 5, 2); chk("srcA", 2, 4, 2); chk("srcA", 3, 3, 2)
    chk("srcB", 1, 4, 4); chk("srcB", 2, 3, 3); chk("srcB", 3, 2, 2)
  }

  test("ccnetBuckets: every doc bucketed, head outscores tail within " +
      "each source, roughly equal thirds") {
    val d = docs
    val r = Corpus.ccnetBuckets(d).collect()
    assert(r.length === d.count())
    val bySrc = r.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rows) =>
      // bucket label consistent with the index
      rows.foreach { x =>
        val want = x.getAs[Long]("bucket_i") match {
          case 0 => "head"; case 1 => "middle"; case _ => "tail"
        }
        assert(x.getAs[String]("bucket") === want)
      }
      // within a source, every head doc's permille key >= every tail's
      // (the cut is on the quantized score, descending)
      val heads = rows.filter(_.getAs[String]("bucket") == "head")
        .map(_.getAs[Long]("pm"))
      val tails = rows.filter(_.getAs[String]("bucket") == "tail")
        .map(_.getAs[Long]("pm"))
      if (heads.nonEmpty && tails.nonEmpty)
        assert(heads.min >= tails.max, s"$src: head below tail")
      // the first (best) permille key is always bucket 0 by the cut
      // arithmetic; with a smooth score spread all three buckets
      // appear (ties can legitimately swallow a bucket under skew, so
      // the three-way assertion keys on distinct-count headroom)
      assert(heads.nonEmpty, s"$src: no head bucket")
      val distinctKeys = rows.map(_.getAs[Long]("pm")).distinct.length
      if (distinctKeys >= rows.length / 2 && rows.length >= 9) {
        val sizes = rows.groupBy(_.getAs[String]("bucket"))
          .view.mapValues(_.length).toMap
        assert(sizes.size === 3, s"$src: only ${sizes.keySet}")
      }
    }
  }

  test("ccnetBuckets: assignment is invariant to input partitioning") {
    val d = docs
    def run(df: org.apache.spark.sql.DataFrame) =
      Corpus.ccnetBuckets(df).collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("pm"),
          r.getAs[Long]("bucket_i"), r.getAs[String]("bucket"))).toSet
    assert(run(d.repartition(2)) === run(d.repartition(9)))
  }

  test("chunkDocuments: windows tile the token stream with the stride") {
    import spark.implicits._
    // 300 tokens, chunk=128, stride=96 -> starts 1/97/193, lens 128/128/108
    val text = (1 to 300).map(i => s"t$i").mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = Corpus.chunkDocuments(d)
      .orderBy("chunk_id")
      .select("chunk_id", "start_tok", "chunk_len", "chunk_text")
      .as[(Long, Long, Long, String)].collect()
    assert(chunks.map(c => (c._1, c._2, c._3)).toSeq ===
      Seq((0L, 1L, 128L), (1L, 97L, 128L), (2L, 193L, 108L)))
    // each chunk's text is exactly the tokens at [start, start+len)
    chunks.foreach { case (_, start, len, txt) =>
      val want = ((start until start + len)).map(i => s"t$i").mkString(" ")
      assert(txt === want)
    }
    // short doc: single chunk holding everything
    val short = Corpus.chunkDocuments(
      Seq((2L, "a b c")).toDF("doc_id", "text")).collect()
    assert(short.length === 1)
    assert(short.head.getAs[Long]("chunk_len") === 3L)
  }

  test("chunkDocuments over testdata: every token position is covered") {
    val bad = Corpus.chunkDocuments(docs)
      .groupBy("doc_id")
      .agg(max(col("start_tok") + col("chunk_len") - 1).as("covered"),
        count(lit(1)).as("n_chunks"))
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n")), Seq("doc_id"))
      .filter(col("covered") =!= col("n"))
      .count()
    assert(bad === 0L, "last chunk must end exactly at the last token")
  }

  test("shardAssign: a permutation — every doc once, dense positions") {
    val out = Corpus.shardAssign(docs)
    assert(out.count() === docs.count())
    assert(out.select("doc_id").distinct().count() === docs.count())
    // positions within each shard are exactly 1..count(shard)
    val nonDense = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"),
        countDistinct("pos").as("np"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1L ||
        col("np") =!= col("n"))
      .count()
    assert(nonDense === 0L)
    // deterministic: a second run is byte-identical
    val again = Corpus.shardAssign(docs)
    assert(out.exceptAll(again).count() === 0L)
    assert(again.exceptAll(out).count() === 0L)
  }

  test("plan shapes: chunking is narrow; sharding shuffles exactly once") {
    val chunkPlan =
      Corpus.chunkDocuments(docs).queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"),
      s"chunking must be a narrow map+generate, no shuffle:\n$chunkPlan")
    val shardPlan =
      Corpus.shardAssign(docs).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(shardPlan).size
    assert(exchanges === 1,
      s"sharding needs exactly the per-shard window exchange:\n$shardPlan")
  }

  test("chunkDocuments rejects a stride past the window (coverage gap)") {
    intercept[IllegalArgumentException] {
      Corpus.chunkDocuments(docs, chunk = 64, stride = 65)
    }
    intercept[IllegalArgumentException] {
      Corpus.chunkDocuments(docs, stride = 0)
    }
  }

  test("shardAssign: overflow-domain ids fail loudly on the portable " +
      "hash; xxhash64 path accepts them") {
    import spark.implicits._
    val big = Seq(Long.MaxValue / 2654435761L + 1).toDF("doc_id")
    val ex = intercept[Exception] {
      Corpus.shardAssign(big).collect()
    }
    assert(ex.getMessage.contains("portable-hash domain") ||
      Option(ex.getCause).exists(_.getMessage.contains("portable-hash domain")))
    val ok = Corpus.shardAssign(big, portable = false).collect()
    assert(ok.length === 1)
    assert(ok(0).getAs[Long]("shard") >= 0 &&
      ok(0).getAs[Long]("shard") < Corpus.NumShards)
  }

  test("dedupLines: first occurrence survives, exact dup collapses to " +
      "n_kept=0, clean_fp is position-ordered") {
    import spark.implicits._
    // 2-token lines: doc 1 = [a b][c d], doc 2 = [c d][e f] (shares line 2),
    // doc 3 = exact copy of doc 1 -> every line already seen
    val d = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b c d"))
      .toDF("doc_id", "text")
    val got = Corpus.dedupLines(d, lineTokens = 2)
      .select("doc_id", "n_lines", "n_kept", "kept_frac", "clean_fp")
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    assert((got(1L)._2, got(1L)._3, got(1L)._4) === ((2L, 2L, 1.0)))
    assert((got(2L)._2, got(2L)._3, got(2L)._4) === ((2L, 1L, 0.5)))
    assert((got(3L)._2, got(3L)._3, got(3L)._4) === ((2L, 0L, 0.0)))
    import org.apache.commons.codec.digest.DigestUtils.md5Hex
    assert(got(1L)._5 === md5Hex("a b c d"))  // both lines, doc order
    assert(got(2L)._5 === md5Hex("e f"))      // only the unseen line
    assert(got(3L)._5 === md5Hex(""))         // nothing survives
  }

  test("dupNgramFraction: hand-computed df>1 shares on crafted docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),   // shingles {a b c, b c d}
      (2L, "a b c x"),   // shingles {a b c, b c x}
      (3L, "p q r s"),   // shingles {p q r, q r s} -- all unique
      (4L, "a b"))       // too short: no shingles, absent from output
      .toDF("doc_id", "text")
    val got = Corpus.dupNgramFraction(d)
      .select("doc_id", "n_shingles", "n_dup_shingles", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 2L, 0L, 0.0)))
  }

  test("sourceMix: per-cell counts with exact corpus shares") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b", "en", "web"),     // 3 chars, 2 tokens
      (2L, "c", "en", "web"),       // 1 char, 1 token
      (3L, "dd ee", "fr", "books")) // 5 chars, 2 tokens
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.sourceMix(d)
      .select("source", "lang", "n_docs", "n_chars", "n_tokens",
        "doc_share", "char_share")
      .as[(String, String, Long, Long, Long, Double, Double)]
      .collect().toSet
    assert(r === Set(
      ("web", "en", 2L, 4L, 3L, 2.0 / 3, 4.0 / 9),
      ("books", "fr", 1L, 5L, 2L, 1.0 / 3, 5.0 / 9)))
  }

  test("temperatureMix: sqrt tempering up-weights tail sources exactly") {
    import spark.implicits._
    // A: 4 docs, B: 1 doc -> w_micro 2_000_000 / 1_000_000 (sqrt exact),
    // weight shares 2/3 and 1/3 vs doc shares 0.8 / 0.2
    val d = (Seq.fill(4)("A") :+ "B").zipWithIndex
      .map { case (s, i) => (i.toLong, "x y", "en", s, 3L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.temperatureMix(d)
      .select("source", "n_docs", "w_micro", "doc_share", "weight_share")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(r("A")._2 === 4L && r("A")._3 === 2000000L)
    assert(r("B")._2 === 1L && r("B")._3 === 1000000L)
    assert(r("A")._4 === 0.8 && r("B")._4 === 0.2)
    assert(r("A")._5 === 2000000.0 / 3000000.0)
    assert(r("B")._5 === 1000000.0 / 3000000.0)
    assert(r("B")._5 > r("B")._4, "tail source must be up-weighted")
    graft.CheckpointLease.releaseAll()
  }

  test("bpePairCounts: within-token adjacent pairs, deterministic ranks") {
    import spark.implicits._
    // tokens: "aab" x2, "ab", "x" (no pair) -> aa:2, ab:3 (2 from aab,
    // 1 from ab); order by count desc then pair asc
    val d = Seq((1L, "aab aab"), (2L, "ab x")).toDF("doc_id", "text")
    val got = Corpus.bpePairCounts(d)
      .select("pair", "cnt", "rnk").as[(String, Long, Long)].collect()
    assert(got.toSeq === Seq(("ab", 3L, 1L), ("aa", 2L, 2L)))
    // k caps the output
    assert(Corpus.bpePairCounts(d, k = 1).count() === 1L)
  }

  test("bpeTrain: overlap counting, non-overlapping merge, early stop") {
    import spark.implicits._
    // "aaaa": pair (a,a) counts 3 (overlapping adjacencies), but the
    // merge rewrites left-to-right non-overlapping -> [aa][aa]; round 2
    // then merges (aa,aa) once and the corpus is single-symbol tokens
    val got = Corpus.bpeTrain(Seq((1L, "aaaa")).toDF("doc_id", "text"))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got === Seq((1L, "a a", "aa", 3L), (2L, "aa aa", "aaaa", 1L)))
  }

  test("bpeTrain: deterministic tie-break and cross-token counting") {
    import spark.implicits._
    // tokens: ab, ab, cd, cd -> pairs (a,b):2 (c,d):2, tie -> "a b"
    // wins lexicographically; then (c,d):2; then nothing
    val got = Corpus.bpeTrain(
      Seq((1L, "ab cd"), (2L, "ab cd")).toDF("doc_id", "text"))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got === Seq((1L, "a b", "ab", 2L), (2L, "c d", "cd", 2L)))
  }

  test("tokenBudgetPlan: exact sqrt weights, allocation, and epochs") {
    import spark.implicits._
    // srcA: 16 tokens, srcB: 4 tokens -> w = 4e6 : 2e6 (exact sqrt of
    // exact ints), alloc = 1e6*4e6 div 6e6 = 666666 : 333333
    val d = Seq(
      (1L, ("x " * 16).trim, "en", "srcA", 1L),
      (2L, ("y " * 4).trim, "en", "srcB", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.tokenBudgetPlan(d)
      .select("source", "n_tokens", "w_micro", "alloc_tokens", "epochs_bp")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    graft.CheckpointLease.releaseAll()
    assert(r("srcA") === (("srcA", 16L, 4000000L, 666666L,
      (666666L * 10000L) / 16L)))
    assert(r("srcB") === (("srcB", 4L, 2000000L, 333333L,
      (333333L * 10000L) / 4L)))
  }

  test("dupSpans: island merge, within-doc repeats, and zero-span docs") {
    import spark.implicits._
    // doc 1 repeats "a b c d e" twice with a unique separator token:
    // positions 1..1 (gram at 1) and 7..7 duplicate; gap 6 > 5 -> TWO
    // spans of 5 tokens each. doc 2 shares the same opening 5-gram at
    // position 1 (cross-doc dup, one span). doc 3 is unique -> 0 spans.
    val d = Seq(
      (1L, "a b c d e SEP a b c d e"),
      (2L, "a b c d e x y z w v"),
      (3L, "p q r s t u v w x y"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.dupSpans(d)
      .select("doc_id", "n_tokens", "n_spans", "dup_tokens", "dup_frac")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L) === ((1L, 11L, 2L, 10L, 10.0 / 11.0)))
    assert(r(2L) === ((2L, 10L, 1L, 5L, 0.5)))
    assert(r(3L) === ((3L, 10L, 0L, 0L, 0.0)))
  }

  test("dupSpans: overlapping duplicated windows merge into one span") {
    import spark.implicits._
    // "a b c d e f" repeated: every 5-gram start (1 and 2) duplicates;
    // gap 1 <= 5 merges them -> ONE span covering all 6 tokens
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"))
      .map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Corpus.dupSpans(d)
      .select("doc_id", "n_spans", "dup_tokens")
      .as[(Long, Long, Long)].collect().toSet
    assert(r === Set((1L, 1L, 6L), (2L, 1L, 6L)))
  }

  test("bpeTrain: k beyond the driver-loop design envelope fails fast") {
    import spark.implicits._
    val d = Seq((1L, "ab")).toDF("doc_id", "text")
    // inside the budget: fine
    Corpus.bpeTrain(d, merges = Corpus.BpeMergeBudget).count()
    // a production-vocab k must not silently serialize on the driver loop
    intercept[IllegalArgumentException] {
      Corpus.bpeTrain(d, merges = Corpus.BpeMergeBudget + 1)
    }
  }

  test("bpeTrain: merged symbols participate in later rounds") {
    import spark.implicits._
    // classic staged merge: "abc" x3 -> (a,b):3 & (b,c):3 tie -> "a b";
    // then (ab,c):3 completes the token
    val got = Corpus.bpeTrain(
      Seq((1L, "abc abc abc")).toDF("doc_id", "text"))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got === Seq((1L, "a b", "ab", 3L), (2L, "ab c", "abc", 3L)))
  }

  test("bpeApply: fertility accounting after the trained merges") {
    import spark.implicits._
    // corpus "abc abc abc" trains merges (a,b) then (ab,c) — every token
    // ends as ONE symbol: 3 tokens, 9 chars, 3 symbols
    val d = Seq((1L, "abc abc abc", "web")).toDF("doc_id", "text", "source")
    val got = Corpus.bpeApply(d)
      .select("source", "n_tokens", "chars", "symbols", "syms_per_char",
        "syms_per_token")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got === Seq(("web", 3L, 9L, 3L, 3.0 / 9.0, 1.0)))
  }

  test("bpeApply: partially merged tokens count residual symbols") {
    import spark.implicits._
    // "ab" dominates -> merge 1 = (a,b); token "aba" ends as [ab][a]
    // (2 symbols), tokens "ab" end as [ab] (1 symbol)
    val d = Seq((1L, "ab ab ab aba", "w1"), (2L, "ab aba", "w2"))
      .toDF("doc_id", "text", "source")
    val got = Corpus.bpeApply(d, merges = 1)
      .select("source", "n_tokens", "chars", "symbols")
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(got("w1") === (("w1", 4L, 9L, 5L)))
    assert(got("w2") === (("w2", 2L, 5L, 3L)))
  }

  test("normalizeStats: exact before/after char totals per language") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello,  World!", "en"), // -> "hello world" (11 of 14 chars)
      (2L, "abc 123", "en"),        // already normal -> unchanged
      (3L, "A+B", "de"))            // -> "a b" (same length, changed)
      .toDF("doc_id", "text", "lang")
    val got = Corpus.normalizeStats(d)
      .select("lang", "n_docs", "n_changed", "chars_before", "chars_after",
        "shrink_ratio")
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(got("en") === (("en", 2L, 1L, 21L, 18L, 18.0 / 21.0)))
    assert(got("de") === (("de", 1L, 1L, 3L, 3L, 1.0)))
  }

  test("bigramCoverage: corpus-frequent pairs counted per occurrence, " +
      "bigram-free docs absent") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c"),   // bigrams "a b", "b c"
      (2L, "a b d"),   // bigrams "a b", "b d"
      (3L, "x"))       // no bigram -> no output row
      .toDF("doc_id", "text")
    // minCount=2 -> only "a b" (count 2) is frequent
    val r = Corpus.bigramCoverage(d, minCount = 2L)
      .select("doc_id", "n_bigrams", "n_covered", "coverage")
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(r === Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5)))
    // repeated occurrences of a frequent pair all count
    val rep = Corpus.bigramCoverage(
      Seq((1L, "a b a b"), (2L, "a b z")).toDF("doc_id", "text"),
      minCount = 3L)
      .select("doc_id", "n_covered").as[(Long, Long)].collect().toMap
    // "a b" occurs 2 (doc1) + 1 (doc2) = 3 times -> frequent; doc1's
    // covered = its 2 occurrences ("b a" stays rare)
    assert(rep === Map(1L -> 2L, 2L -> 1L))
  }

  test("despanDocuments: later occurrences removed, first kept, fp of rewrite") {
    import spark.implicits._
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val d = Seq(
      (1L, "a b c d e x"),   // holds the FIRST "a b c d e"
      (2L, "z a b c d e"),   // later occurrence at p=2 -> loses p 2..6
      (3L, "a b c d e"),     // whole doc duplicated -> fully removed
      (4L, "q r s")          // under the gram width -> untouched
    ).toDF("doc_id", "text")
    val r = Corpus.despanDocuments(d)
      .select("doc_id", "n_tokens", "n_removed", "kept_frac", "clean_fp")
      .as[(Long, Long, Long, Double, String)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L) === ((1L, 6L, 0L, 1.0, md5hex("a b c d e x"))))
    assert(r(2L) === ((2L, 6L, 5L, 1.0 / 6.0, md5hex("z"))))
    assert(r(3L) === ((3L, 5L, 5L, 0.0, md5hex(""))))
    assert(r(4L) === ((4L, 3L, 0L, 1.0, md5hex("q r s"))))
  }

  test("knSmoothedTrigrams: recursive continuation components, hand-checked") {
    import spark.implicits._
    // docs: "a b c a b c" -> trigrams (a,b,c)x2, (b,c,a), (c,a,b)
    val r = Corpus.knSmoothedTrigrams(
      Seq((1L, "a b c a b c")).toDF("doc_id", "text"))
      .select("w1", "w2", "w3", "c123", "c12", "n_fwd12", "n_bwd23",
        "n_mid", "n_fwd2c", "n_bwd3", "t2", "p_kn3")
      .as[(String, String, String, Long, Long, Long, Long, Long, Long,
        Long, Long, Double)].collect()
      .map(t => (t._1, t._2, t._3) -> t).toMap
    // (a,b,c): c123=2, c12(a,b)=2, n_fwd12=1;
    // continuation (b,c): one distinct predecessor (a) -> n_bwd23=1;
    // mid(b): types (b,*) in cb = {(b,c)} -> n_mid=1, n_fwd2c=1;
    // uni(c): distinct w2 preceding c in cb = {b} -> n_bwd3=1; t2=3
    val abc = r(("a", "b", "c"))
    assert((abc._4, abc._5, abc._6, abc._7, abc._8, abc._9, abc._10,
      abc._11) === ((2L, 2L, 1L, 1L, 1L, 1L, 1L, 3L)))
    val pCont = (1.0 - 0.75) / 1.0 + ((0.75 * 1.0) / 1.0) * (1.0 / 3.0)
    assert(abc._12 === (2.0 - 0.75) / 2.0 + ((0.75 * 1.0) / 2.0) * pCont)
    // every probability positive and bounded by 1
    r.values.foreach(t => assert(t._12 > 0.0 && t._12 <= 1.0))
  }

  test("knSmoothedBigrams: hand-computed Kneser-Ney components") {
    import spark.implicits._
    // docs: "a b a b" -> (a,b),(b,a),(a,b); "a b c" -> (a,b),(b,c)
    // big: (a,b)=3 (b,a)=1 (b,c)=1; c1: a=3 b=2; n_fwd: a=1 b=2;
    // n_bwd: a=1 b=1 c=1; T=3
    val r = Corpus.knSmoothedBigrams(
      Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text"))
      .select("w1", "w2", "c12", "c1", "n_fwd", "n_bwd", "t_types", "p_kn")
      .as[(String, String, Long, Long, Long, Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t).toMap
    assert(r(("a", "b")) === (("a", "b", 3L, 3L, 1L, 1L, 3L,
      (3.0 - 0.75) / 3.0 + ((0.75 * 1.0) / 3.0) * (1.0 / 3.0))))
    assert(r(("b", "a")) === (("b", "a", 1L, 2L, 2L, 1L, 3L,
      (1.0 - 0.75) / 2.0 + ((0.75 * 2.0) / 2.0) * (1.0 / 3.0))))
    assert(r(("b", "c"))._8 === r(("b", "a"))._8,
      "same counts everywhere -> same smoothed probability")
    // discounted mass never exceeds the raw ML estimate, and every
    // probability is positive (the continuation term floors it)
    r.values.foreach { t =>
      assert(t._8 > 0.0)
      assert((t._3.toDouble - 0.75) / t._4.toDouble <= t._8)
    }
  }

  test("wordpieceReport: hand-replayed maximal munch on a planted vocab") {
    import spark.implicits._
    // words: abcd(tf 2), ab(1), cd(1), xy(1). Candidate weights:
    // ab 3, cd 3, then (abc, abcd, bc, bcd @ 2; xy @ 1) -> top-3 vocab
    // = {ab, cd, abc} (wt DESC, piece ASC). Munch: abcd -> abc + d (2),
    // ab -> 1, cd -> 1, xy -> x + y (2).
    val d = Seq((1L, "abcd abcd ab cd xy", "s1"))
      .toDF("doc_id", "text", "source")
    val r = Corpus.wordpieceReport(d, vocabSize = 3, maxPiece = 4)
      .collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[String]("source") === "s1")
    assert(row.getAs[Long]("n_words") === 5L)
    assert(row.getAs[Long]("n_tokens") === 8L)
    assert(row.getAs[Long]("one_piece_words") === 2L)
    assert(row.getAs[Double]("toks_per_word") === 1.6)
  }

  test("wordpieceReport: fixture run — fertility bounded, every source " +
      "reported, over-long words dropped not truncated") {
    val r = Corpus.wordpieceReport(docs).collect()
    assert(r.length === docs.select("source").distinct().count())
    r.foreach { row =>
      val w = row.getAs[Long]("n_words")
      val t = row.getAs[Long]("n_tokens")
      assert(w > 0 && t >= w, s"fertility must be >= 1: $row")
      assert(row.getAs[Long]("one_piece_words") <= w)
      assert(row.getAs[Double]("toks_per_word") ===
        t.toDouble / w)
    }
    // the length cap drops, never truncates: a 17-char word contributes
    // nothing (17 > WordpieceMaxWordLen)
    import spark.implicits._
    val longWord = "x" * (Corpus.WordpieceMaxWordLen + 1)
    val d2 = Seq((1L, s"ab ab $longWord", "s1"))
      .toDF("doc_id", "text", "source")
    val r2 = Corpus.wordpieceReport(d2, vocabSize = 1, maxPiece = 4)
      .collect()
    assert(r2.head.getAs[Long]("n_words") === 2L)
  }
  test("unigramReport: hand-replayed Viterbi — whole-word piece beats " +
      "the char path; empty multi-char vocab forces char segmentation") {
    import spark.implicits._
    // words ab(tf 2), cd(1); costs: a,b,ab -> 1e12 div 3; c,d,cd -> div 2
    val d = Seq((1L, "ab ab cd", "s1")).toDF("doc_id", "text", "source")
    val r = Corpus.unigramReport(d).collect().head
    assert(r.getAs[Long]("n_words") === 3L)
    assert(r.getAs[Long]("n_tokens") === 3L)       // every word 1 piece
    assert(r.getAs[Long]("total_cost") ===
      2L * 333333333333L + 500000000000L)
    assert(r.getAs[Double]("pieces_per_word") === 1.0)
    // vocabSize 0 -> single-char coverage only: every word splits
    val r0 = Corpus.unigramReport(d, vocabSize = 0).collect().head
    assert(r0.getAs[Long]("n_tokens") === 6L)
    assert(r0.getAs[Long]("total_cost") ===
      2L * 666666666666L + 1000000000000L)
    assert(r0.getAs[Double]("pieces_per_word") === 2.0)
  }

  test("unigramReport: Viterbi takes the globally cheapest path under " +
      "a cut vocab (not greedy longest-match)") {
    import spark.implicits._
    // words aaab(2), ab(1); weights a7 aa4 ab3 b3 ...; top-2 = {a, aa},
    // singles add b. costs: a 125e9, aa 200e9, b 250e9.
    // aaab -> aa+a+b (575e9, 3 pieces); ab -> a+b (375e9, 2)
    val d = Seq((1L, "aaab aaab ab", "s1")).toDF("doc_id", "text", "source")
    val r = Corpus.unigramReport(d, vocabSize = 2).collect().head
    assert(r.getAs[Long]("n_words") === 3L)
    assert(r.getAs[Long]("n_tokens") === 8L)
    assert(r.getAs[Long]("total_cost") ===
      2L * 575000000000L + 375000000000L)
    assert(r.getAs[Double]("pieces_per_word") === 8.0 / 3)
  }

  test("unigramReport: fixture run — every source reported, fertility " +
      ">= 1, over-long words dropped") {
    val r = Corpus.unigramReport(docs).collect()
    assert(r.length === docs.select("source").distinct().count())
    r.foreach { row =>
      val w = row.getAs[Long]("n_words")
      val t = row.getAs[Long]("n_tokens")
      assert(w > 0 && t >= w, s"fertility must be >= 1: $row")
      assert(row.getAs[Double]("pieces_per_word") === t.toDouble / w)
      assert(row.getAs[Long]("total_cost") > 0L)
    }
    import spark.implicits._
    val longWord = "x" * (Corpus.UnigramMaxWordLen + 1)
    val d2 = Seq((1L, s"ab ab $longWord", "s1"))
      .toDF("doc_id", "text", "source")
    assert(Corpus.unigramReport(d2).collect()
      .head.getAs[Long]("n_words") === 2L)
  }
}
