package graft.ext

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("compressRatio: ordering separates repetition, prose, and noise; " +
      "byte counts are exact and the stream round-trips") {
    val rep = "spam " * 200                     // highly compressible
    val prose = ("the quick brown fox jumps over the lazy dog " +
      "and keeps going with varied words like riverbank, " +
      "metamorphosis, quietly, seventeen ") * 8
    val noise = (1 to 1000).map(i =>            // hash soup ~ incompressible
      Integer.toHexString(i * 2654435761L.toInt)).mkString(" ")
    val d = docs((1L, rep, "en"), (2L, prose, "en"), (3L, noise, "en"))
    val r = TextAnalysis.compressRatio(d)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_bytes"), x.getAs[Long]("n_deflate"),
          x.getAs[Double]("ratio"))).toMap
    assert(r(1L)._1 === rep.getBytes("UTF-8").length.toLong)
    assert(r(1L)._3 < r(2L)._3 && r(2L)._3 < r(3L)._3,
      s"expected rep < prose < noise, got $r")
    // the recorded deflate size must be the REAL stream size: re-deflate
    // doc 1 with the same JDK zlib and compare, then inflate round-trip
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION)
    val in = rep.getBytes("UTF-8")
    defl.setInput(in); defl.finish()
    val buf = new Array[Byte](1 << 20)
    val n = defl.deflate(buf)
    assert(r(1L)._2 === n.toLong)
    val infl = new java.util.zip.Inflater()
    infl.setInput(buf, 0, n)
    val out = new Array[Byte](in.length + 16)
    assert(infl.inflate(out) === in.length)
  }

  test("readability: exact run counts and the Flesch expression") {
    // words([!-~]+ runs) = 5, sentences([.!?]+ runs) = 2,
    // syllables(vowel-group runs) = e,o | o | I | i | u = 6
    val r = TextAnalysis.readability(
      docs((1L, "Hello world. It is fun!", "en"))).collect().head
    assert(r.getAs[Long]("n_words") === 5L)
    assert(r.getAs[Long]("n_sentences") === 2L)
    assert(r.getAs[Long]("n_syllables") === 6L)
    assert(r.getAs[Double]("wps") === 2.5)
    assert(r.getAs[Double]("spw") === 1.2)
    assert(r.getAs[Double]("flesch") === 206.835 - 1.015 * 2.5 - 84.6 * 1.2)
  }

  test("readability: punctuation-free text hits the sentence floor") {
    val r = TextAnalysis.readability(docs((1L, "no punctuation here", "en")))
      .collect().head
    assert(r.getAs[Long]("n_sentences") === 1L) // greatest(0, 1)
    assert(r.getAs[Long]("n_words") === 3L)
  }

  test("stats: token and char accounting") {
    val r = TextAnalysis.stats(docs((1L, "aa bb aa", "en"))).collect().head
    assert(r.getAs[Int]("n_tokens") === 3)
    assert(r.getAs[Int]("n_distinct_tokens") === 2)
    assert(r.getAs[Int]("n_chars_txt") === 8)
    assert(r.getAs[Double]("avg_token_len") === 2.0)
  }

  test("quality: stopword-heavy short docs score low") {
    val out = TextAnalysis.quality(docs(
      (1L, "the a the a the a", "en"),
      (2L, (1 to 60).map(i => s"word$i").mkString(" "), "en"))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("is_quality")).toMap
    assert(out(1L) === 0)
    assert(out(2L) === 1)
  }

  test("langId: marker argmax with deterministic tie-break, und fallback") {
    val out = TextAnalysis.langId(docs(
      (1L, "the fast data", "en"),    // en=2 beats es=1
      (2L, "data table merge join", "es"), // es=2 ties fr=2 -> es (order)
      (3L, "zzz yyy", "fr"))).collect()    // no markers -> und
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang"))
      .toMap
    assert(out === Map(1L -> "en", 2L -> "es", 3L -> "und"))
  }

  test("fingerprints: tokenset_fp invariant to order/dups, content_fp not") {
    val out = TextAnalysis.fingerprints(docs(
      (1L, "b a c", "en"), (2L, "c b a a", "en"))).collect()
      .map(r => (r.getAs[String]("content_fp"), r.getAs[String]("tokenset_fp")))
    assert(out(0)._2 === out(1)._2)
    assert(out(0)._1 !== out(1)._1)
  }

  test("tokenCounts: regex tokenizer splits runs") {
    val r = TextAnalysis.tokenCounts(docs((1L, "ab12 cd--ef", "en")))
      .collect().head
    assert(r.getAs[Int]("ws_tokens") === 2)
    assert(r.getAs[Int]("regex_tokens") === 3) // ab12, cd, ef
  }

  test("topTermsPerLang: tf ranks, short tokens dropped, df is corpus-wide") {
    val d = docs(
      (1L, "apple apple apple banana bird", "en"), // 'bird' len 4 kept
      (2L, "banana banana apple", "en"),
      (3L, "apple cerise", "fr"))
    val rows = TextAnalysis.topTermsPerLang(d, 2).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("rnk"),
        r.getAs[String]("token"), r.getAs[Long]("tf"),
        r.getAs[Long]("doc_freq"))).sortBy(t => (t._1, t._2))
    assert(rows.toSeq === Seq(
      ("en", 1L, "apple", 4L, 3L),   // df counts the fr doc too
      ("en", 2L, "banana", 3L, 2L),  // 'bird' len 4: kept but rank 3, cut
      ("fr", 1L, "apple", 1L, 3L),
      ("fr", 2L, "cerise", 1L, 1L)))
  }

  test("evalLangId: cell counts and marginal shares, diagonal = " +
      "precision/recall") {
    // 2 true-en docs predicted en; 1 true-en predicted und (no markers);
    // 1 true-es predicted en (english markers in an es-labeled doc)
    val r = TextAnalysis.evalLangId(docs(
      (1L, "the a", "en"),
      (2L, "the fast", "en"),
      (3L, "zzz qqq", "en"),
      (4L, "the the", "es")))
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getDouble(5),
          x.getDouble(6))).toMap
    // en->en: n=2, true_total(en)=3, pred_total(en)=3
    assert(r(("en", "en")) === ((2L, 3L, 3L, 2.0 / 3, 2.0 / 3)))
    assert(r(("en", "und")) === ((1L, 3L, 1L, 1.0 / 3, 1.0)))
    assert(r(("es", "en")) === ((1L, 1L, 3L, 1.0, 1.0 / 3)))
    assert(r.size === 3)
  }

  test("vocabCoverage: banded global ranks and cumulative shares match " +
      "the plain ordering across count-digit bands") {
    // counts: d=12 (2-digit band), a=3, b=2, c=1 -> total 18
    // global order: d, a, b, c ; probe ranks 1 and 3
    val corpus = docs(
      (1L, ("d " * 12).trim + " a a a b b c", "en"))
    val r = TextAnalysis.vocabCoverage(corpus, ranks = Seq(1L, 3L))
      .select("rank", "term", "cnt", "cum_tokens", "cum_share")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    assert(r === Set(
      (1L, "d", 12L, 12L, 12.0 / 18),
      (3L, "b", 2L, 17L, 17.0 / 18)))
  }

  test("bm25: component table carries exact counts and reproducible " +
      "idf ratio / length-normalized tf") {
    // N=3, total_len=9, avgdl=3; df(hash)=2, df(join)=1
    val r = TextAnalysis.bm25(docs(
      (1L, "hash join loop", "en"),
      (2L, "hash hash hash scan", "en"),
      (3L, "sort scan", "en")))
      .select("doc_id", "term", "tf", "doc_freq", "dl", "idf_ratio",
        "tf_norm")
      .as[(Long, String, Long, Long, Int, Double, Double)]
      .collect().map(x => (x._1, x._2) -> x).toMap
    assert(r.size === 3)
    val h1 = r((1L, "hash"))
    assert((h1._3, h1._4, h1._5) === ((1L, 2L, 3)))
    assert(math.abs(h1._6 - 0.6) < 1e-12)       // (3-2+0.5)/(2+0.5)
    assert(math.abs(h1._7 - 1.0) < 1e-12)       // dl = avgdl, tf = 1
    val j1 = r((1L, "join"))
    assert(math.abs(j1._6 - 2.5 / 1.5) < 1e-12)
    val h2 = r((2L, "hash"))
    // tf=3, dl=4: 6.6 / (3 + 1.2*(0.25 + 0.75*(12/9)))
    assert(math.abs(h2._7 - 6.6 / (3 + 1.2 * (0.25 + 0.75 * (12.0 / 9)))) <
      1e-12)
  }

  test("bm25TopK: balanced doc outranks the long keyword-stuffed one; " +
      "score matches a JVM replay of the portable-ln contract bit for bit") {
    // d1 hits both terms (score ln(.6)+ln(5/3) = 0 exactly in reals;
    // the portable ln reproduces that to ~1e-11);
    // d2 hits only 'hash' whose idf ratio < 1 -> negative score
    val r = TextAnalysis.bm25TopK(docs(
      (1L, "hash join loop", "en"),
      (2L, "hash hash hash scan", "en"),
      (3L, "sort scan", "en")))
      .select("doc_id", "n_terms_hit", "score")
      .as[(Long, Long, Double)].collect()
    assert(r.map(_._1).toSeq === Seq(1L, 2L))
    assert(r(0)._2 === 2L && r(1)._2 === 1L)
    assert(math.abs(r(0)._3) < 1e-9 && r(1)._3 < 0)
    // bit-exact replay: term-ascending sum of pln(idf_ratio) * tf_norm
    import graft.functions.PortableLnSpec.replay
    val d1 = (0.0 + replay(0.6) * 1.0) + replay(2.5 / 1.5) * 1.0
    assert(r(0)._3 === d1)
    // operand-for-operand: the engine computes tf*2.2, not the folded 6.6
    val tfn2 = (3.0 * 2.2) / (3.0 + 1.2 * (0.25 + 0.75 * (12.0 / 9)))
    assert(r(1)._3 === 0.0 + replay(0.6) * tfn2)
  }

  test("keywords: tf-ranked, rare-term tie-break on corpus df") {
    val r = TextAnalysis.keywords(docs(
      (1L, "a a b c", "en"),
      (2L, "b b c", "en"),
      (3L, "c", "en")))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        x.getLong(3), x.getLong(4))).toSet
    assert(r === Set(
      (1L, 1L, "a", 2L, 1L),  // top by tf
      (1L, 2L, "b", 1L, 2L),  // tf tie with c; b rarer (df 2 < 3)
      (1L, 3L, "c", 1L, 3L),
      (2L, 1L, "b", 2L, 2L),
      (2L, 2L, "c", 1L, 3L),
      (3L, 1L, "c", 1L, 3L)))
  }

  test("commonVocabRatio: occurrences counted against the top-k cut") {
    // corpus counts: x=4, y=3, z=2, w=1 -> k=2 vocab = {x, y}
    // doc 1 "x x y z": 3 of 4 occurrences in vocab; doc 2 "z w": 0 of 2
    val d = docs((1L, "x x y z", "en"), (2L, "z w", "en"),
      (3L, "x x y y z w", "en"))
    val got = TextAnalysis.commonVocabRatio(d, k = 2)
      .select("doc_id", "n_tokens", "n_common", "common_ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(1L) === ((1L, 4L, 3L, 0.75)))
    assert(got(2L) === ((2L, 2L, 0L, 0.0)))
    assert(got(3L) === ((3L, 6L, 4L, 4.0 / 6.0)))
  }

  test("commonVocabRatio: vocab tie at the cut is lexicographic") {
    // a=2, b=2, c=2: k=2 keeps {a, b} (ties -> smaller token)
    val d = docs((1L, "a b c", "en"), (2L, "a b c", "en"))
    val got = TextAnalysis.commonVocabRatio(d, k = 2)
      .select("doc_id", "n_common").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 2L, 2L -> 2L))
  }

  test("winnowFingerprints: window counts, guarantee, and short-doc floor") {
    // 8 tokens -> 5 grams (n=4); with w=5 the only valid window start is
    // i=1, so exactly ONE fingerprint survives: n_fps=1, density=0.2
    val one = docs((1L, "a b c d e f g h", "en"))
    val r1 = TextAnalysis.winnowFingerprints(one)
      .select("n_grams", "n_fps", "density")
      .as[(Long, Long, Double)].collect().toSeq
    assert(r1 === Seq((5L, 1L, 0.2)))
    // doc shorter than one gram contributes no row
    assert(TextAnalysis.winnowFingerprints(docs((2L, "a b c", "en")))
      .count() === 0L)
    // identical docs select identical fingerprints: equal counts AND
    // equal checksums (the equality probe the sketch exists for); a doc
    // with extra leading tokens keeps a non-empty sketch with window
    // count bounded by valid starts (13 tokens -> 10 grams, 6 windows)
    val run = "q w e r t y u i q w e r t"
    val d = docs((3L, run, "en"), (4L, run, "en"),
      (5L, s"z1 z2 z3 $run", "en"))
    val sel = TextAnalysis.winnowFingerprints(d)
      .select("doc_id", "n_fps", "fp_checksum")
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(sel(3L) === sel(4L))
    assert(sel(3L)._1 >= 1L && sel(3L)._1 <= 6L)
    assert(sel(5L)._1 >= 1L)
  }

  test("pmiCollocations: ratio ranking from hand-computed counts") {
    // one doc "a b a b": bigrams (a,b)x2, (b,a)x1; unigrams a=2, b=2;
    // N=4 -> ratio(a,b) = 2*4/(2*2) = 2.0, ratio(b,a) = 1*4/4 = 1.0
    val d = docs((1L, "a b a b", "en"))
    val r = TextAnalysis.pmiCollocations(d, minCount = 1L, k = 10)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq(("a", "b", 2L, 2L, 2L, 2.0),
      ("b", "a", 1L, 2L, 2L, 1.0)))
    graft.CheckpointLease.releaseAll()
  }

  test("gopherRules: each rule trips on its own witness document") {
    val passing = "the a customer orders window stream batch merge " +
      "join sort filter data"                 // 12 tokens, all rules pass
    val tooShort = "the a data"               // 3 tokens < 10
    val hotToken = "the a data data data data data merge join sort " +
      "filter stream"                         // top token 5/12 > 30%
    val noFunc = "customer orders window stream batch merge join " +
      "sort filter data vector column"        // 0 function words
    val d = docs((1L, passing, "en"), (2L, tooShort, "en"),
      (3L, hotToken, "en"), (4L, noFunc, "en"))
    val r = TextAnalysis.gopherRules(d)
      .select("doc_id", "ok_word_count", "ok_mean_len", "ok_func_words",
        "ok_top_token", "ok_distinct", "keep")
      .as[(Long, Int, Int, Int, Int, Int, Int)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L) === ((1L, 1, 1, 1, 1, 1, 1)))
    assert(r(2L)._2 === 0 && r(2L)._7 === 0)      // word count
    assert(r(3L)._5 === 0 && r(3L)._7 === 0)      // hottest-token cap
    assert(r(4L)._4 === 0 && r(4L)._7 === 0)      // function words
  }

  test("gopherRules: mean-word-length bounds are exact integer compares") {
    // 10 one-char tokens: token_chars = 10 < 3*10 -> ok_mean_len = 0
    val short = (1 to 10).map(_ => "x").mkString(" ")
    // 10 eleven-char tokens: 110 > 10*10 -> ok_mean_len = 0
    val long = (1 to 10).map(_ => "abcdefghijk").mkString(" ")
    val r = TextAnalysis.gopherRules(docs((1L, short, "en"),
        (2L, long, "en")))
      .select("doc_id", "ok_mean_len").as[(Long, Int)].collect().toMap
    assert(r === Map(1L -> 0, 2L -> 0))
  }

  test("c4Rules: leading-span dedup keeps lowest doc_id; screens flag " +
      "their witnesses") {
    val span = "the quick brown fox jumps over the lazy"  // 8 tokens
    val d = docs(
      (10L, span + " dog today", "en"),        // canonical (lowest id)
      (20L, span + " cat tomorrow", "en"),     // same leading span -> dup
      (30L, "too few words", "en"),            // < 5 tokens
      (40L, "a document with the veryverylongtokenoverlimit20 inside " +
        "plus padding", "en"))                 // 28-char token
    val r = TextAnalysis.c4Rules(d)
      .select("doc_id", "ok_min_words", "ok_max_word_len", "is_canonical",
        "keep")
      .as[(Long, Int, Int, Int, Int)].collect().map(t => t._1 -> t).toMap
    assert(r(10L) === ((10L, 1, 1, 1, 1)))
    assert(r(20L)._4 === 0 && r(20L)._5 === 0)   // span duplicate
    assert(r(30L)._2 === 0 && r(30L)._5 === 0)   // min words
    assert(r(40L)._3 === 0 && r(40L)._5 === 0)   // max word length
    // the two span-sharing docs carry the same fingerprint
    val fps = TextAnalysis.c4Rules(d).select("doc_id", "span_fp")
      .as[(Long, String)].collect().toMap
    assert(fps(10L) === fps(20L))
    assert(fps(10L) !== fps(30L))
  }

  test("linearQuality plan: weight table broadcast, one doc-keyed exchange") {
    import spark.implicits._
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = TextAnalysis.linearQuality(spark, d)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the 4096-row model must broadcast, never shuffle the token stream on slot:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"exactly the doc_id aggregation exchange:\n$plan")
  }

  test("linearQuality: score is the mean hashed-slot weight, driver-recomputed") {
    import spark.implicits._
    def slot(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % TextAnalysis.QlSlots
    }
    def weight(s: Long): Long = ((s * 2654435761L + 104729L) % 97L) - 48L
    val d = Seq((1L, "alpha beta gamma"), (2L, "delta delta"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.linearQuality(spark, d)
      .select("doc_id", "n_tokens", "score_raw", "score", "keep")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(t => t._1 -> t).toMap
    Seq(1L -> Seq("alpha", "beta", "gamma"),
        2L -> Seq("delta", "delta")).foreach { case (id, toks) =>
      val raw = toks.map(t => weight(slot(t))).sum
      val (_, n, sr, sc, keep) = got(id)
      assert(n === toks.length.toLong)
      assert(sr === raw, s"doc $id raw score")
      assert(sc === raw.toDouble / toks.length)
      assert(keep === (raw >= 0L))
    }
  }
  test("evalAucRoc: perfect separation pins AUC 1 with cumulative ROC " +
      "bins; rates are exact count ratios") {
    val d = docs(
      (1L, "a" * 10, "en"), (2L, "b" * 20, "en"),
      (3L, "x", "de"), (4L, "yz", "de"))
    val r = TextAnalysis.evalAucRoc(d).collect()
    r.foreach(x => assert(x.getAs[Double]("auc") === 1.0))
    val byBin = r.map(x => x.getAs[Long]("bin") ->
      ((x.getAs[Long]("thresh"), x.getAs[Long]("tp"),
        x.getAs[Long]("fp")))).toMap
    assert(byBin === Map(
      1L -> ((20L, 1L, 0L)), 2L -> ((10L, 2L, 0L)),
      3L -> ((2L, 2L, 1L)), 4L -> ((1L, 2L, 2L))))
    val b2 = r.find(_.getAs[Long]("bin") == 2L).get
    assert(b2.getAs[Double]("tpr") === 1.0 &&
      b2.getAs[Double]("fpr") === 0.0)
  }

  test("evalAucRoc: fully tied scores midrank to AUC 0.5; inverted " +
      "separation to AUC 0") {
    val tied = docs((1L, "aaaaa", "en"), (2L, "bbbbb", "de"))
    assert(TextAnalysis.evalAucRoc(tied).collect()
      .head.getAs[Double]("auc") === 0.5)
    val inv = docs((1L, "a", "en"), (2L, "bb", "en"),
      (3L, "x" * 10, "de"), (4L, "y" * 20, "de"))
    assert(TextAnalysis.evalAucRoc(inv).collect()
      .head.getAs[Double]("auc") === 0.0)
  }
  test("blocklistScreen: counts, distinct terms, flag threshold, zero-hit " +
      "rows kept with explicit zeros") {
    val d = docs(
      (1L, "slow stream slow join", "en"),   // 3 hits, 2 terms -> flagged
      (2L, "stream of data", "en"),          // 1 hit -> not flagged (>1)
      (3L, "clean text only", "en"))         // 0 hits, still present
    val r = TextAnalysis.blocklistScreen(d)
      .select("doc_id", "n_hits", "n_terms", "flagged")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(r === Set(
      (1L, 3L, 2L, true),
      (2L, 1L, 1L, false),
      (3L, 0L, 0L, false)))
  }

  test("phraseSearch: adjacency only — scattered terms and reversed " +
      "order never match; overlapping occurrences all count") {
    val d = docs(
      (1L, "fast table scan makes fast table joins", "en"), // 2 occ @ 0, 4
      (2L, "fast scan table", "en"),                        // not adjacent
      (3L, "table fast", "en"),                             // reversed
      (4L, "a fast table", "en"))                           // 1 occ @ 1
    val r = TextAnalysis.phraseSearch(d)
      .select("doc_id", "n_occ", "first_pos")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(r.toSeq === Seq((1L, 2L, 0L), (4L, 1L, 1L)))
  }

  test("evalPrCurve: cumulative precision/recall per descending-score " +
      "bin with the prevalence baseline") {
    // scores desc: 20(en) 10(en) 2(de) 1(de); 4 distinct values -> 4 bins
    val d = docs(
      (1L, "a" * 10, "en"), (2L, "b" * 20, "en"),
      (3L, "x", "de"), (4L, "yz", "de"))
    val r = TextAnalysis.evalPrCurve(d)
      .select("bin", "thresh", "tp", "fp", "precision", "recall",
        "baseline")
      .as[(Long, Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(r.map(x => (x._1, x._2, x._3, x._4)).toSeq === Seq(
      (1L, 20L, 1L, 0L), (2L, 10L, 2L, 0L),
      (3L, 2L, 2L, 1L), (4L, 1L, 2L, 2L)))
    assert(r.map(_._5).toSeq === Seq(1.0, 1.0, 2.0 / 3.0, 0.5))
    assert(r.map(_._6).toSeq === Seq(0.5, 1.0, 1.0, 1.0))
    r.foreach(x => assert(x._7 === 0.5))
  }

  test("evalCalibration: hand-built bins, exact conf/acc, Brier and ECE " +
      "from integer numerators; over-cap lengths fold into the top bin") {
    // bin 0: len 50 en (s=0.05, pos) + len 50 de (neg)
    //   -> conf 100/2000 = 0.05, acc 0.5, ece_num |1000*1 - 100| = 900
    // bin 9: len 950 en + len 1200 en (s_milli capped at 1000, bin
    //   least(1000,999) div 100 = 9) -> conf 1950/2000, acc 1,
    //   ece_num |2000 - 1950| = 50
    // Brier numerator: 950^2 (en@50) + 50^2 (de@50) + 50^2 (en@950) + 0
    val d = docs(
      (1L, "a" * 50, "en"), (2L, "b" * 50, "de"),
      (3L, "c" * 950, "en"), (4L, "d" * 1200, "en"))
    val r = TextAnalysis.evalCalibration(d)
      .select("bin", "n", "n_pos", "conf", "acc", "brier", "ece")
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(r.map(x => (x._1, x._2, x._3)).toSeq ===
      Seq((0L, 2L, 1L), (9L, 2L, 2L)))
    assert(r(0)._4 === 0.05 && r(0)._5 === 0.5)
    assert(r(1)._4 === 1950.0 / 2000.0 && r(1)._5 === 1.0)
    r.foreach { x =>
      assert(x._6 === 907500.0 / 4000000.0)
      assert(x._7 === 950.0 / 4000.0)
    }
  }

  test("evalCalibration: a perfectly calibrated bin contributes zero ECE") {
    // both docs score 0.5 and exactly half are positive
    val d = docs((1L, "a" * 500, "en"), (2L, "b" * 500, "de"))
    val r = TextAnalysis.evalCalibration(d)
      .select("bin", "conf", "acc", "ece", "brier")
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(r.length === 1 && r.head._1 === 5L)
    assert(r.head._2 === 0.5 && r.head._3 === 0.5 && r.head._4 === 0.0)
    assert(r.head._5 === 0.25) // (500^2 + 500^2) / (2 * 10^6)
  }

  test("searchEvalMap: hand-computable metrics on a tiny corpus") {
    val d = docs(
      (1L, "hash join filter alpha beta gamma", "en"),   // all 3 -> relevant
      (2L, "hash join delta epsilon zeta eta", "en"),    // 2 terms
      (3L, "plain words only here today", "en"),
      (4L, "more plain words again here", "en"),
      (5L, "yet more filler content rows", "en"),
      (6L, "last unrelated document text", "en"))
    val r = TextAnalysis.searchEvalMap(d).collect().head
    assert(r.getAs[Long]("n_relevant") === 1L)
    assert(r.getAs[Long]("n_hits_k") === 1L)
    // doc 1 carries a third positive-idf term on top of doc 2's two,
    // so it ranks first: MRR = 1, AP = 1
    assert(r.getAs[Double]("mrr") === 1.0)
    assert(r.getAs[Double]("p_at_5") === 0.2)
    assert(r.getAs[Double]("p_at_10") === 0.1)
    assert(r.getAs[Double]("recall_at_k") === 1.0)
    assert(r.getAs[Double]("ap") === 1.0)
  }

  test("searchEvalMap: zero-relevant corpus pins recall/AP NULL, MRR 0") {
    val d = docs(
      (1L, "hash join only two terms here", "en"),
      (2L, "join filter pair but not three", "en"),
      (3L, "no terms at all here", "en"))
    val r = TextAnalysis.searchEvalMap(d).collect().head
    assert(r.getAs[Long]("n_relevant") === 0L)
    assert(r.getAs[Double]("mrr") === 0.0)
    assert(r.isNullAt(r.fieldIndex("recall_at_k")))
    assert(r.isNullAt(r.fieldIndex("ap")))
  }

  test("filterKappa: hand-built 2x2 contingency, zero-association kappa") {
    val d = docs(
      // both keep: 12 varied words, mean len 44/12, two 'the'
      (1L, "the cat ran over the big red dog with joy today quickly", "en"),
      // gopher keeps, c4 rejects ('{' trips ok_clean)
      (2L, "the man saw x{y and the kid ate pie and ran home", "en"),
      // c4 keeps, gopher rejects (6 words < 10)
      (3L, "big dogs run very far away", "en"),
      // both reject (2 words, '{')
      (4L, "ab {x", "en"))
    val r = TextAnalysis.filterKappa(d).collect().head
    assert(r.getAs[Long]("n_docs") === 4L)
    assert((r.getAs[Long]("n11"), r.getAs[Long]("n10"),
      r.getAs[Long]("n01"), r.getAs[Long]("n00")) === ((1L, 1L, 1L, 1L)))
    assert(r.getAs[Double]("po") === 0.5)
    assert(r.getAs[Double]("pe") === 0.5)
    // po == pe: agreement is exactly what chance predicts -> kappa 0
    assert(r.getAs[Double]("kappa") === 0.0)
  }

  test("filterKappa: constant filters pin kappa NULL (pe = 1 guard)") {
    val d = docs(
      (1L, "the cat ran over the big red dog with joy today quickly", "en"),
      (2L, "the man saw fog and the kid ate pie and ran home", "en"))
    val r = TextAnalysis.filterKappa(d).collect().head
    assert(r.getAs[Long]("n11") === 2L)
    assert(r.getAs[Double]("pe") === 1.0)
    assert(r.isNullAt(r.fieldIndex("kappa")))
  }
}
