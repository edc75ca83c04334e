package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Text-analysis operators (SURVEY.md §7.4 extension mandate): per-document
  * statistics, quality scoring, n-gram-heuristic language ID, token
  * counting (whitespace + regex), and document fingerprinting, all over the
  * `documents` table.
  *
  * All of these are embarrassingly parallel scalar pipelines — no shuffle
  * at all (narrow transformations over the scan), so they scale linearly
  * with input bytes and stay inside whole-stage codegen. Derived ratios
  * divide exact integers with identical IEEE-754 expressions on the Spark
  * and DuckDB sides (the SparkEntry determinism contract).
  *
  * Language ID is a marker-token heuristic (stopword hit counts per
  * language with a deterministic argmax) — the structure of a real n-gram
  * language classifier, with marker lists drawn from the synthetic corpus
  * vocabulary so the operator discriminates on this data.
  */
object TextAnalysis {

  private val toks: Column = split(col("text"), " ")

  /** Per-document surface statistics. */
  def stats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("n_chars_txt"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct_tokens"))
      // token chars = chars - (n_tokens-1) separators; ratios are
      // int/int double division, identical on both engines
      .withColumn("avg_token_len",
        (col("n_chars_txt") - col("n_tokens") + 1) * lit(1.0) /
          col("n_tokens"))
      .withColumn("distinct_ratio",
        col("n_distinct_tokens") * lit(1.0) / col("n_tokens"))

  /** Deterministic quality score: length saturation × lexical diversity ×
    * (1 − stopword ratio). The shape of a real quality filter
    * (length/stopword/diversity heuristics), fully SQL-expressible.
    */
  def quality(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a")
    docs.select(col("doc_id"), col("lang"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct_tokens"),
        size(expr(
          s"filter(split(text, ' '), t -> t IN (${stop.map("'" + _ + "'").mkString(",")}))"))
          .as("n_stop"))
      .withColumn("distinct_ratio",
        col("n_distinct_tokens") * lit(1.0) / col("n_tokens"))
      .withColumn("stop_ratio", col("n_stop") * lit(1.0) / col("n_tokens"))
      .withColumn("len_score",
        least(lit(1.0), col("n_tokens") * lit(1.0) / lit(50.0)))
      .withColumn("quality_score",
        col("len_score") * col("distinct_ratio") *
          (lit(1.0) - col("stop_ratio")))
      .withColumn("is_quality", (col("quality_score") >= 0.35).cast("int"))
      .select("doc_id", "lang", "n_tokens", "n_stop", "stop_ratio",
        "len_score", "quality_score", "is_quality")
  }

  /** Marker lists per language, drawn from the corpus vocabulary. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("data", "table", "row"),
    "fr" -> Seq("merge", "join", "sort"),
    "de" -> Seq("window", "stream", "batch"))

  /** N-gram-heuristic language ID: marker hit counts + deterministic
    * argmax (first language in [[langMarkers]] order wins ties; all-zero →
    * "und").
    */
  def langId(docs: DataFrame): DataFrame = {
    val counted = langMarkers.foldLeft(
      docs.select(col("doc_id"), col("lang").as("declared_lang"), col("text"))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"c_$lang", size(expr(
          s"filter(split(text, ' '), t -> t IN (${markers.map("'" + _ + "'").mkString(",")}))")))
    }
    val langs = langMarkers.map(_._1)
    val predicted = langs.zipWithIndex.foldRight(lit("und")) {
      case ((lang, i), els) =>
        val others = langs.drop(i + 1).map(l => col(s"c_$l"))
        val isMax = others.foldLeft(col(s"c_$lang") > 0) {
          (acc, o) => acc && col(s"c_$lang") >= o
        }
        when(isMax, lit(lang)).otherwise(els)
    }
    counted.withColumn("predicted_lang", predicted)
      .select(Seq(col("doc_id"), col("declared_lang"), col("predicted_lang")) ++
        langs.map(l => col(s"c_$l")): _*)
  }

  /** Document fingerprints: content hash of normalized text + order-
    * independent hash of the sorted distinct token set (catches
    * permuted/duplicated-token variants).
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(lower(trim(col("text")))).as("content_fp"),
      md5(concat_ws(" ", array_sort(array_distinct(toks)))).as("tokenset_fp"))

  /** Winnowing word-gram width / window (Schleimer–Wilkerson–Aiken's
    * MOSS scheme, scaled to word grams: any shared run of
    * `WinnowGram + WinnowWindow − 1` tokens is guaranteed to share a
    * fingerprint).
    */
  val WinnowGram = 4
  val WinnowWindow = 5

  /** Winnowing fingerprint selection — the local-minimum sampling of
    * [[fingerprints]]' rolling-hash idea: hash every word `n`-gram
    * (md5-prefix, portable), then in every window of `w` consecutive
    * gram positions keep the minimal (hash, pos) pair (leftmost on
    * hash ties — a fixed deterministic tie-break; MOSS's stateful
    * rightmost-run rule trades that determinism for fewer fingerprints
    * on repeated runs). The distinct selected pairs are the document's
    * fingerprint sketch; reported per doc: gram count, fingerprint
    * count, exact integer checksum (Σ selected hashes — the
    * order-independent equality probe two corpora compare), density.
    *
    * (hash, pos) packs into one BIGINT (`h·2²⁰ + pos`, exact for
    * h < 2³² and docs ≤ 2²⁰ grams — far past the fixture's ~10³) so the
    * window min is a single codegen'd long `min`, identical on both
    * engines. Windows are partitioned per doc over position — bounded
    * by document length, never corpus-sized.
    */
  def winnowFingerprints(docs: DataFrame, n: Int = WinnowGram,
      w: Int = WinnowWindow): DataFrame = {
    val pos = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) < $n THEN array()
           |ELSE transform(sequence(1, size(toks) - ${n - 1}),
           |               i -> struct(CAST(i AS BIGINT) AS i,
           |                           concat_ws(' ', slice(toks, i, $n))
           |                             AS gram)) END""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.i").as("i"),
        conv(substring(md5(col("p.gram")), 1, 8), 16, 10).cast("long").as("h"))
      .withColumn("packed", col("h") * lit(1048576L) + col("i"))
    val frame = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, w - 1)
    val sel = pos
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("win_min", min("packed").over(frame))
      // valid window starts; a doc shorter than one window (n_grams < w)
      // still contributes its single truncated-window minimum at i = 1
      .filter(col("i") === 1 || col("i") + (w - 1) <= col("n_grams"))
      .select(col("doc_id"), col("n_grams"), col("win_min"))
      .distinct()
    sel.groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_fps"),
        sum(expr("win_min div 1048576")).as("fp_checksum"))
      .withColumn("density",
        col("n_fps").cast("double") / col("n_grams").cast("double"))
      .select("doc_id", "n_grams", "n_fps", "fp_checksum", "density")
  }

  /** Token counting: whitespace tokens and a regex tokenizer
    * (`[a-z0-9]+` runs — the BPE-ish "word pieces" approximation).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(toks).as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .as("regex_tokens"),
      length(col("text")).as("n_bytes"))

  /** Corpus vocabulary rollup: top-10 tokens (>3 chars) per language by
    * total occurrences, with corpus-wide document frequency attached —
    * the exact-integer core of a tf-idf pipeline (the idf logarithm is
    * left to the caller: ln() differs across math libraries in the last
    * bit, while tf and df are portable integers).
    *
    * Shape at scale: explode → two hash aggregations (token×lang, token)
    * → broadcast-join df onto the per-lang counts → per-lang top-k; the
    * explode output never materializes (codegen), and the top-k is a
    * WindowGroupLimit, not a full sort.
    */
  def topTermsPerLang(docs: DataFrame, k: Int = 10): DataFrame = {
    val tokens = docs.select(col("doc_id"), col("lang"),
        explode(toks).as("token"))
      .filter(length(col("token")) > 3)
    val tf = tokens.groupBy("lang", "token").agg(count(lit(1)).as("tf"))
    val df = tokens.groupBy("token")
      .agg(countDistinct("doc_id").as("doc_freq"))
    val w = Window.partitionBy("lang")
      .orderBy(col("tf").desc, col("token"))
    // vocabulary-sized side, no hint (r17 verdict #4): df grows with
    // the corpus's distinct tokens, and an exact-bytes planning scan
    // would re-run the tokenization; AQE's runtime shuffle statistics
    // make the broadcast-vs-sort-merge call from actual bytes
    tf.join(df, Seq("token"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("lang", "rnk", "token", "tf", "doc_freq")
  }

  /** Repeated-n-gram metrics (the Gopher-style repetition quality
    * signals): per document, total vs distinct 2-/3-gram counts and the
    * duplicate fraction — high repetition flags boilerplate/spam that
    * length and stopword heuristics miss. Narrow (no shuffle); the
    * duplicate fractions divide exact integers with the identical IEEE
    * expression on the oracle side (guarded for short docs).
    */
  def repetition(docs: DataFrame): DataFrame = {
    // r18 plan rework after the prune-proof bench exposed the real cost
    // (6 s at sf0.1 for a narrow map!): (1) tokenize ONCE into a
    // materialized array column instead of re-evaluating split() inside
    // every gram expression; (2) totals are ARITHMETIC — an n-token doc
    // has exactly max(n−k+1, 0) k-grams, no gram array needed; (3) only
    // the distinct counts build gram strings, from the materialized
    // array. Outputs identical (concat_ws over space-split tokens is
    // injective), twin unchanged. Measured 6.1 s → 1.3 s at sf0.1.
    def distinctGrams(n: Int) = expr(
      s"""CASE WHEN size(ts) < $n THEN 0
         |ELSE size(array_distinct(transform(sequence(1, size(ts) - ${n - 1}),
         |      i -> concat_ws(' ', slice(ts, i, $n))))) END"""
        .stripMargin)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), size(col("ts")).as("n_tokens"),
        greatest(size(col("ts")) - 1, lit(0)).as("total2"),
        distinctGrams(2).as("distinct2"),
        greatest(size(col("ts")) - 2, lit(0)).as("total3"),
        distinctGrams(3).as("distinct3"))
      .withColumn("rep2", when(col("total2") > 0,
        (col("total2") - col("distinct2")) * lit(1.0) / col("total2"))
        .otherwise(lit(0.0)))
      .withColumn("rep3", when(col("total3") > 0,
        (col("total3") - col("distinct3")) * lit(1.0) / col("total3"))
        .otherwise(lit(0.0)))
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  /** TF-IDF-style keyword extraction: each document's top-`k` terms
    * ranked by term frequency, rarest-first on ties (ascending corpus
    * document frequency), then term. The ordering is EXACT-INTEGER —
    * equivalent to ranking by tf·idf for any monotone idf, without
    * computing a float log whose libm rounding differs across engines.
    *
    * Scale shape: one shuffle to (doc, term) counts, one term-keyed
    * aggregate for document frequency, then a broadcast of the df side
    * — df is vocabulary-sized, and a 100 TB run would cap it to the
    * terms that can rank (tf of retained terms bounds useful df lookups;
    * a df-threshold prune mirrors [[Dedup]]'s posting-list cap). The
    * per-doc top-k is a row_number window clustered by the same doc key
    * as the tf aggregate, so the window reuses the tf exchange.
    */
  def keywords(docs: DataFrame, k: Int = 3): DataFrame = {
    val tokens = docs.select(col("doc_id"), explode(toks).as("term"))
      .filter(length(col("term")) > 0)
    val tf = tokens.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("doc_freq"), col("term"))
    // vocabulary-sized side, no hint (r17 verdict #4): AQE gates it
    // from actual shuffle bytes — see topTermsPerLang
    tf.join(df, Seq("term"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("doc_id", "rnk", "term", "tf", "doc_freq")
  }

  /** Classifier-evaluation confusion matrix over [[langId]]'s
    * predictions vs the declared label — the model-eval step every
    * labeling/classification pipeline ends with. One row per
    * (declared, predicted) cell with the cell count, both marginals,
    * and the cell's share of each marginal (diagonal rows read as
    * per-class recall/precision) — exact integer counts, two IEEE
    * divisions.
    *
    * Scale shape: the cell aggregate shuffles the (tiny) label pair key;
    * marginals re-aggregate the CELLS (label-cardinality-sized), not the
    * corpus, and broadcast back.
    */
  def evalLangId(docs: DataFrame): DataFrame = {
    val cells = langId(docs)
      .groupBy("declared_lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
    val trueTot = cells.groupBy("declared_lang")
      .agg(sum("n").as("true_total"))
    val predTot = cells.groupBy("predicted_lang")
      .agg(sum("n").as("pred_total"))
    cells.join(broadcast(trueTot), Seq("declared_lang"))
      .join(broadcast(predTot), Seq("predicted_lang"))
      .select(col("declared_lang"), col("predicted_lang"), col("n"),
        col("true_total"), col("pred_total"),
        (col("n").cast("double") / col("true_total")).as("share_of_true"),
        (col("n").cast("double") / col("pred_total")).as("share_of_pred"))
  }

  /** Demo blocklist of [[blocklistScreen]] — a contract list (real
    * deployments load theirs from a policy table); includes a term the
    * corpus never contains so the zero-hit path is exercised. */
  val BlocklistTerms: Seq[String] = Seq("slow", "stream", "secret")

  /** Hits above which [[blocklistScreen]] flags a document. */
  val BlocklistMaxHits = 1

  /** TERM-BLOCKLIST SCREEN — the policy-filter stage of a corpus
    * pipeline (safety terms, competitor names, PII keywords): per
    * document, total occurrences of blocked terms, distinct blocked
    * terms present, and the flag (`n_hits > maxHits`). Zero-hit
    * documents stay in the output with explicit zeros — a screen that
    * silently drops the clean rows can't be audited.
    *
    * Scale shape: one narrow token explode filtered by a broadcastable
    * term set (codegen'd IN for a literal list; a large policy table
    * would swap in a broadcast semi-join, same plan shape), one keyed
    * aggregate, one left join back to the doc spine. The twin derives
    * its IN list from the SAME Scala constant.
    */
  def blocklistScreen(docs: DataFrame,
      terms: Seq[String] = BlocklistTerms,
      maxHits: Int = BlocklistMaxHits): DataFrame = {
    val hits = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("h"), countDistinct(col("tok")).as("t"))
    docs.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("h"), lit(0L)).as("n_hits"),
        coalesce(col("t"), lit(0L)).as("n_terms"))
      .withColumn("flagged", col("n_hits") > maxHits)
  }

  /** EXACT AUC + ROC DECILE CURVE — the threshold-free companion to
    * [[evalLangId]]'s confusion matrix: scores a binary "classifier"
    * (here: does document length predict `lang = 'en'`?) by the exact
    * Mann–Whitney/midrank AUC plus a 10-bin ROC table (cumulative
    * TP/FP scanning scores descending, one IEEE division per rate).
    *
    * Everything through the AUC numerator is EXACT: scores are already
    * integers (`n_chars`), midranks double to integers at the
    * distinct-value level (`2·below + t + 1`, the [[Experiment]]
    * rank-sum device), and
    * `AUC = (R⁺₂ₓ − n⁺(n⁺+1)) / (2·n⁺·n⁻)` is one integer numerator
    * over one correctly-rounded product — ties handled exactly, no
    * trapezoid approximation.
    *
    * Scale shape: one fact aggregate to the DISTINCT-SCORE level; the
    * cumulative/ntile windows ride the VALUE-LEVEL table, bounded by
    * the score domain (document lengths), not the corpus — the
    * [[Experiment.mannWhitney]] bounded-domain argument.
    */
  def evalAucRoc(docs: DataFrame, bins: Int = 10): DataFrame = {
    val vl = docs
      .select(col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("v")
      .agg(sum("pos").as("pos_c"), count(lit(1)).as("t"))
      .withColumn("neg_c", col("t") - col("pos_c"))
    val wAsc = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = vl
      .withColumn("below", coalesce(sum("t").over(wAsc), lit(0L)))
      .withColumn("rank2", lit(2L) * col("below") + col("t") + 1L)
      .agg(sum("pos_c").as("n_pos"), sum("neg_c").as("n_neg"),
        sum(col("pos_c") * col("rank2")).as("rpos_2x"))
    val wDesc = Window.orderBy(col("v").desc)
    val cum = vl
      .withColumn("cum_tp", sum("pos_c").over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_fp", sum("neg_c").over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bin", ntile(bins).over(wDesc))
    cum.groupBy("bin")
      .agg(min("v").as("thresh"), max("cum_tp").as("tp"),
        max("cum_fp").as("fp"))
      .crossJoin(broadcast(tot))
      .select(col("bin").cast("long").as("bin"), col("thresh"),
        col("tp"), col("fp"),
        (col("tp").cast("double") / col("n_pos").cast("double"))
          .as("tpr"),
        (col("fp").cast("double") / col("n_neg").cast("double"))
          .as("fpr"),
        ((col("rpos_2x") - col("n_pos") * (col("n_pos") + lit(1L)))
          .cast("double") /
          (lit(2.0) * (col("n_pos") * col("n_neg")).cast("double")))
          .as("auc"))
  }

  /** Precision-recall decile table for the [[evalAucRoc]] scorer — the
    * eval that matters when positives are rare (ROC's FPR stays flat
    * while precision collapses; Davis & Goadrich 2006). Same
    * distinct-score-level cumulative machinery as the ROC table: per
    * descending-score decile, the cut threshold, cumulative TP/FP, and
    * `precision = tp/(tp+fp)`, `recall = tp/n_pos` — one correctly-
    * rounded division each over exact counts — plus the prevalence
    * baseline `n_pos/n` a PR curve is judged against (a random scorer's
    * precision is the prevalence at every recall).
    *
    * Scale shape: one fact aggregate to the DISTINCT-SCORE level;
    * windows ride the value-level table bounded by the score domain
    * (the [[Experiment.mannWhitney]] bounded-domain argument).
    */
  def evalPrCurve(docs: DataFrame, bins: Int = 10): DataFrame = {
    val vl = docs
      .select(col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy("v")
      .agg(sum("pos").as("pos_c"), count(lit(1)).as("t"))
      .withColumn("neg_c", col("t") - col("pos_c"))
    val tot = vl.agg(sum("pos_c").as("n_pos"), sum("t").as("n"))
    val wDesc = Window.orderBy(col("v").desc)
    val cum = vl
      .withColumn("cum_tp", sum("pos_c").over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_fp", sum("neg_c").over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("bin", ntile(bins).over(wDesc))
    cum.groupBy("bin")
      .agg(min("v").as("thresh"), max("cum_tp").as("tp"),
        max("cum_fp").as("fp"))
      .crossJoin(broadcast(tot))
      .select(col("bin").cast("long").as("bin"), col("thresh"),
        col("tp"), col("fp"),
        (col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double")).as("precision"),
        (col("tp").cast("double") / col("n_pos").cast("double"))
          .as("recall"),
        (col("n_pos").cast("double") / col("n").cast("double"))
          .as("baseline"))
  }

  /** Calibration readout for the same length-predicts-English scorer
    * [[evalAucRoc]] ranks: AUC says the score ORDERS well; calibration
    * says whether the score's VALUE can be read as a probability — the
    * second half of every model-eval dashboard (reliability diagram +
    * Brier score + expected calibration error).
    *
    * The score is the capped-length pseudo-probability
    * `s = least(n_chars, 1000) / 1000` kept in MILLIS (an integer) all
    * the way through, so every aggregate is exact:
    *  - per reliability bin (`least(s_milli,999) div 100`, ten fixed
    *    0.1-wide bins): n, positives, Σs_milli — `conf` (mean predicted)
    *    and `acc` (observed rate) are each ONE correctly-rounded
    *    division over those integers;
    *  - Brier = Σ(s_milli − 1000·y)² / (10⁶·N) — the numerator is an
    *    exact integer sum (each term ≤ 10⁶, so a long holds it past
    *    10¹² rows), one division at the end;
    *  - ECE = Σ_bins |1000·pos_b − Σs_milli,b| / (1000·N) — the usual
    *    Σ (n_b/N)·|acc−conf| rearranged so the numerator is an exact
    *    integer too (no float sum over bins whose order could wobble).
    *
    * Scale shape: one partial-merging aggregate to the 10-bin table,
    * one scalar roll-up over it, broadcast back — no joins on data-sized
    * keys, no windows.
    */
  def evalCalibration(docs: DataFrame): DataFrame = {
    val scored = docs.select(
      least(col("n_chars"), lit(1000L)).cast("long").as("s_milli"),
      when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val bins = scored
      .withColumn("bin", expr("least(s_milli, 999) div 100"))
      .withColumn("e", col("s_milli") - lit(1000L) * col("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("pos").as("pos_c"),
        sum("s_milli").as("sum_s"), sum(col("e") * col("e")).as("sq"))
    val g = bins.agg(
      sum("n").as("n_tot"), sum("sq").as("sq_tot"),
      sum(abs(lit(1000L) * col("pos_c") - col("sum_s"))).as("ece_num"))
    bins.crossJoin(broadcast(g))
      .select(col("bin"), col("n"), col("pos_c").as("n_pos"),
        (col("sum_s").cast("double") /
          (col("n").cast("double") * lit(1000.0))).as("conf"),
        (col("pos_c").cast("double") / col("n").cast("double")).as("acc"),
        (col("sq_tot").cast("double") /
          (col("n_tot").cast("double") * lit(1000000.0))).as("brier"),
        (col("ece_num").cast("double") /
          (col("n_tot").cast("double") * lit(1000.0))).as("ece"))
  }

  /** Phrase terms of the registered [[phraseSearch]] query. */
  val PhraseTerm1 = "fast"
  val PhraseTerm2 = "table"

  /** POSITIONAL PHRASE SEARCH — the inverted-index primitive BM25's
    * bag-of-words scoring cannot express: find documents containing the
    * exact two-word phrase, via POSTING LISTS WITH POSITIONS (term →
    * (doc, pos)) and an adjacency equi-join `pos₂ = pos₁ + 1`, never a
    * substring rescan of the raw text. Per matching doc: occurrence
    * count and the first match's 0-based token position (the snippet
    * anchor a search UI needs).
    *
    * Scale shape: the posting stream is filtered to the TWO phrase
    * terms before anything shuffles — the join input is
    * term-selectivity-sized, not corpus-sized, which is the whole point
    * of an inverted index; the adjacency join keys on (doc, pos), the
    * most even key there is. The DuckDB twin replays the same adjacency
    * predicate over 1-based list positions.
    */
  def phraseSearch(docs: DataFrame, term1: String = PhraseTerm1,
      term2: String = PhraseTerm2): DataFrame = {
    val posting = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(col("term") === term1 || col("term") === term2)
    val a = posting.filter(col("term") === term1)
      .select(col("doc_id"), col("pos").as("p1"))
    val b = posting.filter(col("term") === term2)
      .select(col("doc_id").as("doc_b"), col("pos").as("p2"))
    a.join(b, col("doc_id") === col("doc_b") && col("p2") === col("p1") + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"),
        min("p1").cast("long").as("first_pos"))
  }

  /** BM25 relevance scoring of the corpus against a query term set —
    * the standard full-text ranking function (Robertson/Spärck Jones;
    * parameters k1 = 1.2, b = 0.75). Emits one row per (doc, matched
    * term) with the exact counts (tf, df, doc length) plus the two
    * reproducible real-valued factors:
    *
    *  - `idf_ratio` = (N − df + 0.5) / (df + 0.5) — the log's ARGUMENT.
    *    The logarithm itself is deliberately left to [[bm25TopK]]:
    *    libm `ln` rounding differs across engines in the last bit
    *    (same reasoning as [[topTermsPerLang]]), while the ratio is a
    *    fixed DAG of correctly-rounded IEEE ops.
    *  - `tf_norm` = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) — the
    *    length-normalized term frequency, with dl/avgdl expanded to
    *    (dl·N)/total_len so every operand is an exact integer and the
    *    oracle mirrors the operand order exactly.
    *
    * Scale shape: tokens are FILTERED to the query vocabulary before
    * any shuffle (the per-doc tf aggregate only carries query terms —
    * at 100 TB the shuffle is |query|-bounded per doc, not
    * vocabulary-bounded); df re-aggregates the tf table; corpus length
    * stats ride a broadcast 1-row cross-join.
    */
  def bm25(docs: DataFrame, query: Seq[String] = Bm25Query): DataFrame = {
    val withLen = docs.select(col("doc_id"), size(toks).as("dl"), col("text"))
    val stats = withLen.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("total_len"))
    // materialized once (tiny: query-term rows only): feeds both the df
    // aggregate and the final join — without this the corpus tokenization
    // runs a third time. The stats pass above is the unavoidable second
    // scan (a global aggregate can't share the per-doc-term grouping).
    val tf = withLen
      .select(col("doc_id"), col("dl"), explode(toks).as("term"))
      .filter(col("term").isin(query: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("doc_freq"),
        col("dl"),
        (((col("n_docs") - col("doc_freq")).cast("double") + lit(0.5)) /
          (col("doc_freq").cast("double") + lit(0.5))).as("idf_ratio"),
        ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              ((col("dl") * col("n_docs")).cast("double") /
                col("total_len"))))).as("tf_norm"))
  }

  /** Top-k documents by full BM25 score (Σ per-term ln(idf_ratio) ·
    * tf_norm over [[bm25]]'s rows), with the logarithm taken through
    * [[graft.functions.PortableLn]] — a sqrt-ladder log both engines
    * compute bit-identically — which is what moved this query from
    * rows-only to hash-compared: every factor of the score is now a
    * fixed DAG of correctly-rounded IEEE ops mirrored in the twin.
    * The per-doc sum adds ≤|query| (3) doubles in the same ascending
    * term order on both sides (the groupBy carries term-sorted
    * collected structs, not an order-free float sum). Top-k via
    * TakeOrdered, not a global sort.
    */
  def bm25TopK(docs: DataFrame, k: Int = 20): DataFrame =
    bm25(docs)
      .withColumn("part_score",
        graft.functions.PortableLn.portableLn(col("idf_ratio")) *
          col("tf_norm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("part_score")))),
          lit(0.0), (acc, s) => acc + s.getField("part_score"))
          .as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** [[bm25]]'s default query vocabulary — the ONE place the term list
    * lives: the Scala retriever, [[searchEvalMap]]'s all-terms relevance
    * cut, and the generated DuckDB twin ([[duckBm25ScoredCtes]]) all
    * derive from it, so changing the query re-derives retriever, truth
    * filter, and oracle together instead of silently drifting.
    */
  val Bm25Query: Seq[String] = Seq("hash", "join", "filter")

  /** Retrieved depth of [[searchEvalMap]]. */
  val SearchEvalK = 20

  /** Ranking-quality eval of the BM25 retriever ([[bm25TopK]]) against
    * a deterministic binary relevance oracle — the retriever-selection
    * readout an LLM retrieval pipeline needs (RAG corpus curation lives
    * or dies on MRR/MAP, not on eyeballing top-10s). Relevant = docs
    * containing ALL query terms; retrieved = the top-[[SearchEvalK]] BM25
    * cut. One row out: MRR (reciprocal first-hit rank), P@5, P@10,
    * recall@k, and MAP@k.
    *
    * Determinism: every metric is a division of exact integers except
    * AP's precision sum, which folds `cum_hits/rank` contributions in
    * ASCENDING RANK ORDER over the sorted collected array — the
    * [[bm25TopK]] order-pinned float-sum device (non-relevant ranks
    * contribute exactly 0.0, an identity under IEEE addition, so both
    * engines fold the identical sequence). Zero-relevant corpora pin
    * recall/AP NULL via the same CASE both sides.
    *
    * Scale shape: the ranked list is a k-row constant; the truth table
    * rides [[bm25]]'s query-vocabulary-bounded aggregate; the two
    * global windows (rank stamp, cumulative hits) run over ≤ k rows —
    * bounded by the LIMIT above them, never by the corpus (PlanLint
    * whitelisted with this argument).
    */
  def searchEvalMap(docs: DataFrame, k: Int = SearchEvalK): DataFrame = {
    val nTerms = Bm25Query.size
    val scored = bm25TopK(docs, k)
    val wRank = Window.orderBy(col("score").desc, col("doc_id"))
    val ranked = scored
      .withColumn("rank", row_number().over(wRank).cast("long"))
    val truth = bm25(docs).groupBy("doc_id")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") === nTerms)
      .select(col("doc_id"), lit(1L).as("rel1"))
    val nRel = truth.agg(count(lit(1)).as("n_relevant"))
    val wCum = Window.orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranked.join(truth, Seq("doc_id"), "left")
      .select(col("rank"), coalesce(col("rel1"), lit(0L)).as("rel"))
      .withColumn("cum_hits", sum("rel").over(wCum))
    val folded = cum.agg(
      sum("rel").as("n_hits_k"),
      sum(when(col("rank") <= 5, col("rel")).otherwise(0L)).as("hits5"),
      sum(when(col("rank") <= 10, col("rel")).otherwise(0L)).as("hits10"),
      min(when(col("rel") === 1L, col("rank"))).as("first_hit"),
      aggregate(
        array_sort(collect_list(struct(col("rank"),
          when(col("rel") === 1L,
            col("cum_hits").cast("double") / col("rank"))
            .otherwise(lit(0.0)).as("contrib")))),
        lit(0.0), (acc, x) => acc + x.getField("contrib")).as("ap_num"))
    folded.crossJoin(broadcast(nRel)).select(
      col("n_relevant"), col("n_hits_k"),
      coalesce(lit(1.0) / col("first_hit"), lit(0.0)).as("mrr"),
      (col("hits5").cast("double") / lit(5.0)).as("p_at_5"),
      (col("hits10").cast("double") / lit(10.0)).as("p_at_10"),
      when(col("n_relevant") === 0L, lit(null).cast("double"))
        .otherwise(col("n_hits_k").cast("double") /
          col("n_relevant").cast("double")).as("recall_at_k"),
      when(least(col("n_relevant"), lit(k.toLong)) === 0L,
        lit(null).cast("double"))
        .otherwise(col("ap_num") /
          least(col("n_relevant"), lit(k.toLong)).cast("double")).as("ap"))
  }

  /** Vocabulary coverage curve: at each probe rank k (terms ordered by
    * corpus frequency desc, term asc), the cumulative token mass the
    * top-k terms cover — the Zipf diagnostic that sizes a tokenizer
    * vocabulary ("how much of the corpus do 10k types explain?").
    *
    * The global rank/cumulative over the VOCABULARY (billions of types
    * at 100 TB — too big for one window partition) reuses
    * [[graft.ext.Retail.abcClassification]]'s banded decomposition:
    * count-digit-length bands are ordered blocks of the global
    * frequency order, so a per-band `row_number`/running sum plus a
    * ≤19-row band carry (rows and tokens of all higher bands)
    * reconstructs exact global ranks and prefix sums in parallel.
    */
  def vocabCoverage(docs: DataFrame,
      ranks: Seq[Long] = Seq(3L, 10L, 30L, 100L, 1000L, 10000L))
      : DataFrame = {
    val tc = docs.select(explode(toks).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // feeds the banded walk, the carry, the total
    val banded = tc.withColumn("band",
      length(col("cnt").cast("string")).cast("int"))
    val wBand = Window.partitionBy("band")
      .orderBy(col("cnt").desc, col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRun = banded
      .withColumn("rn", count(lit(1)).over(wBand))
      .withColumn("run", sum("cnt").over(wBand))
    val carry = banded.groupBy("band")
      .agg(count(lit(1)).as("n_rows"), sum("cnt").as("n_toks"))
      .withColumn("rows_above", coalesce(sum("n_rows").over(
        Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("toks_above", coalesce(sum("n_toks").over(
        Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("band", "rows_above", "toks_above")
    val total = tc.agg(sum("cnt").as("total_toks"))
    withRun.join(broadcast(carry), Seq("band"))
      .withColumn("rank", col("rn") + col("rows_above"))
      .filter(col("rank").isin(ranks: _*))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("term"), col("cnt"),
        (col("run") + col("toks_above")).as("cum_tokens"),
        ((col("run") + col("toks_above")).cast("double") /
          col("total_toks")).as("cum_share"))
  }

  /** Bigram collocation strength by pointwise mutual information,
    * ranked WITHOUT libm: PMI = log(N·c_xy / (c_x·c_y)) is monotone in
    * the exact ratio N·c_xy / (c_x·c_y), so both the ranking and the
    * reported score use the ratio itself — (double)c_xy · N over
    * (double)c_x · c_y, two correctly-rounded multiplications and one
    * correctly-rounded division of exact integers, bit-identical across
    * engines where a log never is. Bigrams are adjacent token POSITIONS
    * (not distinct pairs per doc); `minCount` prunes noise pairs before
    * the unigram joins; top-k by (ratio desc, w1, w2) so the cut is
    * deterministic.
    *
    * Scale shape: bigram and unigram counts are keyed aggs with
    * map-side partials; the scalar token total broadcasts; the final
    * top-k is a `TakeOrderedAndProject` (no global sort).
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L,
      k: Int = 50): DataFrame = {
    val tokArrs = docs.select(split(col("text"), " ").as("toks"))
    val bi = tokArrs.select(explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
          |ELSE transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, CAST(i AS INT)) AS w1,
          |              element_at(toks, CAST(i AS INT) + 1) AS w2)) END"""
          .stripMargin)).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    // materialized once: the unigram table feeds both endpoint joins
    val uni = tokArrs.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
      .localCheckpoint()
    val tot = uni.agg(sum("n_w").as("n_total"))
    bi.join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi_ratio",
        (col("n_pair").cast("double") * col("n_total")) /
          (col("n_w1").cast("double") * col("n_w2")))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "n_pair", "n_w1", "n_w2", "pmi_ratio")
  }

  /** Vocabulary size for [[commonVocabRatio]]. */
  val CommonVocabK = 10

  /** Per-document common-vocabulary ratio — the corpus-adaptive form of
    * the C4/Gopher "common word fraction" quality rule: build the
    * corpus's top-`k` token vocabulary (by count, ties to the
    * lexicographically smaller token — a deterministic cut), then score
    * every document by the share of its token OCCURRENCES that fall in
    * that vocabulary. Documents far below the corpus norm are
    * code/tables/noise; far above are stopword soup — both standard
    * filter targets. Unlike a fixed stopword list this adapts to the
    * corpus's own register (and to any language mix).
    *
    * Scale shape: vocab is a keyed count + `TakeOrdered(k)` (no global
    * sort), broadcast back onto one token scan; the per-doc rollup is
    * a single keyed aggregate. The ratio is the one IEEE division on
    * exact counts — bit-identical on both engines.
    */
  def commonVocabRatio(docs: DataFrame, k: Int = CommonVocabK): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 1)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_common"))
      .withColumn("common_ratio",
        col("n_common").cast("double") / col("n_tokens"))
  }

  /** Per-document Flesch reading-ease profile — the standard readability
    * screen a pretraining quality pipeline runs next to stopword/length
    * rules. All three inputs are EXACT regex-run counts over the raw
    * text:
    *   - words: runs of printable non-space (`[!-~]+`, the same token
    *     class the BPE trainer uses),
    *   - sentences: runs of terminal punctuation (`[.!?]+`),
    *   - syllables: the classic vowel-group approximation
    *     (`[aeiouyAEIOUY]+` runs; within-word groups equal whole-text
    *     groups because a run can't span a space).
    * The score is the fixed Flesch expression tree
    * `206.835 − 1.015·(W/S) − 84.6·(Syl/W)` over those integers — same
    * decimal literals, same left-associated IEEE ops on both engines, so
    * the double hash-matches. Denominators are `greatest(·,1)`-guarded.
    * Scale shape: narrow per-row projection, no shuffle at all.
    */
  def readability(docs: DataFrame): DataFrame = {
    def runs(pat: String): Column =
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
    docs
      .select(col("doc_id"),
        runs("[!-~]+").as("n_words"),
        greatest(runs("[.!?]+"), lit(1L)).as("n_sentences"),
        greatest(runs("[aeiouyAEIOUY]+"), lit(1L)).as("n_syllables"))
      .withColumn("wps", col("n_words").cast("double") /
        col("n_sentences").cast("double"))
      .withColumn("spw", col("n_syllables").cast("double") /
        greatest(col("n_words"), lit(1L)).cast("double"))
      .withColumn("flesch",
        lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"))
      .select("doc_id", "n_words", "n_sentences", "n_syllables",
        "wps", "spw", "flesch")
  }

  /** Per-document DEFLATE compression ratio — the Gopher/CCNet-style
    * "too compressible ⇒ boilerplate/repetition, incompressible ⇒
    * random noise" quality signal. Executed as `mapPartitions` with ONE
    * `java.util.zip.Deflater` reused per partition (allocation and
    * dictionary reset amortized across the batch — the same batch shape
    * as the multimodal codecs); fully distributed, no shuffle.
    *
    * No DuckDB oracle: the byte-exact DEFLATE stream depends on the
    * zlib implementation, so this is a declared rows-only query —
    * TextAnalysisSpec pins the ratio ORDERING (repetitive < prose <
    * high-entropy) and exact round-trip inflation instead.
    */
  def compressRatio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION)
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          val in = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0L
          while (!deflater.finished())
            out += deflater.deflate(buf)
          (id, in.length.toLong, out)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate")
      .withColumn("ratio",
        col("n_deflate").cast("double") / col("n_bytes").cast("double"))
  }

  /** Gopher-style rule gate (Rae et al. 2021 §A1.1, re-expressed as
    * exact-integer predicates): per-document pass/fail flags for the
    * five rule families that survive on a whitespace-tokenized corpus —
    * word-count bounds, mean-word-length bounds (cross-multiplied so the
    * comparison never leaves integers), a ≥2 function-word requirement,
    * a hottest-token share cap (≤30%), and a distinct-token-ratio floor
    * (≥50%, the repetition screen) — plus the conjunction `keep` bit a
    * curation pipeline filters on.
    *
    * Narrow per-row projection, no shuffle; the within-row hottest-token
    * scan is O(d·distinct d) on the TOKEN count of one document (bounded
    * by doc length, not corpus size), all inside whole-stage codegen.
    * Every flag is an integer comparison (`token_chars ≥ 3·n_tokens`
    * instead of a float mean), so the DuckDB twin matches bit-for-bit.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        length(col("text")).as("n_chars_txt"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
          .as("n_func"),
        expr("""array_max(transform(array_distinct(split(text, ' ')),
               t -> size(filter(split(text, ' '), x -> x = t))))""")
          .as("top_cnt"))
      // token chars = chars − (n_tokens−1) single-space separators
      .withColumn("token_chars", col("n_chars_txt") - col("n_tokens") + 1)
      .withColumn("ok_word_count",
        (col("n_tokens") >= 10 && col("n_tokens") <= 1000).cast("int"))
      .withColumn("ok_mean_len",
        (col("token_chars") >= col("n_tokens") * 3 &&
          col("token_chars") <= col("n_tokens") * 10).cast("int"))
      .withColumn("ok_func_words", (col("n_func") >= 2).cast("int"))
      .withColumn("ok_top_token",
        (col("top_cnt") * 10 <= col("n_tokens") * 3).cast("int"))
      .withColumn("ok_distinct",
        (col("n_distinct") * 2 >= col("n_tokens")).cast("int"))
      .withColumn("keep",
        (col("ok_word_count") === 1 && col("ok_mean_len") === 1 &&
          col("ok_func_words") === 1 && col("ok_top_token") === 1 &&
          col("ok_distinct") === 1).cast("int"))
      .select("doc_id", "lang", "n_tokens", "token_chars", "n_distinct",
        "n_func", "top_cnt", "ok_word_count", "ok_mean_len",
        "ok_func_words", "ok_top_token", "ok_distinct", "keep")

  /** Leading-token span width for [[c4Rules]]' cross-document dedup —
    * the C4 "three-sentence" span reshaped to a sentence-free corpus.
    */
  val C4SpanTokens = 8

  /** C4-style screen (Raffel et al. 2020 §2.2) for a whitespace-only
    * corpus: the doc-level membership rules (≥5 words, longest token
    * ≤20 chars, no `{`/`lorem ipsum` boilerplate markers — the latter
    * vacuously true here and kept for rule-shape fidelity) plus C4's
    * distinguishing CROSS-document rule: dedup on the leading
    * [[C4SpanTokens]]-token span (md5 fingerprint), keeping the lowest
    * doc_id per span as canonical.
    *
    * Scale shape: the screens are narrow; the span dedup is one keyed
    * window (`min(doc_id)` partitioned by span_fp) — the same
    * hash-partitioned shape as [[graft.ext.Dedup.exactDocDedup]], no
    * global state. `keep = screens ∧ is_canonical` is what a C4-style
    * pipeline materializes.
    */
  def c4Rules(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("span_fp")
    docs.select(col("doc_id"),
        size(toks).as("n_tokens"),
        expr("array_max(transform(split(text, ' '), t -> length(t)))")
          .as("max_tok_len"),
        (!col("text").contains("{") &&
          !lower(col("text")).contains("lorem ipsum")).cast("int")
          .as("ok_clean"),
        md5(concat_ws(" ", slice(toks, 1, C4SpanTokens))).as("span_fp"))
      .withColumn("ok_min_words", (col("n_tokens") >= 5).cast("int"))
      .withColumn("ok_max_word_len", (col("max_tok_len") <= 20).cast("int"))
      .withColumn("is_canonical",
        (col("doc_id") === min("doc_id").over(w)).cast("int"))
      .withColumn("keep",
        (col("ok_min_words") === 1 && col("ok_max_word_len") === 1 &&
          col("ok_clean") === 1 && col("is_canonical") === 1).cast("int"))
      .select("doc_id", "n_tokens", "max_tok_len", "span_fp", "ok_clean",
        "ok_min_words", "ok_max_word_len", "is_canonical", "keep")
  }

  /** Cohen's kappa agreement between the two rule-based quality screens
    * ([[gopherRules]] vs [[c4Rules]]) — the filter-calibration readout a
    * curation pipeline needs before composing screens: high kappa means
    * the second filter is redundant, low kappa means the intersection
    * policy is doing real selection. The 2×2 keep-contingency
    * (n11/n10/n01/n00) reduces to exact longs; observed agreement `po`,
    * chance agreement `pe`, and `kappa = (N·agree − Σ rᵢcᵢ) /
    * (N² − Σ rᵢcᵢ)` are each ONE IEEE division of exact
    * decimal(38,0)-products (N² overflows BIGINT past ~3e9 docs; the
    * twin's HUGEINT multiplication matches), so engines cannot drift.
    * Degenerate corpora where a filter is constant (pe = 1, den = 0) pin
    * kappa NULL via the same CASE both sides.
    *
    * Scale: both rule screens are map-side per doc (c4's span dedup is
    * the one keyed shuffle), one join on doc_id, one global aggregate —
    * a single row out.
    */
  def filterKappa(docs: DataFrame): DataFrame = {
    val g = gopherRules(docs)
      .select(col("doc_id"), col("keep").cast("long").as("kg"))
    val c = c4Rules(docs)
      .select(col("doc_id"), col("keep").cast("long").as("kc"))
    val m = g.join(c, "doc_id").agg(
      count(lit(1)).as("n_docs"),
      sum(col("kg") * col("kc")).as("n11"),
      sum(col("kg") * (lit(1L) - col("kc"))).as("n10"),
      sum((lit(1L) - col("kg")) * col("kc")).as("n01"),
      sum((lit(1L) - col("kg")) * (lit(1L) - col("kc"))).as("n00"))
    def d(x: Column) = x.cast("decimal(38,0)")
    val agree = col("n11") + col("n00")
    val chance = d(col("n11") + col("n10")) * d(col("n11") + col("n01")) +
      d(col("n01") + col("n00")) * d(col("n10") + col("n00"))
    val nsq = d(col("n_docs")) * d(col("n_docs"))
    val num = d(col("n_docs")) * d(agree) - chance
    val den = nsq - chance
    m.select(col("n_docs"), col("n11"), col("n10"), col("n01"), col("n00"),
      (agree.cast("double") / col("n_docs").cast("double")).as("po"),
      (chance.cast("double") / nsq.cast("double")).as("pe"),
      when(den === lit(0).cast("decimal(38,0)"), lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double")).as("kappa"))
  }

  /** Feature-slot count of [[linearQuality]]'s hashing trick (2¹²). */
  val QlSlots = 4096L

  /** Model-based quality filter, fastText/CCNet shape: every token is
    * hashed into one of [[QlSlots]] feature slots (md5-prefix — the
    * portable token hash the minhash family uses), a broadcast
    * slot→weight table supplies the linear model, and a doc's score is
    * the mean weight of its tokens — kept iff ≥ 0. The weights here are
    * a deterministic stand-in (`((slot·A + B) mod 97) − 48`, interpolated
    * into the DuckDB twin as the same arithmetic) because no learned
    * model ships with the fixtures; a real deployment swaps ONLY the
    * 4096-row weight table, the plan is identical.
    *
    * Scale shape: the model is a bounded broadcast table (hash-trick
    * classifiers are fixed-width regardless of corpus vocab), scoring is
    * one explode + broadcast join + keyed sum with map-side partials —
    * no shuffle keyed on anything wider than doc_id, no driver state.
    * Integer score sums; the mean is the one IEEE division.
    */
  def linearQuality(s: SparkSession, docs: DataFrame): DataFrame = {
    val weights = s.range(QlSlots).select(col("id").as("slot"),
      (((col("id") * lit(2654435761L) + lit(104729L)) % 97L) - 48L).as("w"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") %
          QlSlots).as("slot"))
    toks.join(broadcast(weights), Seq("slot"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("score_raw"))
      .select(col("doc_id"), col("n_tokens"), col("score_raw"),
        (col("score_raw").cast("double") / col("n_tokens").cast("double"))
          .as("score"),
        (col("score_raw") >= 0L).as("keep"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "quality_linear" -> ((s, d) => linearQuality(s, Tables.documents(s, d))),
    "quality_gopher" -> ((s, d) => gopherRules(Tables.documents(s, d))),
    "quality_c4"     -> ((s, d) => c4Rules(Tables.documents(s, d))),
    "quality_filter_kappa" -> ((s, d) =>
      filterKappa(Tables.documents(s, d))),
    "text_compress_ratio" -> ((s, d) =>
      compressRatio(Tables.documents(s, d))),
    "text_readability"  -> ((s, d) => readability(Tables.documents(s, d))),
    "text_common_vocab" -> ((s, d) =>
      commonVocabRatio(Tables.documents(s, d))),
    "text_pmi"          -> ((s, d) => pmiCollocations(Tables.documents(s, d))),
    "vocab_coverage"    -> ((s, d) => vocabCoverage(Tables.documents(s, d))),
    "search_bm25"       -> ((s, d) => bm25(Tables.documents(s, d))),
    "search_phrase"     -> ((s, d) => phraseSearch(Tables.documents(s, d))),
    "search_bm25_topk"  -> ((s, d) => bm25TopK(Tables.documents(s, d))),
    "search_eval_map"   -> ((s, d) => searchEvalMap(Tables.documents(s, d))),
    "eval_confusion"    -> ((s, d) => evalLangId(Tables.documents(s, d))),
    "eval_auc_roc"      -> ((s, d) => evalAucRoc(Tables.documents(s, d))),
    "eval_calibration"  -> ((s, d) => evalCalibration(Tables.documents(s, d))),
    "eval_pr_curve"     -> ((s, d) => evalPrCurve(Tables.documents(s, d))),
    "text_blocklist"    -> ((s, d) => blocklistScreen(Tables.documents(s, d))),
    "text_keywords"     -> ((s, d) => keywords(Tables.documents(s, d))),
    "text_repetition"   -> ((s, d) => repetition(Tables.documents(s, d))),
    "text_stats"        -> ((s, d) => stats(Tables.documents(s, d))),
    "text_top_terms"    -> ((s, d) => topTermsPerLang(Tables.documents(s, d))),
    "text_quality"      -> ((s, d) => quality(Tables.documents(s, d))),
    "text_langid"       -> ((s, d) => langId(Tables.documents(s, d))),
    "text_fingerprints" -> ((s, d) => fingerprints(Tables.documents(s, d))),
    "text_winnow" -> ((s, d) => winnowFingerprints(Tables.documents(s, d))),
    "text_token_counts" -> ((s, d) => tokenCounts(Tables.documents(s, d))),
  )

  /** The BM25-scored-corpus CTE chain (ends at `g(doc_id, n_terms_hit,
    * score)`), shared by the search_bm25_topk twin and search_eval_map's
    * ranking/truth CTEs so retriever and eval can never drift.
    */
  private val duckBm25ScoredCtes: String = {
    val y = graft.functions.PortableLn.yLadderSql("idf_ratio")
    val pln = graft.functions.PortableLn.correctionSql("y")
    s"""d AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS dl, text
       |  FROM documents),
       |s AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT)
       |        AS total_len FROM d),
       |tok AS (
       |  SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term
       |  FROM d),
       |tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf
       |  FROM tok
       |  WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY 1, 2, 3),
       |df AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
       |comp AS (
       |  SELECT tf.doc_id, tf.term,
       |         (CAST(s.n_docs - df.doc_freq AS DOUBLE) +
       |            CAST(0.5 AS DOUBLE)) /
       |         (CAST(df.doc_freq AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |           AS idf_ratio,
       |         (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
       |         (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
       |           (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
       |             (CAST(tf.dl * s.n_docs AS DOUBLE) / s.total_len)))
       |           AS tf_norm
       |  FROM tf JOIN df USING (term), s),
       |lad AS (SELECT doc_id, term, tf_norm, $y AS y FROM comp),
       |ps AS (SELECT doc_id, term,
       |              $pln * tf_norm AS part_score
       |       FROM lad),
       |g AS (
       |  SELECT doc_id, count(*) AS n_terms_hit,
       |${Bm25Query.sorted.zipWithIndex.map { case (t, i) =>
           val head = if (i == 0) "         " else "       |       + "
           s"${head}coalesce(max(CASE WHEN term = '$t'\n" +
             s"       |                           THEN part_score END), 0.0)"
         }.mkString("\n")} AS score
       |  FROM ps GROUP BY 1)""".stripMargin
  }

  /** [[gopherRules]]' full twin statement — shared between the
    * quality_gopher entry and quality_filter_kappa's `g` CTE so the two
    * can never drift.
    */
  private val duckGopherSql: String =
    """WITH b AS (
      |  SELECT doc_id, lang, CAST(len(text) AS INT) AS n_chars_txt,
      |         string_split(text, ' ') AS toks
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_chars_txt,
      |         CAST(len(toks) AS INT) AS n_tokens,
      |         CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
      |         CAST(len(list_filter(toks, t -> t IN ('the', 'a')))
      |              AS INT) AS n_func,
      |         CAST(list_max(list_transform(list_distinct(toks),
      |              t -> len(list_filter(toks, x -> x = t)))) AS INT)
      |           AS top_cnt
      |  FROM b)
      |SELECT doc_id, lang, n_tokens,
      |       n_chars_txt - n_tokens + 1 AS token_chars,
      |       n_distinct, n_func, top_cnt,
      |       CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
      |            THEN 1 ELSE 0 END AS ok_word_count,
      |       CASE WHEN n_chars_txt - n_tokens + 1 >= n_tokens * 3
      |             AND n_chars_txt - n_tokens + 1 <= n_tokens * 10
      |            THEN 1 ELSE 0 END AS ok_mean_len,
      |       CASE WHEN n_func >= 2 THEN 1 ELSE 0 END AS ok_func_words,
      |       CASE WHEN top_cnt * 10 <= n_tokens * 3
      |            THEN 1 ELSE 0 END AS ok_top_token,
      |       CASE WHEN n_distinct * 2 >= n_tokens
      |            THEN 1 ELSE 0 END AS ok_distinct,
      |       CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
      |             AND n_chars_txt - n_tokens + 1 >= n_tokens * 3
      |             AND n_chars_txt - n_tokens + 1 <= n_tokens * 10
      |             AND n_func >= 2 AND top_cnt * 10 <= n_tokens * 3
      |             AND n_distinct * 2 >= n_tokens
      |            THEN 1 ELSE 0 END AS keep
      |FROM c""".stripMargin

  /** [[c4Rules]]' full twin statement — shared like [[duckGopherSql]]. */
  private val duckC4Sql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |         CAST(list_max(list_transform(string_split(text, ' '),
      |              t -> len(t))) AS INT) AS max_tok_len,
      |         CASE WHEN NOT contains(text, '{')
      |               AND NOT contains(lower(text), 'lorem ipsum')
      |              THEN 1 ELSE 0 END AS ok_clean,
      |         md5(array_to_string(string_split(text, ' ')[1:8], ' '))
      |           AS span_fp
      |  FROM documents),
      |m AS (SELECT span_fp, min(doc_id) AS min_id FROM c GROUP BY 1)
      |SELECT c.doc_id, c.n_tokens, c.max_tok_len, c.span_fp, c.ok_clean,
      |       CASE WHEN c.n_tokens >= 5 THEN 1 ELSE 0 END AS ok_min_words,
      |       CASE WHEN c.max_tok_len <= 20 THEN 1 ELSE 0 END
      |         AS ok_max_word_len,
      |       CASE WHEN c.doc_id = m.min_id THEN 1 ELSE 0 END
      |         AS is_canonical,
      |       CASE WHEN c.n_tokens >= 5 AND c.max_tok_len <= 20
      |             AND c.ok_clean = 1 AND c.doc_id = m.min_id
      |            THEN 1 ELSE 0 END AS keep
      |FROM c JOIN m USING (span_fp)""".stripMargin

  /** DuckDB twins of [[queries]]. */
  def oracleSql: Map[String, String] = Map(
    "quality_linear" ->
      s"""WITH w AS (
         |  SELECT range AS slot,
         |         ((range * 2654435761 + 104729) % 97) - 48 AS w
         |  FROM range($QlSlots)),
         |t AS (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
         |           % $QlSlots AS slot
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |a AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         CAST(sum(w.w) AS BIGINT) AS score_raw
         |  FROM t JOIN w USING (slot) GROUP BY 1)
         |SELECT doc_id, n_tokens, score_raw,
         |       CAST(score_raw AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |         AS score,
         |       score_raw >= 0 AS keep
         |FROM a""".stripMargin,
    "quality_gopher" -> duckGopherSql,
    "quality_c4" -> duckC4Sql,
    "quality_filter_kappa" ->
      s"""WITH g AS ($duckGopherSql),
         |c4 AS ($duckC4Sql),
         |j AS (
         |  SELECT g.keep AS kg, c4.keep AS kc
         |  FROM g JOIN c4 ON g.doc_id = c4.doc_id),
         |m AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(kg * kc) AS BIGINT) AS n11,
         |         CAST(sum(kg * (1 - kc)) AS BIGINT) AS n10,
         |         CAST(sum((1 - kg) * kc) AS BIGINT) AS n01,
         |         CAST(sum((1 - kg) * (1 - kc)) AS BIGINT) AS n00
         |  FROM j),
         |x AS (
         |  SELECT *,
         |         CAST(n11 + n10 AS HUGEINT) * CAST(n11 + n01 AS HUGEINT)
         |           + CAST(n01 + n00 AS HUGEINT)
         |             * CAST(n10 + n00 AS HUGEINT) AS chance,
         |         CAST(n_docs AS HUGEINT) * CAST(n_docs AS HUGEINT)
         |           AS nsq
         |  FROM m)
         |SELECT n_docs, n11, n10, n01, n00,
         |       CAST(n11 + n00 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
         |       CAST(chance AS DOUBLE) / CAST(nsq AS DOUBLE) AS pe,
         |       CASE WHEN nsq - chance = 0 THEN NULL
         |            ELSE CAST(CAST(n_docs AS HUGEINT)
         |                        * CAST(n11 + n00 AS HUGEINT)
         |                        - chance AS DOUBLE)
         |                 / CAST(nsq - chance AS DOUBLE) END AS kappa
         |FROM x""".stripMargin,
    "text_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(text, '[!-~]+')) AS BIGINT)
        |           AS n_words,
        |         greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
        |                       AS BIGINT), 1) AS n_sentences,
        |         greatest(CAST(len(regexp_extract_all(text,
        |                       '[aeiouyAEIOUY]+')) AS BIGINT), 1)
        |           AS n_syllables
        |  FROM documents),
        |r AS (
        |  SELECT *,
        |         CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
        |           AS wps,
        |         CAST(n_syllables AS DOUBLE) /
        |           CAST(greatest(n_words, 1) AS DOUBLE) AS spw
        |  FROM c)
        |SELECT doc_id, n_words, n_sentences, n_syllables, wps, spw,
        |       206.835 - 1.015 * wps - 84.6 * spw AS flesch
        |FROM r""".stripMargin,
    "text_common_vocab" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok FROM t WHERE len(tok) >= 1),
        |v AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM tf GROUP BY 1
        |    ORDER BY cnt DESC, tok LIMIT 10)),
        |j AS (
        |  SELECT tf.doc_id,
        |         CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS in_v
        |  FROM tf LEFT JOIN v ON tf.tok = v.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(in_v) AS BIGINT) AS n_common,
        |       CAST(CAST(sum(in_v) AS BIGINT) AS DOUBLE) / count(*)
        |         AS common_ratio
        |FROM j GROUP BY 1""".stripMargin,
    "text_pmi" ->
      """WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |bi AS (
        |  SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS n_pair
        |  FROM (SELECT unnest([{'w1': toks[i], 'w2': toks[i+1]}
        |                       for i in range(1, len(toks))]) AS b
        |        FROM d)
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |uni AS (
        |  SELECT w, count(*) AS n_w
        |  FROM (SELECT unnest(toks) AS w FROM d) GROUP BY 1),
        |t AS (SELECT CAST(sum(n_w) AS BIGINT) AS n_total FROM uni)
        |SELECT bi.w1, bi.w2, bi.n_pair,
        |       u1.n_w AS n_w1, u2.n_w AS n_w2,
        |       (CAST(bi.n_pair AS DOUBLE) * t.n_total) /
        |         (CAST(u1.n_w AS DOUBLE) * u2.n_w) AS pmi_ratio
        |FROM bi JOIN uni u1 ON bi.w1 = u1.w
        |        JOIN uni u2 ON bi.w2 = u2.w, t
        |ORDER BY pmi_ratio DESC, bi.w1, bi.w2
        |LIMIT 50""".stripMargin,
    "vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tc AS (
        |  SELECT term, count(*) AS cnt FROM tok
        |  WHERE length(term) > 0 GROUP BY 1),
        |r AS (
        |  SELECT term, cnt,
        |         row_number() OVER (ORDER BY cnt DESC, term) AS rank,
        |         CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |         CAST(sum(cnt) OVER () AS BIGINT) AS total_toks
        |  FROM tc)
        |SELECT rank, term, cnt, cum_tokens,
        |       CAST(cum_tokens AS DOUBLE) / total_toks AS cum_share
        |FROM r WHERE rank IN (3, 10, 30, 100, 1000, 10000)""".stripMargin,
    "search_bm25_topk" ->
      s"""WITH $duckBm25ScoredCtes
        |SELECT doc_id, n_terms_hit, score
        |FROM g ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "search_eval_map" ->
      s"""WITH $duckBm25ScoredCtes,
        |ranked AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score DESC,
        |           doc_id) AS rank FROM g)
        |  WHERE rank <= 20),
        |truth AS (SELECT doc_id FROM g
        |          WHERE n_terms_hit = ${Bm25Query.size}),
        |nr AS (SELECT count(*) AS n_relevant FROM truth),
        |cum AS (
        |  SELECT rank,
        |         CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END AS rel,
        |         CAST(sum(CASE WHEN t.doc_id IS NULL THEN 0 ELSE 1 END)
        |              OVER (ORDER BY rank) AS BIGINT) AS cum_hits
        |  FROM ranked r LEFT JOIN truth t USING (doc_id)),
        |fold AS (
        |  SELECT CAST(sum(rel) AS BIGINT) AS n_hits_k,
        |         CAST(sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END)
        |              AS BIGINT) AS hits5,
        |         CAST(sum(CASE WHEN rank <= 10 THEN rel ELSE 0 END)
        |              AS BIGINT) AS hits10,
        |         min(CASE WHEN rel = 1 THEN rank END) AS first_hit,
        |         list_sum(list(CASE WHEN rel = 1
        |             THEN CAST(cum_hits AS DOUBLE) / rank
        |             ELSE CAST(0.0 AS DOUBLE) END ORDER BY rank))
        |           AS ap_num
        |  FROM cum)
        |SELECT n_relevant, n_hits_k,
        |       coalesce(CAST(1.0 AS DOUBLE) / first_hit, 0.0) AS mrr,
        |       CAST(hits5 AS DOUBLE) / 5.0 AS p_at_5,
        |       CAST(hits10 AS DOUBLE) / 10.0 AS p_at_10,
        |       CASE WHEN n_relevant = 0 THEN NULL
        |            ELSE CAST(n_hits_k AS DOUBLE)
        |                 / CAST(n_relevant AS DOUBLE) END AS recall_at_k,
        |       CASE WHEN least(n_relevant, 20) = 0 THEN NULL
        |            ELSE ap_num / CAST(least(n_relevant, 20) AS DOUBLE)
        |            END AS ap
        |FROM fold, nr""".stripMargin,
    "search_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl, text
        |  FROM documents),
        |s AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT)
        |        AS total_len FROM d),
        |tok AS (
        |  SELECT doc_id, dl, unnest(string_split(text, ' ')) AS term
        |  FROM d),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM tok
        |  WHERE term IN ('hash', 'join', 'filter')
        |  GROUP BY 1, 2, 3),
        |df AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1)
        |SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq, tf.dl,
        |       (CAST(s.n_docs - df.doc_freq AS DOUBLE) +
        |          CAST(0.5 AS DOUBLE)) /
        |       (CAST(df.doc_freq AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |         AS idf_ratio,
        |       (CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
        |       (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |         (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
        |           (CAST(tf.dl * s.n_docs AS DOUBLE) / s.total_len)))
        |         AS tf_norm
        |FROM tf JOIN df USING (term), s""".stripMargin,
    "text_blocklist" -> {
      val inList = BlocklistTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, count(*) AS n_hits,
         |         count(DISTINCT tok) AS n_terms
         |  FROM tok WHERE tok IN ($inList) GROUP BY 1)
         |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
         |       coalesce(h.n_terms, 0) AS n_terms,
         |       coalesce(h.n_hits, 0) > $BlocklistMaxHits AS flagged
         |FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin
    },
    "search_phrase" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         [i for i in range(1, len(toks))
         |          if toks[i] = '$PhraseTerm1'
         |         AND toks[i + 1] = '$PhraseTerm2'] AS hits
         |  FROM t)
         |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_occ,
         |       CAST(list_min(hits) - 1 AS BIGINT) AS first_pos
         |FROM m WHERE len(hits) > 0""".stripMargin,
    "eval_pr_curve" ->
      """WITH vl AS (
        |  SELECT n_chars AS v,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS pos_c,
        |         count(*) AS t
        |  FROM documents GROUP BY 1),
        |vl2 AS (SELECT *, t - pos_c AS neg_c FROM vl),
        |tot AS (
        |  SELECT CAST(sum(pos_c) AS BIGINT) AS n_pos,
        |         CAST(sum(t) AS BIGINT) AS n
        |  FROM vl2),
        |cm AS (
        |  SELECT v, pos_c, neg_c,
        |         CAST(sum(pos_c) OVER (ORDER BY v DESC
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tp,
        |         CAST(sum(neg_c) OVER (ORDER BY v DESC
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_fp,
        |         ntile(10) OVER (ORDER BY v DESC) AS bin
        |  FROM vl2),
        |g AS (
        |  SELECT bin, min(v) AS thresh, max(cum_tp) AS tp,
        |         max(cum_fp) AS fp
        |  FROM cm GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, thresh, tp, fp,
        |       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        |       CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall,
        |       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS baseline
        |FROM g CROSS JOIN tot""".stripMargin,
    "eval_calibration" ->
      """WITH s AS (
        |  SELECT least(n_chars, 1000) AS s_milli,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |b AS (
        |  SELECT least(s_milli, 999) // 100 AS bin,
        |         count(*) AS n,
        |         CAST(sum(pos) AS BIGINT) AS pos_c,
        |         CAST(sum(s_milli) AS BIGINT) AS sum_s,
        |         CAST(sum((s_milli - 1000 * pos) * (s_milli - 1000 * pos))
        |              AS BIGINT) AS sq
        |  FROM s GROUP BY 1),
        |g AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_tot,
        |         CAST(sum(sq) AS BIGINT) AS sq_tot,
        |         CAST(sum(abs(1000 * pos_c - sum_s)) AS BIGINT) AS ece_num
        |  FROM b)
        |SELECT bin, n, pos_c AS n_pos,
        |       CAST(sum_s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0)
        |         AS conf,
        |       CAST(pos_c AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
        |       CAST(sq_tot AS DOUBLE) / (CAST(n_tot AS DOUBLE) * 1000000.0)
        |         AS brier,
        |       CAST(ece_num AS DOUBLE) / (CAST(n_tot AS DOUBLE) * 1000.0)
        |         AS ece
        |FROM b CROSS JOIN g""".stripMargin,
    "eval_auc_roc" ->
      """WITH vl AS (
        |  SELECT n_chars AS v,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |              AS BIGINT) AS pos_c,
        |         count(*) AS t
        |  FROM documents GROUP BY 1),
        |vl2 AS (SELECT *, t - pos_c AS neg_c FROM vl),
        |rk AS (
        |  SELECT *, coalesce(CAST(sum(t) OVER (ORDER BY v
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS BIGINT), 0) AS below
        |  FROM vl2),
        |tot AS (
        |  SELECT CAST(sum(pos_c) AS BIGINT) AS n_pos,
        |         CAST(sum(neg_c) AS BIGINT) AS n_neg,
        |         CAST(sum(pos_c * (2 * below + t + 1)) AS BIGINT)
        |           AS rpos_2x
        |  FROM rk),
        |cm AS (
        |  SELECT v, pos_c, neg_c,
        |         CAST(sum(pos_c) OVER (ORDER BY v DESC
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tp,
        |         CAST(sum(neg_c) OVER (ORDER BY v DESC
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_fp,
        |         ntile(10) OVER (ORDER BY v DESC) AS bin
        |  FROM vl2),
        |g AS (
        |  SELECT bin, min(v) AS thresh, max(cum_tp) AS tp,
        |         max(cum_fp) AS fp
        |  FROM cm GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, thresh, tp, fp,
        |       CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS tpr,
        |       CAST(fp AS DOUBLE) / CAST(n_neg AS DOUBLE) AS fpr,
        |       CAST(rpos_2x - n_pos * (n_pos + 1) AS DOUBLE) /
        |         (CAST(2.0 AS DOUBLE) * CAST(n_pos * n_neg AS DOUBLE))
        |         AS auc
        |FROM g CROSS JOIN tot""".stripMargin,
    "eval_confusion" ->
      """WITH c AS (
        |  SELECT lang AS declared_lang,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('the', 'a', 'fast'))) AS c_en,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('data', 'table', 'row'))) AS c_es,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('merge', 'join', 'sort'))) AS c_fr,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('window', 'stream', 'batch'))) AS c_de
        |  FROM documents),
        |p AS (
        |  SELECT declared_lang,
        |         CASE
        |           WHEN c_en > 0 AND c_en >= c_es AND c_en >= c_fr
        |                AND c_en >= c_de THEN 'en'
        |           WHEN c_es > 0 AND c_es >= c_fr AND c_es >= c_de THEN 'es'
        |           WHEN c_fr > 0 AND c_fr >= c_de THEN 'fr'
        |           WHEN c_de > 0 THEN 'de'
        |           ELSE 'und' END AS predicted_lang
        |  FROM c),
        |cells AS (
        |  SELECT declared_lang, predicted_lang, count(*) AS n
        |  FROM p GROUP BY 1, 2),
        |tt AS (SELECT declared_lang, CAST(sum(n) AS BIGINT) AS true_total
        |       FROM cells GROUP BY 1),
        |pt AS (SELECT predicted_lang, CAST(sum(n) AS BIGINT) AS pred_total
        |       FROM cells GROUP BY 1)
        |SELECT cells.declared_lang, cells.predicted_lang, cells.n,
        |       tt.true_total, pt.pred_total,
        |       CAST(cells.n AS DOUBLE) / tt.true_total AS share_of_true,
        |       CAST(cells.n AS DOUBLE) / pt.pred_total AS share_of_pred
        |FROM cells JOIN tt USING (declared_lang)
        |JOIN pt USING (predicted_lang)""".stripMargin,
    "text_keywords" ->
      """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tokens
        |  WHERE length(term) > 0 GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
        |ranked AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf DESC, df.doc_freq, tf.term) AS rnk
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, rnk, term, tf, doc_freq
        |FROM ranked WHERE rnk <= 3""".stripMargin,
    "text_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |         CASE WHEN len(toks) < 2 THEN []
        |              ELSE [array_to_string(toks[i:i+1], ' ')
        |                    for i in range(1, len(toks))] END AS g2,
        |         CASE WHEN len(toks) < 3 THEN []
        |              ELSE [array_to_string(toks[i:i+2], ' ')
        |                    for i in range(1, len(toks)-1)] END AS g3
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         len(g2) AS total2, len(list_distinct(g2)) AS distinct2,
        |         len(g3) AS total3, len(list_distinct(g3)) AS distinct3
        |  FROM g)
        |SELECT doc_id, n_tokens, total2, distinct2, total3, distinct3,
        |       CASE WHEN total2 > 0
        |            THEN (total2 - distinct2) * 1.0 / total2
        |            ELSE 0.0 END AS rep2,
        |       CASE WHEN total3 > 0
        |            THEN (total3 - distinct3) * 1.0 / total3
        |            ELSE 0.0 END AS rep3
        |FROM c""".stripMargin,
    "text_top_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |filt AS (SELECT * FROM tok WHERE length(token) > 3),
        |tf AS (SELECT lang, token, count(*) AS tf FROM filt GROUP BY 1, 2),
        |df AS (SELECT token, count(DISTINCT doc_id) AS doc_freq
        |       FROM filt GROUP BY 1)
        |SELECT lang, rnk, token, tf, doc_freq FROM (
        |  SELECT tf.lang, tf.token, tf.tf, df.doc_freq,
        |         row_number() OVER (PARTITION BY tf.lang
        |           ORDER BY tf.tf DESC, tf.token) AS rnk
        |  FROM tf JOIN df USING (token))
        |WHERE rnk <= 10""".stripMargin,
    "text_winnow" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pos0 AS (
        |  SELECT doc_id, p.i AS i,
        |         CAST('0x' || substr(md5(p.gram), 1, 8) AS BIGINT) AS h
        |  FROM (
        |    SELECT doc_id,
        |           unnest([{'i': CAST(i AS BIGINT),
        |                    'gram': array_to_string(toks[i:i+3], ' ')}
        |                   for i in range(1, len(toks) - 2)]) AS p
        |    FROM d WHERE len(toks) >= 4) q),
        |pos AS (SELECT doc_id, i, h * 1048576 + i AS packed FROM pos0),
        |win AS (
        |  SELECT doc_id, i,
        |         count(*) OVER (PARTITION BY doc_id) AS n_grams,
        |         min(packed) OVER (PARTITION BY doc_id ORDER BY i
        |                           ROWS BETWEEN CURRENT ROW
        |                                    AND 4 FOLLOWING) AS win_min
        |  FROM pos),
        |sel AS (
        |  SELECT DISTINCT doc_id, n_grams, win_min FROM win
        |  WHERE i = 1 OR i + 4 <= n_grams),
        |agg AS (
        |  SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |         count(*) AS n_fps,
        |         CAST(sum(win_min // 1048576) AS BIGINT) AS fp_checksum
        |  FROM sel GROUP BY 1, 2)
        |SELECT doc_id, n_grams, n_fps, fp_checksum,
        |       CAST(n_fps AS DOUBLE) / CAST(n_grams AS DOUBLE) AS density
        |FROM agg""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, lang, source,
        |       length(text) AS n_chars_txt,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       len(list_distinct(string_split(text, ' ')))
        |         AS n_distinct_tokens,
        |       (length(text) - len(string_split(text, ' ')) + 1) * 1.0 /
        |         len(string_split(text, ' ')) AS avg_token_len,
        |       len(list_distinct(string_split(text, ' '))) * 1.0 /
        |         len(string_split(text, ' ')) AS distinct_ratio
        |FROM documents""".stripMargin,
    "text_quality" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         len(list_distinct(string_split(text, ' ')))
        |           AS n_distinct_tokens,
        |         len(list_filter(string_split(text, ' '),
        |                         t -> t IN ('the', 'a'))) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT *, n_stop * 1.0 / n_tokens AS stop_ratio,
        |         least(1.0, n_tokens * 1.0 / 50.0) AS len_score,
        |         n_distinct_tokens * 1.0 / n_tokens AS distinct_ratio
        |  FROM s)
        |SELECT doc_id, lang, n_tokens, n_stop, stop_ratio, len_score,
        |       len_score * distinct_ratio * (1.0 - stop_ratio)
        |         AS quality_score,
        |       CAST(len_score * distinct_ratio * (1.0 - stop_ratio) >= 0.35
        |            AS INT) AS is_quality
        |FROM r""".stripMargin,
    "text_langid" ->
      """WITH c AS (
        |  SELECT doc_id, lang AS declared_lang,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('the', 'a', 'fast'))) AS c_en,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('data', 'table', 'row'))) AS c_es,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('merge', 'join', 'sort'))) AS c_fr,
        |         len(list_filter(string_split(text, ' '),
        |             t -> t IN ('window', 'stream', 'batch'))) AS c_de
        |  FROM documents)
        |SELECT doc_id, declared_lang,
        |       CASE
        |         WHEN c_en > 0 AND c_en >= c_es AND c_en >= c_fr
        |              AND c_en >= c_de THEN 'en'
        |         WHEN c_es > 0 AND c_es >= c_fr AND c_es >= c_de THEN 'es'
        |         WHEN c_fr > 0 AND c_fr >= c_de THEN 'fr'
        |         WHEN c_de > 0 THEN 'de'
        |         ELSE 'und' END AS predicted_lang,
        |       c_en, c_es, c_fr, c_de
        |FROM c""".stripMargin,
    "text_fingerprints" ->
      """SELECT doc_id, md5(lower(trim(text))) AS content_fp,
        |       md5(array_to_string(
        |             list_sort(list_distinct(string_split(text, ' '))), ' '))
        |         AS tokenset_fp
        |FROM documents""".stripMargin,
    "text_token_counts" ->
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z0-9]+')) AS regex_tokens,
        |       length(text) AS n_bytes
        |FROM documents""".stripMargin,
  )
}
