package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Corpus-preparation operators between curation and the training loader:
  * fixed-window chunking, deterministic shard assignment (the reproducible
  * form of "global shuffle"), and the cross-document duplicated-n-gram
  * fraction filter (the Gopher/RefinedWeb-style repetition signal computed
  * ACROSS documents, where [[TextAnalysis]]'s repetition metrics look
  * within one).
  *
  * == Scale design ==
  * - [[chunkDocuments]] is a narrow map + generator (no shuffle at all):
  *   each document expands to its own chunks independently, so it
  *   parallelizes perfectly and streams through whole-stage codegen.
  * - [[shardAssign]] hashes each row to its shard (narrow) and orders
  *   within shards only — one window per shard, never a global sort. At
  *   cluster scale the same plan is `repartition(shard)` +
  *   `sortWithinPartitions(h)`: the 100 TB corpus never funnels through
  *   a single ordering task.
  * - [[dupNgramFraction]] shuffles shingles twice (document frequency,
  *   then per-doc rollup). Both aggregations partial-aggregate map-side,
  *   so a hot shingle ("the quick brown") combines locally before the
  *   exchange — no skewed reducer, unlike a pair-join on shingles.
  */
object Corpus {

  /** Tokens per chunk for [[chunkDocuments]]. */
  val ChunkTokens = 128
  /** Stride between chunk starts (overlap = ChunkTokens - ChunkStride). */
  val ChunkStride = 96
  /** Shard fan-out for [[shardAssign]]. */
  val NumShards = 8L

  /** Sliding-window chunking: token windows of `chunk` tokens every
    * `stride` (so consecutive chunks overlap by `chunk - stride`), the
    * standard RAG/pretraining chunker. A document with n tokens yields
    * `1 + max(0, ceil((n - chunk)/stride))` chunks — always at least one,
    * and never a trailing chunk fully contained in its predecessor.
    */
  def chunkDocuments(docs: DataFrame, chunk: Int = ChunkTokens,
      stride: Int = ChunkStride): DataFrame = {
    require(chunk >= 1, s"chunkDocuments: chunk=$chunk must be >= 1")
    require(stride >= 1 && stride <= chunk,
      s"chunkDocuments: stride=$stride must be in [1, chunk=$chunk] — a " +
        "stride past the window would skip tokens and break full coverage")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("m", when(col("n") <= chunk, 1L)
        .otherwise(ceil((col("n") - chunk) / lit(stride.toDouble))
          .cast("long") + 1L))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("m") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride + 1).as("start_tok"),
        least(lit(chunk.toLong), col("n") - col("chunk_id") * stride)
          .as("chunk_len"),
        concat_ws(" ", slice(col("toks"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunk)))
          .as("chunk_text"))
  }

  /** Deterministic shard assignment + within-shard shuffle order: Knuth
    * multiplicative hash of doc_id picks the shard and the position, so
    * re-running the pipeline reproduces the exact training order (the
    * property RNG shuffles lose under repartitioning). The arithmetic
    * form (id·2654435761 mod 2^32) is engine-portable for the oracle but
    * only sound while id·2654435761 fits a signed 64-bit long — ids past
    * that bound now FAIL LOUDLY per-row (instead of silently hashing to a
    * negative shard); a production id domain past it uses
    * `portable = false`, which switches to `xxhash64` — same plan shape,
    * same guarantees, any id domain (just not expressible in the DuckDB
    * oracle, hence not the default here).
    */
  /** Portable Knuth u32 of a non-negative id column — the ONE place the
    * `id·2654435761 mod 2³²` arithmetic (and its id-domain guard) is
    * spelled out, shared by [[shardAssign]] and
    * [[Curation.balancedSample]].
    */
  def portableHash(id: Column, caller: String = "portableHash"): Column = {
    // Long overflows at id > Long.MaxValue / 2654435761 ≈ 3.47e9:
    // enforce the domain in-plan so a bad id is an error, not a
    // negative hash
    val maxId = Long.MaxValue / 2654435761L
    val guarded = when(id.between(0L, maxId), id)
      .otherwise(raise_error(concat(
        lit(s"$caller: id outside portable-hash domain [0, $maxId] (got "),
        id.cast("string"),
        lit("); hash with xxhash64 instead"))))
    (guarded * 2654435761L) % 4294967296L
  }

  def shardAssign(docs: DataFrame, shards: Long = NumShards,
      portable: Boolean = true): DataFrame = {
    val h =
      if (portable) {
        portableHash(col("doc_id"), "shardAssign")
      } else {
        pmod(xxhash64(col("doc_id")), lit(4294967296L))
      }
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs.select(col("doc_id"), h.as("h"), pmod(h, lit(shards)).as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** Per-document duplicated-shingle fraction: of a doc's distinct word
    * 3-grams, the share that also appears in at least one OTHER document
    * (document frequency > 1 over distinct-per-doc shingles). High values
    * flag boilerplate/templated text that pairwise near-dup misses when
    * the copying is many-to-many. Docs shorter than 3 tokens have no
    * shingles and are absent (identically in the oracle). No df cap is
    * needed here — the frequency count partial-aggregates, so hot
    * shingles cost nothing extra (contrast [[Dedup.MaxShingleDf]], which
    * guards a pair JOIN on the shingle key).
    */
  def dupNgramFraction(docs: DataFrame): DataFrame = {
    val sh = Dedup.shingles(docs)
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_shingles"))
      .withColumn("dup_frac",
        col("n_dup_shingles").cast("double") / col("n_shingles"))
  }

  /** N-gram width for [[dupSpans]] — short enough to fire on the
    * synthetic fixtures, the operator is width-agnostic (Lee et al.'s
    * substring dedup uses 50 BPE tokens on web corpora).
    */
  val SpanGram = 5

  /** Exact duplicated-SUBSTRING span report (the span form of substring
    * deduplication, cf. "Deduplicating Training Data Makes Language
    * Models Better"): a position i in a document is *duplicated* when
    * the `n`-token gram starting there occurs ≥ 2 times corpus-wide
    * (including within-doc repeats); overlapping/adjacent duplicated
    * windows are merged gaps-and-islands style (break when the gap
    * between consecutive duplicated starts exceeds n) into maximal
    * spans. Per document: token count, span count, tokens covered by
    * spans, and the covered fraction — the actionable output a
    * substring-dedup pass cuts or rewrites. Cross-doc-ONLY flags at
    * per-SPAN grain live in [[Dedup.repeatedSpans]]
    * (`dedup_repeated_spans`) — see its scaladoc for the full
    * variant table (dup rule, grain, coalescing); this one answers
    * "how much of each doc is duplicated text at all".
    *
    * Scale shape: the gram frequency is ONE keyed count that
    * partial-aggregates map-side (hot boilerplate grams combine locally
    * — no skewed reducer, same argument as [[dupNgramFraction]]); the
    * islands windows are partitioned BY DOCUMENT, so no task ever sees
    * more than one document's positions. Docs shorter than n tokens
    * have no grams and report zero spans.
    */
  def dupSpans(docs: DataFrame, n: Int = SpanGram): DataFrame = {
    require(n >= 2, s"dupSpans: gram width $n must be >= 2")
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("toks"))
    val pos = base
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) < $n THEN array()
           |ELSE transform(sequence(1, size(toks) - ${n - 1}),
           |               i -> struct(CAST(i AS BIGINT) AS i,
           |                           concat_ws(' ', slice(toks, i, $n))
           |                             AS gram)) END""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.gram").as("gram"))
    val freq = pos.groupBy("gram").agg(count(lit(1)).as("occ"))
    val dup = pos.join(freq.filter(col("occ") >= 2), Seq("gram"))
      .select("doc_id", "i")
    val wDoc = Window.partitionBy("doc_id").orderBy("i")
    val spans = dup
      .withColumn("prev", lag("i", 1).over(wDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("i") - col("prev") > n, 1L)
          .otherwise(0L))
      .withColumn("span_id", sum("brk").over(
        wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg((max("i") - min("i") + n).as("span_tokens"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum("span_tokens").as("dup_tokens"))
    base.select("doc_id", "n_tokens")
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("dup_frac"))
  }

  /** Exact substring-dedup TRANSFORM — the rewrite side of [[dupSpans]]
    * (the Lee et al. 2022 "Deduplicating Training Data" pass; the
    * cross-doc-only variant that emits the rewritten plain text is
    * [[Dedup.spanScrub]], `dedup_span_scrub` — see its scaladoc for
    * the variant table): every
    * [[SpanGram]]-token window that occurs more than once corpus-wide
    * keeps only its globally FIRST occurrence (ordered by doc_id, then
    * position), every token covered by a LATER occurrence is dropped,
    * and each document is rewritten from its surviving tokens. Reported
    * per doc: token counts before/after, the kept fraction, and an md5
    * fingerprint of the cleaned text (the value two engines can compare
    * exactly without shipping the rewritten corpus through the oracle).
    *
    * Scale shape: the occurrence ranking is a `row_number` window keyed
    * by the gram — the same content-keyed single shuffle as
    * [[dedupLines]], a streaming rank bounded per partition by one
    * gram's occurrence count; removal positions explode to ≤ n rows per
    * duplicate occurrence and collapse with a keyed distinct; the
    * rewrite is one anti-join plus a per-doc sort of that doc's own
    * surviving tokens (document-bounded, never corpus-bounded). No
    * driver state, no global windows.
    */
  def despanDocuments(docs: DataFrame, n: Int = SpanGram): DataFrame = {
    require(n >= 2, s"despanDocuments: gram width $n must be >= 2")
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val toksPos = base
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"),
        col("tok"))
    val pos = base
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) < $n THEN array()
           |ELSE transform(sequence(1, size(toks) - ${n - 1}),
           |               i -> struct(CAST(i AS BIGINT) AS i,
           |                           concat_ws(' ', slice(toks, i, $n))
           |                             AS gram)) END""".stripMargin))
        .as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.gram").as("gram"))
    val wg = Window.partitionBy("gram").orderBy("doc_id", "i")
    val removed = pos
      .withColumn("rn", row_number().over(wg))
      .filter(col("rn") > 1)
      .select(col("doc_id"),
        explode(expr(s"sequence(i, i + ${n - 1})")).as("p"))
      .distinct()
    val kept = toksPos.join(removed, Seq("doc_id", "p"), "left_anti")
    val per = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")))).as("clean_fp"))
    base.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        (coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("kept_frac"),
        coalesce(col("clean_fp"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("clean_fp"))
  }

  /** Cross-document line-level dedup (the C4/RefinedWeb boilerplate pass):
    * every line keeps only its FIRST occurrence corpus-wide — ordered by
    * (doc_id, position) — and each document reports how much of it
    * survived plus a fingerprint of its cleaned text. Exact-duplicate
    * documents collapse to `n_kept = 0` (every line already seen);
    * templated boilerplate shared across many documents is stripped from
    * all but the first.
    *
    * This corpus has no newlines, so a "line" is a fixed `lineTokens`
    * non-overlapping token window (via [[chunkDocuments]] with
    * stride = chunk); with real text swap the chunker for
    * `split(text, '\n')` — the dedup core is line-definition-agnostic.
    *
    * Scale shape: ONE shuffle, keyed by line content, for the
    * first-occurrence window — the same partitioning a groupBy(line)
    * would use, with no skew risk beyond a globally hot line (which the
    * window absorbs: `row_number` is a streaming rank, not a buffer).
    * The per-doc rollup rides a second shuffle on doc_id; the cleaned
    * fingerprint sorts each doc's surviving lines by position via
    * `array_sort` on (line_id, line) structs, so the hash is
    * deterministic under any partitioning.
    */
  def dedupLines(docs: DataFrame, lineTokens: Int = 16): DataFrame = {
    val lines = chunkDocuments(docs, lineTokens, lineTokens)
      .select(col("doc_id"), col("chunk_id").as("line_id"),
        col("chunk_text").as("line"))
    val w = Window.partitionBy("line").orderBy("doc_id", "line_id")
    lines
      .withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("rn") === 1,
            struct(col("line_id"), col("line"))))),
          x => x.getField("line")))).as("clean_fp"))
      .withColumn("kept_frac",
        col("n_kept").cast("double") / col("n_lines"))
  }

  /** Corpus composition report: per (source, lang) cell — document and
    * character counts, token totals, and each cell's share of the
    * corpus — the mix table every dataset card publishes and every
    * mixture re-weighting (cf. [[Curation]]'s weighted sampling) starts
    * from. One aggregate pass; shares divide exact integers against
    * broadcast corpus totals.
    */
  def sourceMix(docs: DataFrame): DataFrame = {
    // materialized once: feeds both the totals and the output join —
    // without this the documents scan + tokenization run twice
    val cells = docs.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
      .localCheckpoint()
    val tot = cells.agg(sum("n_docs").as("t_docs"),
      sum("n_chars").as("t_chars"))
    cells.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("n_chars"),
        col("n_tokens"),
        (col("n_docs").cast("double") / col("t_docs")).as("doc_share"),
        (col("n_chars").cast("double") / col("t_chars")).as("char_share"))
  }

  /** Temperature-scaled source mixing weights, T = 0.5: sampling weight
    * w_i ∝ n_i^T — the standard rebalancing that up-weights tail
    * sources and damps head sources when mixing corpora for LM
    * pretraining (multilingual temperature sampling). T = 0.5 makes the
    * power a SQUARE ROOT, the one non-trivial power that is a
    * correctly-rounded IEEE-754 primitive (pow/log are not), so both
    * engines compute bit-identical doubles; the weight is then floored
    * to integer micro-units so the normalizing Σ is an EXACT integer
    * sum (a double Σ over sources would be partition-order-dependent)
    * and each share is one final correctly-rounded division.
    */
  def temperatureMix(docs: DataFrame): DataFrame = {
    // materialized once: feeds the totals and the output join
    val w = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro",
        floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0))
          .cast("long"))
      .localCheckpoint()
    val tot = w.agg(sum("n_docs").as("t_docs"), sum("w_micro").as("t_w"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("w_micro"),
        (col("n_docs").cast("double") / col("t_docs")).as("doc_share"),
        (col("w_micro").cast("double") / col("t_w")).as("weight_share"))
  }

  /** Training-token budget planned by [[tokenBudgetPlan]] (arbitrary
    * fixed constant at test scale; a real run passes its 1T+ budget).
    */
  val TokenBudget = 1000000L

  /** Token-budget allocation plan: given a total training-token budget
    * and the temperature-flattened source weights ([[temperatureMix]]'s
    * exact micro-unit T=0.5 weighting over TOKEN counts), how many
    * tokens each source contributes and how many epochs (passes over
    * the source) that implies — the planning table a pretraining run
    * publishes next to its data card. All integer: per-source whitespace
    * token counts (one scan), weight micro-units via the
    * correctly-rounded sqrt primitive, allocation by exact
    * `budget·w div Σw`, epochs in exact basis points
    * (`alloc·10⁴ div tokens`; >10⁴ ⇒ the source repeats — the
    * "epochs > 1" signal that drives up-/down-sampling decisions).
    * Scale shape: one token-count scan with map-side combine onto the
    * ≤n_sources domain; everything after is metadata-sized. Headroom:
    * `budget·w_micro` must stay under 2⁶³ — at the test-scale constant
    * that is 10⁶·10¹² = 10¹⁸; a real 10¹² budget pairs with milli-unit
    * weights (drop 3 digits) for the same exactness at 1000× headroom.
    */
  def tokenBudgetPlan(docs: DataFrame,
      budget: Long = TokenBudget): DataFrame = {
    val w = docs
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .withColumn("w_micro",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0))
          .cast("long"))
      .localCheckpoint()
    val tot = w.agg(sum("w_micro").as("t_w"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w_micro"),
        expr(s"($budget * w_micro) div t_w").as("alloc_tokens"))
      .withColumn("epochs_bp",
        expr("(alloc_tokens * 10000) div n_tokens"))
      .select("source", "n_docs", "n_tokens", "w_micro", "alloc_tokens",
        "epochs_bp")
  }

  /** Top pairs kept by [[bpePairCounts]]. */
  val BpeTopPairs = 50

  /** The first step of BPE tokenizer training: corpus-wide frequency of
    * adjacent character pairs WITHIN whitespace tokens (BPE pre-splits
    * on whitespace; merges never cross a token boundary). The counting
    * pass dominates tokenizer training cost at 100 TB and is exactly
    * this query: explode tokens (narrow), explode each token's
    * `len-1` adjacent pairs (narrow generator — `transform` over
    * `sequence`, all codegen'd, no UDF), then ONE keyed count whose
    * map-side combine collapses the (tiny, ≲charset²) pair domain
    * before the shuffle. Top pairs ranked by (count desc, pair asc) —
    * the deterministic total order a reproducible tokenizer build
    * needs; the ranking window runs over the already-aggregated pair
    * domain (bounded by charset², never by corpus size).
    */
  def bpePairCounts(docs: DataFrame, k: Int = BpeTopPairs): DataFrame = {
    val pairs = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
    val counted = pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
    counted
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)
      .withColumn("rnk", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("cnt").desc, col("pair"))).cast("long"))
  }

  /** Normalization delta audit: the standard text-cleaning map (lower →
    * non-alphanumeric → space → collapse runs of spaces → trim) applied
    * corpus-wide, reported per language as exact before/after character
    * totals, how many documents the map actually changed, and the one
    * IEEE division `chars_after / chars_before` both engines compute
    * identically. The map itself is a narrow codegen'd expression chain
    * (regexp on the Java/RE2-shared subset, same as [[graft.ext.Privacy]]);
    * the rollup is one keyed aggregate on the ≤n_langs domain.
    */
  def normalizeStats(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    docs
      .select(col("lang"), col("text"), norm.as("norm"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("text"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(length(col("text")).cast("long")).as("chars_before"),
        sum(length(col("norm")).cast("long")).as("chars_after"))
      .withColumn("shrink_ratio",
        col("chars_after").cast("double") / col("chars_before"))
  }

  /** Merges trained by [[bpeTrain]]. */
  val BpeMerges = 8

  /** Symbol-boundary marker for [[bpeTrain]]'s work encoding (U+001F
    * unit separator; tokens containing it, or any non-printable-ASCII
    * byte, are excluded on BOTH engines so the encoding is injective).
    */
  private val Mk = "\u001F"

  /** Full BPE tokenizer-training loop — the iterative step
    * [[bpePairCounts]] only previews. Each round finds the corpus-wide
    * most frequent adjacent symbol pair (ties to the lexicographically
    * smallest, the deterministic total order a reproducible tokenizer
    * needs) and merges it everywhere, exactly the Sennrich et al. BPE
    * procedure: counts include overlapping occurrences ("aaa" counts
    * (a,a) twice), rewrites are left-to-right non-overlapping ("aaaa"
    * becomes [aa][aa]).
    *
    * Representation is a marker-PREFIXED symbol string per token
    * (`<M>c1<M>c2...` for marker `<M>` = U+001F): a merge of pair (A,B) is then ONE
    * literal (non-regex) string replace of `<M>A<M>B` with
    * `<M>AB` — the prefix marker makes symbol boundaries
    * unambiguous (a pattern can never match a symbol's suffix) and,
    * unlike space-DELIMITED encodings, consecutive occurrences share no
    * delimiter, so JVM/DuckDB `replace` left-to-right scan reproduces
    * BPE's non-overlapping merge bit-for-bit on both engines.
    *
    * == Scale shape ==
    * The corpus is scanned ONCE, into the distinct-token frequency
    * table (the classic Sennrich formulation: corpus pair count =
    * Σ_vocab freq(token) · pairs-in-token). Every merge round then runs
    * on that cached vocab table — orders of magnitude smaller than the
    * corpus at any scale (a 100 TB web corpus has ~1e7–1e8 distinct
    * space-split words) — as a narrow replace chain, one freq-weighted
    * keyed count over the bounded symbol-pair domain, and a 1-row
    * TakeOrdered collect. Nothing data-sized ever reaches the driver.
    *
    * == Design envelope: merges k ≤ a few hundred ==
    * Each merge round costs one driver round-trip (the 1-row best-pair
    * collect) plus one layer in the replace chain, so wall-clock grows
    * linearly in k with a per-round scheduling floor — fine for the
    * k≈10–100 analytical setting this query family targets, but a full
    * 50k-merge production vocabulary would serialize on the driver loop
    * and on plan depth. The 50k path keeps the SAME vocab-table
    * formulation (already what [[bpeApply]] consumes) but needs (a)
    * periodic re-materialization of the token table (checkpoint every
    * ~64 rounds so plan depth stays bounded — the replace chain is
    * re-applied from the materialized state, not from round 0), and (b)
    * batched merge selection (take the top-m non-overlapping pairs per
    * round, the standard Sennrich speedup) to amortize the round-trip.
    * CorpusSpec pins the k budget so an accidental 50k call fails fast.
    */
  /** Upper bound of the driver-loop design envelope (see scaladoc above). */
  val BpeMergeBudget = 512

  def bpeTrain(docs: DataFrame, merges: Int = BpeMerges): DataFrame = {
    require(merges <= BpeMergeBudget,
      s"bpeTrain: $merges merges exceeds the driver-loop design envelope " +
        s"($BpeMergeBudget); a production-vocab run needs the batched/" +
        "checkpointed formulation described in the scaladoc")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(col("tok").rlike("^[!-~]+$"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("tok"), "(.)", Mk + "$1").as("s"),
        col("cnt"))
      .persist()
    try {
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, Long)]
      var cur = base
      var done = false
      while (out.size < merges && !done) {
        val top = cur
          .select(split(col("s"), Mk).as("syms"), col("cnt"))
          .where(size(col("syms")) >= 3) // leading "" + at least 2 symbols
          .select(explode(expr(
            "transform(sequence(2, size(syms) - 1), i -> " +
              "concat(element_at(syms, i), ' ', element_at(syms, i + 1)))"))
            .as("pair"), col("cnt"))
          .groupBy("pair").agg(sum("cnt").as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(1)
          .collect()
        if (top.isEmpty) done = true
        else {
          val pair = top(0).getString(0)
          val Array(a, b) = pair.split(" ", 2)
          out += ((out.size + 1L, pair, a + b, top(0).getLong(1)))
          cur = cur.select(
            replace(col("s"), lit(Mk + a + Mk + b), lit(Mk + a + b)).as("s"),
            col("cnt"))
        }
      }
      out.toSeq.toDF("rnk", "pair", "merged", "cnt")
    } finally base.unpersist(false)
  }

  /** Tokenizer fertility report: train [[bpeTrain]]'s merges, apply
    * them corpus-wide, and measure per source what the tokenizer buys —
    * exact character totals, symbol counts before (= chars of kept
    * tokens) and after the merges, and the two fertility ratios
    * (symbols per character, the tokenizer-eval metric; and mean
    * symbols per token). The apply step is the k literal replaces as
    * ONE narrow chained expression over the cached token table (the
    * merge list is k driver-side rows — the one legitimately
    * driver-resident artifact of tokenizer training); symbol counts
    * fall out of the marker encoding for free
    * (`n_symbols = len(s) - len(strip_marker(s))`). One keyed rollup
    * on the ≤n_sources domain ends the plan.
    */
  def bpeApply(docs: DataFrame, merges: Int = BpeMerges): DataFrame = {
    val merged = bpeTrain(docs, merges).select("pair").collect()
      .map(_.getString(0))
    val base = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .where(col("tok").rlike("^[!-~]+$"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
      .select(col("source"),
        regexp_replace(col("tok"), "(.)", Mk + "$1").as("s"), col("cnt"))
    val applied = merged.foldLeft(base) { (df, pair) =>
      val Array(a, b) = pair.split(" ", 2)
      df.withColumn("s",
        replace(col("s"), lit(Mk + a + Mk + b), lit(Mk + a + b)))
    }
    applied
      .select(col("source"), col("cnt"),
        (length(col("s")) - length(replace(col("s"), lit(Mk), lit(""))))
          .cast("long").as("n_syms"),
        length(replace(col("s"), lit(Mk), lit(""))).cast("long")
          .as("n_chars"))
      .groupBy("source")
      .agg(sum("cnt").as("n_tokens"),
        sum(col("cnt") * col("n_chars")).as("chars"),
        sum(col("cnt") * col("n_syms")).as("symbols"))
      .select(col("source"), col("n_tokens"), col("chars"), col("symbols"),
        (col("symbols").cast("double") / col("chars")).as("syms_per_char"),
        (col("symbols").cast("double") / col("n_tokens"))
          .as("syms_per_token"))
  }

  /** [[bpeApply]]'s DuckDB twin: the training stages of [[bpeOracle]]
    * PLUS the final rewrite t_k, aggregated per source. The token table
    * threads `source` through every stage (constant-width extra column;
    * the merge arithmetic is unchanged).
    */
  private def bpeApplyOracle(k: Int): String = {
    val stages = (1 to k).map { m =>
      s"""p$m AS (
         |  SELECT unnest([syms[i] || ' ' || syms[i+1]
         |                 for i in range(2, len(syms))]) AS pair, cnt
         |  FROM (SELECT string_split(s, chr(31)) AS syms, cnt
         |        FROM t${m - 1})
         |  WHERE len(syms) >= 3),
         |b$m AS MATERIALIZED (
         |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt FROM p$m GROUP BY 1
         |  ORDER BY cnt DESC, pair LIMIT 1),
         |t$m AS MATERIALIZED (
         |  SELECT source, replace(s,
         |           chr(31) || replace((SELECT pair FROM b$m), ' ', chr(31)),
         |           chr(31) || replace((SELECT pair FROM b$m), ' ', '')) AS s,
         |         cnt
         |  FROM t${m - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS MATERIALIZED (
       |  SELECT source, regexp_replace(tok, '(.)', chr(31) || '\\1', 'g') AS s,
       |         cnt
       |  FROM (SELECT source, tok, count(*) AS cnt
       |        FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
       |              FROM documents)
       |        WHERE regexp_matches(tok, '^[!-~]+$$')
       |        GROUP BY 1, 2)),
       |$stages,
       |m AS (
       |  SELECT source, cnt,
       |         CAST(len(s) - len(replace(s, chr(31), '')) AS BIGINT)
       |           AS n_syms,
       |         CAST(len(replace(s, chr(31), '')) AS BIGINT) AS n_chars
       |  FROM t$k)
       |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |       CAST(sum(cnt * n_chars) AS BIGINT) AS chars,
       |       CAST(sum(cnt * n_syms) AS BIGINT) AS symbols,
       |       CAST(CAST(sum(cnt * n_syms) AS BIGINT) AS DOUBLE)
       |         / CAST(sum(cnt * n_chars) AS BIGINT) AS syms_per_char,
       |       CAST(CAST(sum(cnt * n_syms) AS BIGINT) AS DOUBLE)
       |         / CAST(sum(cnt) AS BIGINT) AS syms_per_token
       |FROM m GROUP BY 1""".stripMargin
  }

  /** WordPiece vocab size: small enough on the synthetic corpus that a
    * real share of words needs multi-piece segmentation (the fallback
    * paths get exercised), large enough that frequent stems land. */
  val WordpieceVocab = 16

  /** Longest subword piece induced/matched (induction takes lengths
    * 2..[[WordpieceMaxPiece]]; length-1 fallback advances one char). */
  val WordpieceMaxPiece = 4

  /** Words longer than this are DROPPED from the report — the skew
    * guard (a pathological megabyte "word" would otherwise make one
    * fold iteration unbounded), mirrored verbatim in the twin. */
  val WordpieceMaxWordLen = 16

  /** WORDPIECE-STYLE GREEDY SEGMENTATION REPORT — the OTHER tokenizer
    * inference family next to [[bpeApply]]'s merge replay: BERT-class
    * tokenizers segment by MAXIMAL MUNCH (repeatedly take the longest
    * vocab entry prefixing the remainder; unknown → advance one char),
    * so fertility under greedy longest-match is the compatibility
    * metric when a corpus moves between tokenizer families.
    *
    * Vocab induction is deliberately ITERATION-FREE (unlike BPE's merge
    * loop) so the whole operator replays in SQL: candidate pieces are
    * every substring of length 2..[[WordpieceMaxPiece]] of every
    * distinct word, weighted by corpus term frequency per occurrence;
    * the vocab is the top-[[WordpieceVocab]] by (weight DESC, piece) —
    * integer weights, so the cut is deterministic.
    *
    * == Scale shape ==
    * Word counting is one keyed agg; candidates explode ≤ L·maxPiece
    * pieces per DISTINCT word (the word-domain table, not the corpus);
    * the vocab is a bounded driver artifact (V strings — the collected-
    * codebook class) interpolated into ONE narrow `aggregate` fold that
    * segments each distinct word in ≤ len steps with O(maxPiece) vocab
    * probes per step; per-source totals then ride a keyed equi-join of
    * the word-domain segmentation back onto the (source, word) counts.
    * No corpus-sized shuffle beyond the word count itself.
    *
    * == Cross-engine determinism ==
    * Everything is integer (counts, positions, piece lengths) except
    * the final fertility ratio, an identical IEEE division of exact
    * BIGINT sums both sides. The twin derives the SAME vocab in SQL and
    * replays the munch as a recursive CTE walking a precomputed
    * (word, pos) → step table (aggregation is not allowed in a
    * recursive term, so the per-position longest-match is materialized
    * non-recursively first — positions are bounded by
    * [[WordpieceMaxWordLen]]).
    */
  def wordpieceReport(docs: DataFrame,
      vocabSize: Int = WordpieceVocab,
      maxPiece: Int = WordpieceMaxPiece): DataFrame = {
    val wc = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .where(col("word").rlike("^[!-~]+$") &&
        length(col("word")) <= WordpieceMaxWordLen)
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    val words = wc.groupBy("word").agg(sum("cnt").as("tf"))
    // candidate pieces: every substring of length 2..maxPiece, one row
    // per OCCURRENCE (position), weighted by the word's corpus tf
    val cand = words.select(col("tf"), explode(expr(
      s"""flatten(transform(sequence(2, $maxPiece), l ->
         |  CASE WHEN length(word) >= l
         |       THEN transform(sequence(1, length(word) - l + 1),
         |                      i -> substr(word, i, l))
         |       ELSE cast(array() AS array<string>) END))""".stripMargin))
      .as("piece"))
    val vocab = cand.groupBy("piece").agg(sum("tf").as("wt"))
      .orderBy(col("wt").desc, col("piece"))
      .limit(vocabSize)
      .select("piece").collect().map(_.getString(0))
    require(vocab.nonEmpty, "wordpieceReport: empty candidate vocab")
    val vocabArr = vocab
      .map(s => "'" + s.replace("'", "''") + "'").mkString("array(", ",", ")")
    // maximal munch as ONE narrow fold: ≤ len(word) steps, each probing
    // lengths maxPiece..1 (array_max over the matching lengths = the
    // longest), falling back to a single-char advance
    val seg = words.select(col("word"), expr(
      s"""aggregate(
         |  sequence(1, length(word)),
         |  named_struct('pos', 0, 'cnt', 0L),
         |  (st, x) -> IF(st.pos >= length(word), st,
         |    named_struct(
         |      'pos', st.pos + coalesce(array_max(filter(
         |          sequence(1, least($maxPiece, length(word) - st.pos)),
         |          l -> array_contains($vocabArr,
         |                 substr(word, st.pos + 1, l)))), 1),
         |      'cnt', st.cnt + 1L)),
         |  st -> st.cnt)""".stripMargin).as("n_toks"))
    wc.join(seg, Seq("word"))
      .groupBy("source")
      .agg(sum("cnt").as("n_words"),
        sum(col("cnt") * col("n_toks")).as("n_tokens"),
        sum(when(col("n_toks") === 1L, col("cnt")).otherwise(0L))
          .as("one_piece_words"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        col("one_piece_words"),
        (col("n_tokens").cast("double") / col("n_words"))
          .as("toks_per_word"))
  }

  /** [[wordpieceReport]]'s DuckDB twin: same vocab induction in SQL,
    * the munch replayed as a recursive CTE over a non-recursive
    * (word, pos) → longest-match step table.
    */
  private def wordpieceOracle(vocabSize: Int = WordpieceVocab,
      maxPiece: Int = WordpieceMaxPiece): String =
    s"""WITH RECURSIVE wc AS MATERIALIZED (
       |  SELECT source, tok AS word, count(*) AS cnt
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE regexp_matches(tok, '^[!-~]+$$')
       |    AND length(tok) <= $WordpieceMaxWordLen
       |  GROUP BY 1, 2),
       |w AS MATERIALIZED (
       |  SELECT word, CAST(sum(cnt) AS BIGINT) AS tf FROM wc GROUP BY 1),
       |cand AS (
       |  SELECT unnest(flatten([[substr(word, i, l)
       |             for i in range(1, length(word) - l + 2)]
       |             for l in range(2, ${maxPiece + 1})])) AS piece, tf
       |  FROM w),
       |vocab AS MATERIALIZED (
       |  SELECT piece FROM (
       |    SELECT piece, CAST(sum(tf) AS BIGINT) AS wt FROM cand
       |    GROUP BY 1)
       |  ORDER BY wt DESC, piece LIMIT $vocabSize),
       |steps AS MATERIALIZED (
       |  SELECT w.word, p.pos, coalesce(max(length(v.piece)), 1) AS step
       |  FROM w CROSS JOIN range(0, $WordpieceMaxWordLen) p(pos)
       |  LEFT JOIN vocab v
       |    ON length(v.piece) <= length(w.word) - p.pos
       |   AND v.piece = substr(w.word, p.pos + 1, length(v.piece))
       |  WHERE p.pos < length(w.word)
       |  GROUP BY 1, 2),
       |seg AS (
       |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cnt FROM w
       |  UNION ALL
       |  SELECT s.word, CAST(s.pos + st.step AS INTEGER), s.cnt + 1
       |  FROM seg s JOIN steps st
       |    ON st.word = s.word AND st.pos = s.pos),
       |sw AS MATERIALIZED (
       |  SELECT word, cnt AS n_toks FROM seg
       |  WHERE pos = length(word))
       |SELECT wc.source,
       |       CAST(sum(wc.cnt) AS BIGINT) AS n_words,
       |       CAST(sum(wc.cnt * sw.n_toks) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN sw.n_toks = 1 THEN wc.cnt ELSE 0 END)
       |         AS BIGINT) AS one_piece_words,
       |       CAST(CAST(sum(wc.cnt * sw.n_toks) AS BIGINT) AS DOUBLE)
       |         / CAST(sum(wc.cnt) AS BIGINT) AS toks_per_word
       |FROM wc JOIN sw USING (word)
       |GROUP BY 1""".stripMargin

  /** Unigram vocab size (multi-char pieces kept besides the guaranteed
    * single-char coverage set). Small enough that real words need
    * multi-piece Viterbi paths, large enough that frequent stems land.
    */
  val UnigramVocab = 64

  /** Longest candidate piece for [[unigramReport]]. */
  val UnigramMaxPiece = 4

  /** Words longer than this are dropped from the report — the
    * [[WordpieceMaxWordLen]] skew guard, and the unroll bound of the
    * twin's DP. */
  val UnigramMaxWordLen = 16

  /** Piece cost = [[UnigramCostScale]] div (weight + 1) — the integer
    * surrogate for −log p (monotone in frequency, exactly replayable;
    * a true −ln p twin would hit the libm-rounding exclusion the BM25
    * scaladoc documents). */
  val UnigramCostScale = 1000000000000L

  /** UNIGRAM-LM (SentencePiece-style) VITERBI SEGMENTATION REPORT — the
    * third tokenizer family next to [[bpeTrain]]'s merges and
    * [[wordpieceReport]]'s greedy munch: each word takes the GLOBALLY
    * cheapest segmentation under a per-piece cost table (Viterbi DP),
    * not the locally longest prefix. Pieces are substrings of length
    * 1..[[UnigramMaxPiece]] weighted by corpus tf; the vocabulary is
    * the top-[[UnigramVocab]] by (weight DESC, piece) plus ALL single
    * characters (coverage — the DP can never get stuck); piece cost is
    * the integer surrogate above.
    *
    * The DP minimizes `Σ(cost·1024 + 1)` per piece — ONE additive
    * shortest path whose integer encoding is lexicographic
    * (total cost, then piece count) for paths under 1024 pieces, so
    * min-cost ties resolve to fewest pieces deterministically, with no
    * backtrack needed for the report's counts.
    *
    * == Scale shape ==
    * Word counting is one keyed agg; candidates explode on the DISTINCT
    * word domain; the vocab is a bounded driver artifact (V + charset
    * costs — the collected-codebook class) interpolated into ONE narrow
    * `aggregate` fold that runs the whole DP per word in ≤ len steps ×
    * maxPiece probes; per-source totals ride the (source, word) counts.
    *
    * == Cross-engine determinism ==
    * All integers until the final fertility ratio (identical IEEE
    * division). The twin derives the SAME vocab in SQL and unrolls the
    * DP over positions 1..[[UnigramMaxWordLen]] as chained CTEs
    * (min-aggregation is not allowed in a recursive term — the
    * [[wordpieceOracle]] device, applied per DP layer).
    */
  def unigramReport(docs: DataFrame,
      vocabSize: Int = UnigramVocab,
      maxPiece: Int = UnigramMaxPiece): DataFrame = {
    val wc = docs
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .where(col("word").rlike("^[!-~]+$") &&
        length(col("word")) <= UnigramMaxWordLen)
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    val words = wc.groupBy("word").agg(sum("cnt").as("tf"))
    val cand = words.select(col("tf"), explode(expr(
      s"""flatten(transform(sequence(1, $maxPiece), l ->
         |  CASE WHEN length(word) >= l
         |       THEN transform(sequence(1, length(word) - l + 1),
         |                      i -> substr(word, i, l))
         |       ELSE cast(array() AS array<string>) END))""".stripMargin))
      .as("piece"))
    val wts = cand.groupBy("piece").agg(sum("tf").as("wt"))
    val vocab = wts.orderBy(col("wt").desc, col("piece")).limit(vocabSize)
      .unionByName(wts.where(length(col("piece")) === 1))
      .distinct()
      .collect()
      .map(r => r.getString(0) -> (UnigramCostScale / (r.getLong(1) + 1L)))
    require(vocab.nonEmpty, "unigramReport: empty candidate vocab")
    val mapLit = vocab.sortBy(_._1)
      .map { case (p, c) => s"'${p.replace("'", "''")}', ${c}L" }
      .mkString("map(", ", ", ")")
    // Viterbi as ONE fold: state = dp array (1-based; dp[j] at index
    // j+1), each step appends dp[i] = min over piece lengths of
    // dp[i−l] + cost·1024 + 1; absent pieces lookup to NULL and
    // array_min skips them; single-char coverage keeps dp[i] non-null
    val dpExpr =
      s"""aggregate(
         |  sequence(1, length(word)),
         |  array(0L),
         |  (st, i) -> concat(st, array(array_min(
         |    transform(sequence(1, least($maxPiece, i)),
         |      l -> element_at(st, i - l + 1) +
         |           try_element_at($mapLit,
         |             substr(word, i - l + 1, l)) * 1024L + 1L)))),
         |  st -> element_at(st, length(word) + 1))""".stripMargin
    val seg = words.select(col("word"), expr(dpExpr).as("d"))
      .select(col("word"), expr("d div 1024").as("min_cost"),
        (col("d") % 1024).as("n_pieces"))
    wc.join(seg, Seq("word"))
      .groupBy("source")
      .agg(sum("cnt").as("n_words"),
        sum(col("cnt") * col("n_pieces")).as("n_tokens"),
        sum(col("cnt") * col("min_cost")).as("total_cost"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        col("total_cost"),
        (col("n_tokens").cast("double") / col("n_words"))
          .as("pieces_per_word"))
  }

  /** [[unigramReport]]'s DuckDB twin: same vocab induction, the DP
    * unrolled over positions as chained min-CTEs (one UNION-ALL arm per
    * piece length), finals collected at each word's own length.
    */
  private def unigramOracle(vocabSize: Int = UnigramVocab,
      maxPiece: Int = UnigramMaxPiece): String = {
    val steps = (1 to UnigramMaxWordLen).map { i =>
      val arms = (1 to math.min(maxPiece, i)).map { l =>
        s"""    SELECT x.word, x.d + vc.cost * 1024 + 1 AS v
           |    FROM d${i - l} x JOIN vc
           |      ON length(x.word) >= $i
           |     AND vc.piece = substr(x.word, ${i - l + 1}, $l)"""
          .stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""d$i AS MATERIALIZED (
         |  SELECT word, min(v) AS d FROM (
         |$arms) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to UnigramMaxWordLen).map { i =>
      s"  SELECT word, d FROM d$i WHERE length(word) = $i"
    }.mkString("\n  UNION ALL\n")
    s"""WITH wc AS MATERIALIZED (
       |  SELECT source, tok AS word, count(*) AS cnt
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
       |        FROM documents)
       |  WHERE regexp_matches(tok, '^[!-~]+$$')
       |    AND length(tok) <= $UnigramMaxWordLen
       |  GROUP BY 1, 2),
       |w AS MATERIALIZED (
       |  SELECT word, CAST(sum(cnt) AS BIGINT) AS tf FROM wc GROUP BY 1),
       |cand AS (
       |  SELECT unnest(flatten([[substr(word, i, l)
       |             for i in range(1, length(word) - l + 2)]
       |             for l in range(1, ${maxPiece + 1})])) AS piece, tf
       |  FROM w),
       |wts AS MATERIALIZED (
       |  SELECT piece, CAST(sum(tf) AS BIGINT) AS wt FROM cand
       |  GROUP BY 1),
       |vocab AS MATERIALIZED (
       |  SELECT DISTINCT piece, wt FROM (
       |    (SELECT piece, wt FROM wts ORDER BY wt DESC, piece
       |     LIMIT $vocabSize)
       |    UNION ALL
       |    SELECT piece, wt FROM wts WHERE length(piece) = 1)),
       |vc AS MATERIALIZED (
       |  SELECT piece, $UnigramCostScale // (wt + 1) AS cost FROM vocab),
       |d0 AS (SELECT word, CAST(0 AS BIGINT) AS d FROM w),
       |$steps,
       |fin AS (
       |$finals),
       |seg AS (SELECT word, d // 1024 AS min_cost, d % 1024 AS n_pieces
       |        FROM fin)
       |SELECT wc.source,
       |       CAST(sum(wc.cnt) AS BIGINT) AS n_words,
       |       CAST(sum(wc.cnt * seg.n_pieces) AS BIGINT) AS n_tokens,
       |       CAST(sum(wc.cnt * seg.min_cost) AS BIGINT) AS total_cost,
       |       CAST(CAST(sum(wc.cnt * seg.n_pieces) AS BIGINT) AS DOUBLE)
       |         / CAST(sum(wc.cnt) AS BIGINT) AS pieces_per_word
       |FROM wc JOIN seg ON wc.word = seg.word
       |GROUP BY 1""".stripMargin
  }

  /** [[bpeTrain]]'s DuckDB twin: the k merge rounds unrolled as CTE
    * stages (pair-count → top-1 → literal replace), MATERIALIZED so each
    * stage's token table computes once instead of inlining exponentially.
    */
  private def bpeOracle(k: Int): String = {
    val stages = (1 to k).map { m =>
      val rewrite =
        if (m == k) "" // b_k is the last output; t_k never needed
        else
          s""",
             |t$m AS MATERIALIZED (
             |  SELECT replace(s,
             |           chr(31) || replace((SELECT pair FROM b$m), ' ', chr(31)),
             |           chr(31) || replace((SELECT pair FROM b$m), ' ', '')) AS s,
             |         cnt
             |  FROM t${m - 1})""".stripMargin
      s"""p$m AS (
         |  SELECT unnest([syms[i] || ' ' || syms[i+1]
         |                 for i in range(2, len(syms))]) AS pair, cnt
         |  FROM (SELECT string_split(s, chr(31)) AS syms, cnt
         |        FROM t${m - 1})
         |  WHERE len(syms) >= 3),
         |b$m AS MATERIALIZED (
         |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS cnt FROM p$m GROUP BY 1
         |  ORDER BY cnt DESC, pair LIMIT 1)$rewrite""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map { m =>
      s"SELECT CAST($m AS BIGINT) AS rnk, pair, " +
        s"replace(pair, ' ', '') AS merged, cnt FROM b$m"
    }.mkString("\nUNION ALL\n")
    s"""WITH t0 AS MATERIALIZED (
       |  SELECT regexp_replace(tok, '(.)', chr(31) || '\\1', 'g') AS s, cnt
       |  FROM (SELECT tok, count(*) AS cnt
       |        FROM (SELECT unnest(string_split(text, ' ')) AS tok
       |              FROM documents)
       |        WHERE regexp_matches(tok, '^[!-~]+$$')
       |        GROUP BY 1)),
       |$stages
       |$union""".stripMargin
  }

  /** Corpus-frequency floor for [[bigramCoverage]]'s "known bigram"
    * table (the n-gram LM convention: pairs below it are noise).
    */
  val BigramMinCount = 5L

  /** Per-document bigram LM-coverage: the fraction of a document's
    * adjacent token pairs that appear ≥ [[BigramMinCount]] times in the
    * whole corpus — the exact-arithmetic stand-in for "LM perplexity as
    * a quality signal" (a doc whose transitions the corpus n-gram model
    * has never seen is OOD/noise; fluent boilerplate scores high).
    * KenLM-style filtering computes a float log-prob; this keeps the
    * SAME ranking signal in pure integer counts, so it is
    * hash-verifiable.
    *
    * Scale shape: one explode to the (doc, bigram) stream, ONE corpus
    * count keyed by bigram (vocabulary-bounded output, partial
    * map-side combine), and one keyed join of the doc stream back to
    * the frequent-pair table — all hash-partitioned on the bigram, no
    * windows, no driver state. Coverage is one exact-int IEEE division.
    */
  def bigramCoverage(docs: DataFrame, minCount: Long = BigramMinCount): DataFrame = {
    // bigram OCCURRENCES as 64-bit xxhash64(tok, tok) ids — no
    // concatenated-string build in the explode, and the corpus count +
    // coverage join shuffle 8-byte longs instead of ~25-byte strings
    // (the [[graft.ext.Dedup.ngramIds]] trick; tokens are space-free so
    // the id partition matches the string bigrams', collisions
    // negligible — measured 4.5 s -> 0.6 s at sf0.1 on what was the
    // corpus-heaviest text query)
    val pairs = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) < 2 THEN array()
          |ELSE transform(sequence(1, size(toks) - 1),
          |     i -> xxhash64(element_at(toks, CAST(i AS INT)),
          |                   element_at(toks, CAST(i AS INT) + 1))) END"""
          .stripMargin)).as("bg"))
    val frequent = pairs.groupBy("bg").agg(count(lit(1)).as("n_corpus"))
      .filter(col("n_corpus") >= minCount)
    pairs.join(frequent, Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("n_corpus").isNotNull, 1L).otherwise(0L))
          .as("n_covered"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Absolute discount of [[knSmoothedBigrams]] (the standard 0.75 —
    * exactly representable in binary, so the discount subtraction is one
    * exact IEEE op on both engines).
    */
  val KnDiscount = 0.75

  /** Bigrams reported by [[knSmoothedBigrams]]. */
  val KnTopK = 100

  /** Interpolated Kneser–Ney smoothed bigram probabilities — the n-gram
    * LM estimator (Chen & Goodman 1998) a corpus pipeline trains for
    * perplexity-based quality filtering. For each observed bigram
    * (w1,w2):
    *
    *   P_kn(w2|w1) = max(c12 − D, 0)/c1
    *               + (D · N1+(w1·)/c1) · (N1+(·w2)/T)
    *
    * with c1 the left-context total, N1+(w1·)/N1+(·w2) the distinct
    * right/left continuation counts, T the total bigram type count, and
    * D = [[KnDiscount]]. Reported: the [[KnTopK]] most frequent bigrams
    * (ties on the words — a deterministic cut) with every integer
    * component plus the smoothed probability.
    *
    * Scale shape: one explode to the bigram stream, then every aggregate
    * is keyed on the VOCABULARY (bigram types, left words, right words —
    * all map-side combined, output bounded by vocab not corpus); the
    * 1-row type count joins back as a broadcast scalar; the top-k cut is
    * TakeOrdered, no global sort. The probability is a fixed float DAG
    * over exact integers, spelled identically in the DuckDB twin.
    */
  def knSmoothedBigrams(docs: DataFrame, k: Int = KnTopK): DataFrame = {
    val pairs = docs.select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |          i -> struct(toks[i-1] AS w1, toks[i] AS w2))"""
          .stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    // the bigram-type table is vocab²-bounded — materialize it once so
    // the three derived aggregates (left totals, right continuation
    // counts, type count) reuse it instead of each re-scanning the
    // corpus-sized bigram stream (plan audit: 4 corpus scans → 1)
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val left = big.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n_fwd"))
    val right = big.groupBy("w2").agg(count(lit(1)).as("n_bwd"))
    val types = big.agg(count(lit(1)).as("t_types"))
    big.join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("n_fwd"),
        col("n_bwd"), col("t_types"),
        (greatest(col("c12").cast("double") - lit(KnDiscount), lit(0.0)) /
          col("c1").cast("double") +
          ((lit(KnDiscount) * col("n_fwd").cast("double")) /
            col("c1").cast("double")) *
            (col("n_bwd").cast("double") / col("t_types").cast("double")))
          .as("p_kn"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Reference source [[lmDocScores]] trains its bigram LM on — the
    * same `src0` target-slice convention as DSIR relevance
    * ([[graft.ext.Curation]]): the model sees ONE domain and every
    * document is scored against it.
    */
  val LmRefSource = "src0"

  /** Per-bigram transition stream carrying both the doc and source keys
    * — shared by [[lmDocScores]] (per-doc scoring) and [[doremiMix]]
    * (per-source reweighting).
    */
  private def bigramStream(df: DataFrame): DataFrame = df
    .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
    .filter(size(col("toks")) >= 2)
    .select(col("doc_id"), col("source"), explode(expr(
      """transform(sequence(1, size(toks) - 1),
        |          i -> struct(toks[i-1] AS w1, toks[i] AS w2))"""
        .stripMargin)).as("p"))
    .select(col("doc_id"), col("source"),
      col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** The interpolated Kneser–Ney bigram table trained on the reference
    * slice only ([[knSmoothedBigrams]]' estimator, full vocabulary) —
    * the model both [[lmDocScores]] and [[doremiMix]] score against.
    * Vocabulary-bounded keyed aggs over the (small) reference slice.
    */
  private[graft] def refPknTable(docs: DataFrame,
      refSource: String = LmRefSource): DataFrame = {
    val big = bigramStream(docs.filter(col("source") === refSource))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val left = big.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n_fwd"))
    val right = big.groupBy("w2").agg(count(lit(1)).as("n_bwd"))
    val types = big.agg(count(lit(1)).as("t_types"))
    big.join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"),
        (greatest(col("c12").cast("double") - lit(KnDiscount), lit(0.0)) /
          col("c1").cast("double") +
          ((lit(KnDiscount) * col("n_fwd").cast("double")) /
            col("c1").cast("double")) *
            (col("n_bwd").cast("double") / col("t_types").cast("double")))
          .as("p_kn"))
  }

  /** CCNet-style LM quality scoring (Wenzek et al. 2020): train the
    * interpolated Kneser–Ney bigram model ([[knSmoothedBigrams]]'
    * estimator, full vocabulary) on the REFERENCE slice only, then
    * score every document's transitions against it — per doc: bigram
    * count, how many the reference model knows, the OOV rate, and the
    * MEAN smoothed probability of the known transitions. In-domain
    * documents score high-mean/zero-OOV; out-of-domain and noise
    * score low — the ranking CCNet derives from perplexity.
    *
    * Instead of `exp(−mean log p)` (a libm log/exp whose rounding
    * differs across engines — the [[graft.ext.TextAnalysis]] BM25/PMI
    * precedent), the score is the nano-quantized integer MEAN of the
    * p_kn values: every per-bigram probability is the same fixed float
    * DAG as the lm_kneser_ney oracle, `floor(p·10⁹)` is exact, the sum
    * is an order-independent integer, and the truncated-mean division
    * is one portable integer op — so the whole scorer hash-matches.
    *
    * Scale shape: the model tables are VOCABULARY-bounded keyed aggs
    * over the (small) reference slice; scoring is one keyed join of
    * the corpus bigram stream against the broadcast-scale p_kn table
    * plus one per-doc agg — no windows, no driver state.
    */
  def lmDocScores(docs: DataFrame,
      refSource: String = LmRefSource): DataFrame = {
    val pkn = refPknTable(docs, refSource)
    val scored = bigramStream(docs).join(pkn, Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("p_kn").isNotNull, 1L).otherwise(0L)).as("n_known"),
        sum(when(col("p_kn").isNotNull,
            floor(col("p_kn") * lit(1000000000.0)).cast("long"))
          .otherwise(0L)).as("sum_nano"))
    docs.select(col("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        coalesce(col("sum_nano"), lit(0L)).as("sum_nano"))
      .select(col("doc_id"), col("n_bigrams"), col("n_known"),
        (col("n_bigrams") - col("n_known")).as("n_oov"),
        when(col("n_bigrams") > 0,
          (col("n_bigrams") - col("n_known")).cast("double") /
            col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)).as("oov_rate"),
        (expr("sum_nano div greatest(n_known, 1L)").cast("double") /
          lit(1000000000.0)).as("mean_pkn"))
  }

  /** N-gram orders profiled by [[distinctNgramProfile]] (distinct-1/2/3
    * — the configuration diversity reports conventionally use).
    */
  val DistinctNs = Seq(1, 2, 3)

  /** Distinct-n DIVERSITY profile per source (Li et al. 2016's
    * distinct-n, the standard repetition/mode-collapse gate a synthetic
    * -data pipeline runs before admitting a generator's output): for
    * each source and n ∈ [[DistinctNs]], the total n-gram count, the
    * distinct n-gram count, and their ratio — low distinct-n flags a
    * source that repeats itself.
    *
    * Scale shape: totals come map-side from token counts (no n-gram
    * materialization); the distinct counts are ONE keyed aggregation
    * over the tagged n-gram stream — map-side combined on
    * (source, n, ngram), output bounded by |vocab|·|sources|, then
    * reduced to the 3·n_sources profile. n-grams travel as xxhash64
    * ids (8-byte longs, same bijectivity argument as
    * [[graft.ext.Dedup.ngramIds]]); ratios are per-row IEEE divisions
    * of exact longs.
    */
  def distinctNgramProfile(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), split(col("text"), " ").as("toks"))
    val tAggs = DistinctNs.map(n =>
      sum(greatest(size(col("toks")) - lit(n - 1), lit(0))
        .cast("long")).as(s"t$n"))
    val totals = toks.groupBy("source")
      .agg(tAggs.head, tAggs.tail: _*)
      .select(col("source"), explode(array(DistinctNs.map(n =>
        struct(lit(n).as("n"), col(s"t$n").as("total_ngrams"))): _*))
        .as("p"))
      .select(col("source"), col("p.n").as("n"),
        col("p.total_ngrams").as("total_ngrams"))
    def gramStream(n: Int): DataFrame = {
      val hashArgs = (0 until n)
        .map(j => s"element_at(toks, CAST(i AS INT) + $j)")
        .mkString(", ")
      toks.select(col("source"), lit(n).as("n"), explode(expr(
        s"""CASE WHEN size(toks) < $n THEN array()
           |ELSE transform(sequence(1, size(toks) - ${n - 1}),
           |               i -> xxhash64($hashArgs)) END"""
          .stripMargin)).as("ngram"))
    }
    val distincts = DistinctNs.map(gramStream).reduce(_ unionByName _)
      .groupBy("source", "n", "ngram").agg(count(lit(1)).as("c"))
      .groupBy("source", "n").agg(count(lit(1)).as("distinct_ngrams"))
    totals.join(distincts, Seq("source", "n"))
      .select(col("source"), col("n"), col("total_ngrams"),
        col("distinct_ngrams"),
        when(col("total_ngrams") > 0,
          col("distinct_ngrams").cast("double") /
            col("total_ngrams").cast("double"))
          .otherwise(lit(0.0)).as("distinct_ratio"))
  }

  /** Number of CCNet quality buckets (head / middle / tail). */
  val CcnetBuckets = 3L

  /** CCNet's defining OUTPUT table (Wenzek et al. 2020): every document
    * bucketed head / middle / tail by its LM score WITHIN its source —
    * the per-domain tercile cut the original pipeline ships so
    * consumers can train on "head only" or "head + middle". Scores are
    * [[lmDocScores]]' nano-quantized mean transition probabilities.
    *
    * The cut NEVER ranks the corpus: scores collapse to a bounded
    * permille key (`floor(mean_pkn·1000)` ∈ [0, 1000]), per-source
    * tercile boundaries come from cumulative counts over that tiny
    * VALUE DOMAIN (the [[graft.ext.Curation.curriculumPlan]] split
    * arithmetic, descending so bucket 0 = best), and docs get their
    * bucket back through a broadcast join — one scan, one doc-keyed
    * shuffle, no global window over docs. Ties within a permille key
    * share a bucket by construction (deterministic on both engines).
    */
  def ccnetBuckets(docs: DataFrame,
      refSource: String = LmRefSource): DataFrame = {
    val scored = lmDocScores(docs, refSource)
      .select(col("doc_id"), col("mean_pkn"), col("oov_rate"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .withColumn("pm",
        expr("CAST(floor(mean_pkn * 1000.0) AS BIGINT)"))
    val perKey = scored.groupBy("source", "pm")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("source").orderBy(col("pm").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("source")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bucketOf = perKey
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("n_total", sum(col("n")).over(wAll))
      .select(col("source"), col("pm"),
        expr(s"((cum - n) * $CcnetBuckets) div n_total").as("bucket_i"))
    scored.join(broadcast(bucketOf), Seq("source", "pm"))
      .select(col("doc_id"), col("source"), col("mean_pkn"),
        col("oov_rate"), col("pm"), col("bucket_i"),
        when(col("bucket_i") === 0, "head")
          .when(col("bucket_i") === 1, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** DoReMi-FLAVORED one-shot domain reweighting (Xie et al. 2023's
    * motivation without the exponentiated-gradient loop): score every
    * source's transitions against the reference-slice LM
    * ([[refPknTable]]), and up-weight sources whose mean transition
    * probability EXCEEDS the corpus-wide mean — the domains that look
    * most like the reference get proportionally more sampling mass,
    * everything else keeps its document share. Per source: the doc and
    * bigram tallies, the mean/baseline scores, the micro-unit excess,
    * the resulting integer weight `n_docs · (10⁶ + excess_micro)` and
    * both share columns a sampler consumes.
    *
    * All decision arithmetic is exact-integer ([[lmDocScores]]' nano-
    * quantized probabilities, truncated-mean divisions, a long weight
    * product); only the reported share/mean columns divide to double,
    * each one per-row IEEE DAG the twin replays. Headroom: nano sums
    * stay exact to ~9.2e9 known transitions per source — a 100 TB run
    * drops to micro quantization for 1000× more, the
    * [[tokenBudgetPlan]] convention.
    *
    * Scale shape: one transition scan joined against the broadcast-
    * scale pkn table, keyed aggs onto the ≤n_sources domain, single-row
    * broadcast baselines — metadata-sized from there.
    */
  def doremiMix(docs: DataFrame,
      refSource: String = LmRefSource): DataFrame = {
    val pkn = refPknTable(docs, refSource)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val scored = bigramStream(docs)
      .join(pkn, Seq("w1", "w2"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("p_kn").isNotNull, 1L).otherwise(0L)).as("n_known"),
        sum(when(col("p_kn").isNotNull,
            floor(col("p_kn") * lit(1000000000.0)).cast("long"))
          .otherwise(0L)).as("sum_nano"))
    val bySrc = counts
      .join(scored, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        coalesce(col("sum_nano"), lit(0L)).as("sum_nano"))
      .withColumn("mean_nano",
        expr("sum_nano div greatest(n_known, 1L)"))
      .localCheckpoint(true)
    val base = broadcast(bySrc
      .agg(sum("sum_nano").as("g_nano"), sum("n_known").as("g_known"))
      .select(expr("g_nano div greatest(g_known, 1L)").as("base_nano")))
    val weighted = bySrc.crossJoin(base)
      .withColumn("excess_micro",
        expr("greatest(mean_nano - base_nano, 0L) div 1000"))
      .withColumn("w_micro",
        col("n_docs") * (lit(1000000L) + col("excess_micro")))
    val tot = broadcast(weighted
      .agg(sum("n_docs").as("t_docs"), sum("w_micro").as("t_w")))
    weighted.crossJoin(tot)
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("n_known"),
        (col("mean_nano").cast("double") / lit(1000000000.0))
          .as("mean_pkn"),
        (col("base_nano").cast("double") / lit(1000000000.0))
          .as("base_pkn"),
        col("excess_micro"), col("w_micro"),
        (col("n_docs").cast("double") / col("t_docs").cast("double"))
          .as("doc_share"),
        (col("w_micro").cast("double") / col("t_w").cast("double"))
          .as("weight_share"))
  }

  /** Trigram interpolated Kneser–Ney — the full RECURSIVE formulation
    * (Chen & Goodman 1998), not a one-level shortcut: the trigram
    * estimate backs off into a bigram CONTINUATION distribution built
    * from type counts, which itself backs off into the unigram
    * continuation:
    *
    *   P(w3|w1w2) = max(c123−D,0)/c12 + (D·N1+(w1w2·)/c12) · P_c(w3|w2)
    *   P_c(w3|w2) = max(N1+(·w2w3)−D,0)/N1+(·w2·)
    *              + (D·N1+(w2·*)/N1+(·w2·)) · (N1+(··w3)/T2)
    *
    * where every N1+ is a distinct-type count over the trigram table and
    * T2 the continuation-bigram type total. Reported: the [[KnTopK]]
    * most frequent trigrams with every integer component plus the
    * smoothed probability (one fixed float DAG over exact integers,
    * spelled identically in the DuckDB twin).
    *
    * Scale shape: one explode to the trigram stream, then every
    * aggregate is keyed on VOCABULARY tuples (trigram/bigram/unigram
    * types — map-side combined, output bounded by vocab not corpus); the
    * scalar type total broadcasts; the cut is TakeOrdered.
    */
  def knSmoothedTrigrams(docs: DataFrame, k: Int = KnTopK): DataFrame = {
    val tri = docs.select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |          i -> struct(toks[i-1] AS w1, toks[i] AS w2,
          |                      toks[i+1] AS w3))""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"),
        col("p.w3").as("w3"))
    val big3 = tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
      .localCheckpoint(true)
    val left12 = big3.groupBy("w1", "w2")
      .agg(sum("c123").as("c12"), count(lit(1)).as("n_fwd12"))
    val contBi = big3.groupBy("w2", "w3").agg(count(lit(1)).as("n_bwd23"))
      .localCheckpoint(true)
    val mid = contBi.groupBy("w2")
      .agg(sum("n_bwd23").as("n_mid"), count(lit(1)).as("n_fwd2c"))
    val uni = contBi.groupBy("w3").agg(count(lit(1)).as("n_bwd3"))
    val t2 = contBi.agg(count(lit(1)).as("t2"))
    val pCont =
      greatest(col("n_bwd23").cast("double") - lit(KnDiscount), lit(0.0)) /
        col("n_mid").cast("double") +
        ((lit(KnDiscount) * col("n_fwd2c").cast("double")) /
          col("n_mid").cast("double")) *
          (col("n_bwd3").cast("double") / col("t2").cast("double"))
    big3.join(left12, Seq("w1", "w2")).join(contBi, Seq("w2", "w3"))
      .join(mid, Seq("w2")).join(uni, Seq("w3"))
      .crossJoin(broadcast(t2))
      .select(col("w1"), col("w2"), col("w3"), col("c123"), col("c12"),
        col("n_fwd12"), col("n_bwd23"), col("n_mid"), col("n_fwd2c"),
        col("n_bwd3"), col("t2"),
        (greatest(col("c123").cast("double") - lit(KnDiscount), lit(0.0)) /
          col("c12").cast("double") +
          ((lit(KnDiscount) * col("n_fwd12").cast("double")) /
            col("c12").cast("double")) * pCont).as("p_kn3"))
      .orderBy(col("c123").desc, col("w1"), col("w2"), col("w3"))
      .limit(k)
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lm_kneser_ney" -> ((s, d) => knSmoothedBigrams(Tables.documents(s, d))),
    "lm_doc_scores" -> ((s, d) => lmDocScores(Tables.documents(s, d))),
    "lm_kneser_ney3" -> ((s, d) =>
      knSmoothedTrigrams(Tables.documents(s, d))),
    "corpus_bigram_coverage" -> ((s, d) =>
      bigramCoverage(Tables.documents(s, d))),
    "bpe_train" -> ((s, d) => bpeTrain(Tables.documents(s, d))),
    "bpe_apply" -> ((s, d) => bpeApply(Tables.documents(s, d))),
    "bpe_pairs" -> ((s, d) => bpePairCounts(Tables.documents(s, d))),
    "tok_wordpiece" -> ((s, d) => wordpieceReport(Tables.documents(s, d))),
    "tok_unigram" -> ((s, d) => unigramReport(Tables.documents(s, d))),
    "text_normalize" -> ((s, d) => normalizeStats(Tables.documents(s, d))),
    "mix_temperature" -> ((s, d) => temperatureMix(Tables.documents(s, d))),
    "corpus_source_mix" -> ((s, d) => sourceMix(Tables.documents(s, d))),
    "corpus_line_dedup" -> ((s, d) => dedupLines(Tables.documents(s, d))),
    "text_chunks"  -> ((s, d) => chunkDocuments(Tables.documents(s, d))),
    "shard_assign" -> ((s, d) => shardAssign(Tables.documents(s, d))),
    "text_dup_ngram_frac" -> ((s, d) =>
      dupNgramFraction(Tables.documents(s, d))),
    "text_dup_spans" -> ((s, d) => dupSpans(Tables.documents(s, d))),
    "corpus_despan" -> ((s, d) => despanDocuments(Tables.documents(s, d))),
    "mix_token_budget" -> ((s, d) => tokenBudgetPlan(Tables.documents(s, d))),
    "mix_doremi" -> ((s, d) => doremiMix(Tables.documents(s, d))),
    "corpus_distinct_n" -> ((s, d) =>
      distinctNgramProfile(Tables.documents(s, d))),
    "quality_ccnet_buckets" -> ((s, d) =>
      ccnetBuckets(Tables.documents(s, d))),
  )

  /** Shared CTEs of the `lm_doc_scores` and `mix_doremi` twins: the
    * tokenized corpus `d` and the reference-slice Kneser–Ney table
    * `pkn` ([[refPknTable]]'s SQL spelling) — factored so the two
    * scorers can never drift.
    */
  private def duckRefPknCtes: String =
    s"""d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents),
       |rp AS (
       |  SELECT toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i
       |        FROM d WHERE source = '$LmRefSource'
       |          AND len(toks) >= 2)),
       |big AS (SELECT w1, w2, count(*) AS c12 FROM rp GROUP BY 1, 2),
       |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
       |             count(*) AS n_fwd
       |      FROM big GROUP BY 1),
       |r AS (SELECT w2, count(*) AS n_bwd FROM big GROUP BY 1),
       |t AS (SELECT count(*) AS t_types FROM big),
       |pkn AS (
       |  SELECT w1, w2,
       |         greatest(CAST(c12 AS DOUBLE) - $KnDiscount, 0.0)
       |           / CAST(c1 AS DOUBLE)
       |         + (($KnDiscount * CAST(n_fwd AS DOUBLE))
       |            / CAST(c1 AS DOUBLE))
       |           * (CAST(n_bwd AS DOUBLE) / CAST(t_types AS DOUBLE))
       |           AS p_kn
       |  FROM big JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t)"""
      .stripMargin

  /** DuckDB twins of [[queries]]. */
  def oracleSql: Map[String, String] = Map(
    "tok_wordpiece" -> wordpieceOracle(),
    "tok_unigram" -> unigramOracle(),
    // the CCNet bucket twin: the lm_doc_scores scoring CTEs, then the
    // permille value-domain cumulative cut per source (descending, so
    // bucket 0 = head) replayed with the identical integer arithmetic
    "quality_ccnet_buckets" ->
      s"""WITH $duckRefPknCtes,
         |ap AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |        FROM d WHERE len(toks) >= 2)),
         |sc AS (
         |  SELECT ap.doc_id, count(*) AS n_bigrams,
         |         CAST(sum(CASE WHEN p.p_kn IS NULL THEN 0 ELSE 1 END)
         |              AS BIGINT) AS n_known,
         |         CAST(sum(CASE WHEN p.p_kn IS NULL THEN 0
         |                       ELSE CAST(floor(p.p_kn * 1000000000.0)
         |                                 AS BIGINT) END)
         |              AS BIGINT) AS sum_nano
         |  FROM ap LEFT JOIN pkn p USING (w1, w2) GROUP BY 1),
         |scored AS (
         |  SELECT dd.doc_id, dd.source,
         |         CAST(coalesce(sc.sum_nano, 0)
         |              // greatest(coalesce(sc.n_known, 0), 1) AS DOUBLE)
         |           / 1000000000.0 AS mean_pkn,
         |         CASE WHEN coalesce(sc.n_bigrams, 0) > 0
         |              THEN CAST(coalesce(sc.n_bigrams, 0)
         |                        - coalesce(sc.n_known, 0) AS DOUBLE)
         |                   / CAST(sc.n_bigrams AS DOUBLE)
         |              ELSE 0.0 END AS oov_rate
         |  FROM documents dd LEFT JOIN sc ON dd.doc_id = sc.doc_id),
         |sk AS (
         |  SELECT *, CAST(floor(mean_pkn * 1000.0) AS BIGINT) AS pm
         |  FROM scored),
         |perkey AS (SELECT source, pm, count(*) AS n FROM sk
         |           GROUP BY 1, 2),
         |cuts AS (
         |  SELECT source, pm,
         |         CAST(((sum(n) OVER (PARTITION BY source
         |                             ORDER BY pm DESC
         |                             ROWS UNBOUNDED PRECEDING) - n)
         |               * $CcnetBuckets)
         |              // sum(n) OVER (PARTITION BY source) AS BIGINT)
         |           AS bucket_i
         |  FROM perkey)
         |SELECT sk.doc_id, sk.source, sk.mean_pkn, sk.oov_rate, sk.pm,
         |       cuts.bucket_i,
         |       CASE cuts.bucket_i WHEN 0 THEN 'head'
         |            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM sk JOIN cuts USING (source, pm)""".stripMargin,
    "corpus_distinct_n" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS toks
        |           FROM documents),
        |tot AS (
        |  SELECT source, n,
        |         CAST(sum(greatest(len(toks) - n + 1, 0)) AS BIGINT)
        |           AS total_ngrams
        |  FROM d CROSS JOIN (SELECT unnest([1, 2, 3]) AS n)
        |  GROUP BY 1, 2),
        |g AS (
        |  SELECT source, 1 AS n, unnest(toks) AS ngram FROM d
        |  UNION ALL
        |  SELECT source, 2,
        |         unnest([array_to_string(toks[i:i+1], ' ')
        |                 for i in range(1, len(toks))]) FROM d
        |  UNION ALL
        |  SELECT source, 3,
        |         unnest([array_to_string(toks[i:i+2], ' ')
        |                 for i in range(1, len(toks)-1)]) FROM d),
        |dist AS (SELECT source, n, count(DISTINCT ngram)
        |           AS distinct_ngrams
        |         FROM g GROUP BY 1, 2)
        |SELECT tot.source, CAST(tot.n AS INT) AS n, tot.total_ngrams,
        |       dist.distinct_ngrams,
        |       CASE WHEN tot.total_ngrams > 0
        |            THEN CAST(dist.distinct_ngrams AS DOUBLE)
        |                 / CAST(tot.total_ngrams AS DOUBLE)
        |            ELSE 0.0 END AS distinct_ratio
        |FROM tot JOIN dist USING (source, n)""".stripMargin,
    "mix_doremi" ->
      s"""WITH $duckRefPknCtes,
         |ap AS (
         |  SELECT source, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i
         |        FROM d WHERE len(toks) >= 2)),
         |sc AS (
         |  SELECT source, count(*) AS n_bigrams,
         |         CAST(sum(CASE WHEN p.p_kn IS NULL THEN 0 ELSE 1 END)
         |              AS BIGINT) AS n_known,
         |         CAST(sum(CASE WHEN p.p_kn IS NULL THEN 0
         |                       ELSE CAST(floor(p.p_kn * 1000000000.0)
         |                                 AS BIGINT) END)
         |              AS BIGINT) AS sum_nano
         |  FROM ap LEFT JOIN pkn p USING (w1, w2) GROUP BY 1),
         |cnt AS (SELECT source, count(*) AS n_docs FROM documents
         |        GROUP BY 1),
         |bysrc AS (
         |  SELECT cnt.source, cnt.n_docs,
         |         coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |         coalesce(sc.n_known, 0) AS n_known,
         |         coalesce(sc.sum_nano, 0) AS sum_nano,
         |         coalesce(sc.sum_nano, 0)
         |           // greatest(coalesce(sc.n_known, 0), 1) AS mean_nano
         |  FROM cnt LEFT JOIN sc ON cnt.source = sc.source),
         |base AS (
         |  SELECT CAST(sum(sum_nano) AS BIGINT)
         |           // greatest(CAST(sum(n_known) AS BIGINT), 1)
         |           AS base_nano
         |  FROM bysrc),
         |wtd AS (
         |  SELECT b.*, base.base_nano,
         |         greatest(b.mean_nano - base.base_nano, 0) // 1000
         |           AS excess_micro,
         |         b.n_docs * (1000000 +
         |           greatest(b.mean_nano - base.base_nano, 0) // 1000)
         |           AS w_micro
         |  FROM bysrc b CROSS JOIN base),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
         |               CAST(sum(w_micro) AS BIGINT) AS t_w FROM wtd)
         |SELECT wtd.source, wtd.n_docs, wtd.n_bigrams, wtd.n_known,
         |       CAST(mean_nano AS DOUBLE) / 1000000000.0 AS mean_pkn,
         |       CAST(base_nano AS DOUBLE) / 1000000000.0 AS base_pkn,
         |       excess_micro, w_micro,
         |       CAST(wtd.n_docs AS DOUBLE) / CAST(tot.t_docs AS DOUBLE)
         |         AS doc_share,
         |       CAST(w_micro AS DOUBLE) / CAST(tot.t_w AS DOUBLE)
         |         AS weight_share
         |FROM wtd CROSS JOIN tot""".stripMargin,
    "lm_kneser_ney3" ->
      s"""WITH d AS (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |ix AS (
         |  SELECT toks, unnest(range(1, len(toks) - 1)) AS i FROM d),
         |p AS (
         |  SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
         |  FROM ix),
         |big3 AS (SELECT w1, w2, w3, count(*) AS c123
         |         FROM p GROUP BY 1, 2, 3),
         |l12 AS (SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
         |               count(*) AS n_fwd12
         |        FROM big3 GROUP BY 1, 2),
         |cb AS (SELECT w2, w3, count(*) AS n_bwd23
         |       FROM big3 GROUP BY 1, 2),
         |mid AS (SELECT w2, CAST(sum(n_bwd23) AS BIGINT) AS n_mid,
         |               count(*) AS n_fwd2c
         |        FROM cb GROUP BY 1),
         |uni AS (SELECT w3, count(*) AS n_bwd3 FROM cb GROUP BY 1),
         |t AS (SELECT count(*) AS t2 FROM cb)
         |SELECT w1, w2, w3, c123, c12, n_fwd12, n_bwd23, n_mid,
         |       n_fwd2c, n_bwd3, t2,
         |       greatest(CAST(c123 AS DOUBLE) - $KnDiscount, 0.0)
         |         / CAST(c12 AS DOUBLE)
         |       + (($KnDiscount * CAST(n_fwd12 AS DOUBLE))
         |          / CAST(c12 AS DOUBLE))
         |         * (greatest(CAST(n_bwd23 AS DOUBLE) - $KnDiscount, 0.0)
         |              / CAST(n_mid AS DOUBLE)
         |            + (($KnDiscount * CAST(n_fwd2c AS DOUBLE))
         |               / CAST(n_mid AS DOUBLE))
         |              * (CAST(n_bwd3 AS DOUBLE) / CAST(t2 AS DOUBLE)))
         |         AS p_kn3
         |FROM big3 JOIN l12 USING (w1, w2) JOIN cb USING (w2, w3)
         |          JOIN mid USING (w2) JOIN uni USING (w3) CROSS JOIN t
         |ORDER BY c123 DESC, w1, w2, w3 LIMIT $KnTopK""".stripMargin,
    "lm_kneser_ney" ->
      s"""WITH d AS (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |ix AS (
         |  SELECT toks, unnest(range(1, len(toks))) AS i FROM d),
         |p AS (
         |  SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM ix),
         |big AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2),
         |l AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |             count(*) AS n_fwd
         |      FROM big GROUP BY 1),
         |r AS (SELECT w2, count(*) AS n_bwd FROM big GROUP BY 1),
         |t AS (SELECT count(*) AS t_types FROM big)
         |SELECT w1, w2, c12, c1, n_fwd, n_bwd, t_types,
         |       greatest(CAST(c12 AS DOUBLE) - $KnDiscount, 0.0)
         |         / CAST(c1 AS DOUBLE)
         |       + (($KnDiscount * CAST(n_fwd AS DOUBLE))
         |          / CAST(c1 AS DOUBLE))
         |         * (CAST(n_bwd AS DOUBLE) / CAST(t_types AS DOUBLE))
         |         AS p_kn
         |FROM big JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
         |ORDER BY c12 DESC, w1, w2 LIMIT $KnTopK""".stripMargin,
    // the reference-trained KN model replayed with the lm_kneser_ney
    // estimator expression, then the doc stream left-joins it and the
    // nano-quantized integer mean replays Spark's truncated division
    "lm_doc_scores" ->
      s"""WITH $duckRefPknCtes,
         |ap AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
         |        FROM d WHERE len(toks) >= 2)),
         |sc AS (
         |  SELECT ap.doc_id, count(*) AS n_bigrams,
         |         CAST(sum(CASE WHEN p.p_kn IS NULL THEN 0 ELSE 1 END)
         |              AS BIGINT) AS n_known,
         |         CAST(sum(CASE WHEN p.p_kn IS NULL THEN 0
         |                       ELSE CAST(floor(p.p_kn * 1000000000.0)
         |                                 AS BIGINT) END)
         |              AS BIGINT) AS sum_nano
         |  FROM ap LEFT JOIN pkn p USING (w1, w2) GROUP BY 1)
         |SELECT dd.doc_id,
         |       coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |       coalesce(sc.n_known, 0) AS n_known,
         |       coalesce(sc.n_bigrams, 0) - coalesce(sc.n_known, 0)
         |         AS n_oov,
         |       CASE WHEN coalesce(sc.n_bigrams, 0) > 0
         |            THEN CAST(coalesce(sc.n_bigrams, 0)
         |                      - coalesce(sc.n_known, 0) AS DOUBLE)
         |                 / CAST(sc.n_bigrams AS DOUBLE)
         |            ELSE 0.0 END AS oov_rate,
         |       CAST(coalesce(sc.sum_nano, 0)
         |            // greatest(coalesce(sc.n_known, 0), 1) AS DOUBLE)
         |         / 1000000000.0 AS mean_pkn
         |FROM documents dd LEFT JOIN sc ON dd.doc_id = sc.doc_id""".stripMargin,
    "corpus_bigram_coverage" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (
        |  SELECT doc_id,
        |         unnest([array_to_string(toks[i:i+1], ' ')
        |                 for i in range(1, len(toks))]) AS bg
        |  FROM d),
        |f AS (SELECT bg, count(*) AS n_corpus FROM p
        |      GROUP BY 1 HAVING count(*) >= 5)
        |SELECT p.doc_id, count(*) AS n_bigrams,
        |       CAST(sum(CASE WHEN f.bg IS NULL THEN 0 ELSE 1 END)
        |            AS BIGINT) AS n_covered,
        |       CAST(CAST(sum(CASE WHEN f.bg IS NULL THEN 0 ELSE 1 END)
        |                 AS BIGINT) AS DOUBLE) /
        |         CAST(count(*) AS DOUBLE) AS coverage
        |FROM p LEFT JOIN f ON p.bg = f.bg
        |GROUP BY 1""".stripMargin,
    "mix_token_budget" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |           AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
        |                 AS BIGINT) AS w_micro
        |  FROM s),
        |t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS t_w FROM w),
        |a AS (
        |  SELECT w.source, w.n_docs, w.n_tokens, w.w_micro,
        |         (1000000 * w.w_micro) // t.t_w AS alloc_tokens
        |  FROM w, t)
        |SELECT source, n_docs, n_tokens, w_micro, alloc_tokens,
        |       (alloc_tokens * 10000) // n_tokens AS epochs_bp
        |FROM a""".stripMargin,
    // gram-width constants interpolated from SpanGram (not hardcoded) so
    // the oracle tracks the registered operator's parameter — the
    // KnDiscount/KnTopK convention
    "corpus_despan" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM d),
        |tp AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p, toks[i] AS tok
        |  FROM (SELECT doc_id, toks,
        |               unnest(range(1, len(toks) + 1)) AS i
        |        FROM d)),
        |pos AS (
        |  SELECT doc_id, p.i AS i, p.gram AS gram FROM (
        |    SELECT doc_id,
        |           unnest([{'i': CAST(i AS BIGINT),
        |                    'gram': array_to_string(
        |                      toks[i:i+${SpanGram - 1}], ' ')}
        |                   for i in range(1, len(toks)-${SpanGram - 2})])
        |             AS p
        |    FROM d WHERE len(toks) >= $SpanGram)),
        |rk AS (
        |  SELECT doc_id, i,
        |         row_number() OVER (PARTITION BY gram
        |                            ORDER BY doc_id, i) AS rn
        |  FROM pos),
        |rem AS (
        |  SELECT DISTINCT doc_id, CAST(pp AS BIGINT) AS p
        |  FROM (SELECT doc_id, unnest(range(i, i + $SpanGram)) AS pp
        |        FROM rk WHERE rn > 1)),
        |kept AS (
        |  SELECT tp.doc_id, tp.p, tp.tok FROM tp
        |  WHERE NOT EXISTS (SELECT 1 FROM rem
        |                    WHERE rem.doc_id = tp.doc_id
        |                      AND rem.p = tp.p)),
        |per AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         md5(string_agg(tok, ' ' ORDER BY p)) AS clean_fp
        |  FROM kept GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens,
        |       b.n_tokens - coalesce(per.n_kept, 0) AS n_removed,
        |       CAST(coalesce(per.n_kept, 0) AS DOUBLE) /
        |         CAST(b.n_tokens AS DOUBLE) AS kept_frac,
        |       coalesce(per.clean_fp, md5('')) AS clean_fp
        |FROM base b LEFT JOIN per USING (doc_id)""".stripMargin,
    "text_dup_spans" ->
      s"""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM d),
        |pos AS (
        |  SELECT doc_id, p.i AS i, p.gram AS gram FROM (
        |    SELECT doc_id,
        |           unnest([{'i': CAST(i AS BIGINT),
        |                    'gram': array_to_string(
        |                      toks[i:i+${SpanGram - 1}], ' ')}
        |                   for i in range(1, len(toks)-${SpanGram - 2})])
        |             AS p
        |    FROM d WHERE len(toks) >= $SpanGram)),
        |freq AS (
        |  SELECT gram FROM pos GROUP BY 1 HAVING count(*) >= 2),
        |dup AS (
        |  SELECT pos.doc_id, pos.i FROM pos JOIN freq USING (gram)),
        |isl AS (
        |  SELECT doc_id, i,
        |         CASE WHEN lag(i) OVER w IS NULL
        |                OR i - lag(i) OVER w > $SpanGram
        |              THEN 1 ELSE 0 END AS brk
        |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |sp AS (
        |  SELECT doc_id, i,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |                        ROWS UNBOUNDED PRECEDING) AS span_id
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, span_id,
        |         max(i) - min(i) + $SpanGram AS span_tokens
        |  FROM sp GROUP BY 1, 2),
        |per AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |         CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens,
        |       coalesce(per.n_spans, 0) AS n_spans,
        |       coalesce(per.dup_tokens, 0) AS dup_tokens,
        |       CAST(coalesce(per.dup_tokens, 0) AS DOUBLE) /
        |         CAST(b.n_tokens AS DOUBLE) AS dup_frac
        |FROM base b LEFT JOIN per USING (doc_id)""".stripMargin,
    "bpe_train" -> bpeOracle(BpeMerges),
    "bpe_apply" -> bpeApplyOracle(BpeMerges),
    "bpe_pairs" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |p AS (
        |  SELECT unnest([substring(tok, i, 2) for i in range(1, len(tok))])
        |           AS pair
        |  FROM t WHERE len(tok) >= 2),
        |c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1)
        |SELECT pair, cnt,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, pair)
        |            AS BIGINT) AS rnk
        |FROM c ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,
    "text_normalize" ->
      """WITH n AS (
        |  SELECT lang, text,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN norm <> text THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_changed,
        |       CAST(sum(length(text)) AS BIGINT) AS chars_before,
        |       CAST(sum(length(norm)) AS BIGINT) AS chars_after,
        |       CAST(CAST(sum(length(norm)) AS BIGINT) AS DOUBLE)
        |         / CAST(sum(length(text)) AS BIGINT) AS shrink_ratio
        |FROM n GROUP BY 1""".stripMargin,
    "mix_temperature" ->
      """WITH w AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0)
        |              AS BIGINT) AS w_micro
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
        |             CAST(sum(w_micro) AS BIGINT) AS t_w FROM w)
        |SELECT w.source, w.n_docs, w.w_micro,
        |       CAST(w.n_docs AS DOUBLE) / t.t_docs AS doc_share,
        |       CAST(w.w_micro AS DOUBLE) / t.t_w AS weight_share
        |FROM w, t""".stripMargin,
    "corpus_source_mix" ->
      """WITH c AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |         CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |           AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS t_chars FROM c)
        |SELECT c.source, c.lang, c.n_docs, c.n_chars, c.n_tokens,
        |       CAST(c.n_docs AS DOUBLE) / t.t_docs AS doc_share,
        |       CAST(c.n_chars AS DOUBLE) / t.t_chars AS char_share
        |FROM c, t""".stripMargin,
    "corpus_line_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, toks, n,
        |         CASE WHEN n <= 16 THEN 1
        |              ELSE CAST(ceil((n - 16) / 16.0) AS BIGINT) + 1
        |         END AS nlines
        |  FROM t),
        |lines AS (
        |  SELECT doc_id, j AS line_id,
        |         array_to_string(toks[(1 + j * 16):(j * 16 + 16)], ' ')
        |           AS line
        |  FROM m, LATERAL (SELECT unnest(generate_series(0, nlines - 1))
        |                     AS j) u),
        |ranked AS (
        |  SELECT doc_id, line_id, line,
        |         row_number() OVER (PARTITION BY line
        |                            ORDER BY doc_id, line_id) AS rn
        |  FROM lines)
        |SELECT doc_id, count(*) AS n_lines,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_kept,
        |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' '
        |                               ORDER BY line_id), ''))
        |         AS clean_fp,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS kept_frac
        |FROM ranked
        |GROUP BY doc_id""".stripMargin,
    "text_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, toks, n,
        |         CASE WHEN n <= 128 THEN 1
        |              ELSE CAST(ceil((n - 128) / 96.0) AS BIGINT) + 1
        |         END AS nchunks
        |  FROM t)
        |SELECT doc_id, j AS chunk_id, 1 + j * 96 AS start_tok,
        |       least(128, n - j * 96) AS chunk_len,
        |       array_to_string(toks[(1 + j * 96):(j * 96 + 128)], ' ')
        |         AS chunk_text
        |FROM m, LATERAL (SELECT unnest(generate_series(0, nchunks - 1))
        |                   AS j) u""".stripMargin,
    "shard_assign" ->
      """WITH h AS (
        |  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h
        |  FROM documents)
        |SELECT doc_id, h % 8 AS shard,
        |       row_number() OVER (PARTITION BY h % 8
        |                          ORDER BY h, doc_id) AS pos
        |FROM h""".stripMargin,
    "text_dup_ngram_frac" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |                               for i in range(1, len(toks)-1)]))
        |           AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |SELECT sh.doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_shingles,
        |       CAST(sum(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS dup_frac
        |FROM sh JOIN df USING (shingle)
        |GROUP BY 1""".stripMargin,
  )
}
