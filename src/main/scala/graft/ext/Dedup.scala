package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Document deduplication operators (SURVEY.md §7.4 extension mandate —
  * exact, n-gram Jaccard, MinHash+LSH, SimHash) over the `documents` table.
  *
  * == Scale design ==
  * - Exact dedup is one hash shuffle on `md5(text)` — at 100 TB the hash
  *   (16 bytes) shuffles instead of the document body, which is the whole
  *   point of hashing before grouping.
  * - N-gram Jaccard uses an inverted-index self-join on shingles (never an
  *   O(n²) doc cross-join): explode → join on shingle → pair-count. At
  *   scale the join key distribution is the shingle df — production would
  *   additionally drop stop-shingles (df above a cap) to bound skew; the
  *   LSH variant below is the real 100 TB path.
  * - MinHash+LSH: 32 hashes → 8 bands × 4 rows, so a candidate pair needs
  *   one identical band (P ≈ 1-(1-s⁴)⁸; >0.97 for s ≥ 0.7, ~0.39 at
  *   s = 0.5 per band config — bands tuned for the 0.5 threshold here with
  *   r=2: 16 bands × 2 rows, P = 1-(1-s²)¹⁶ ≈ 0.99 at s = 0.5).
  *   Signatures are fixed-width (32 longs) regardless of document size, so
  *   the shuffle volume is O(docs), not O(corpus bytes) — the property
  *   that makes near-dedup feasible at 100 TB.
  * - Candidates are verified with exact Jaccard restricted to the
  *   candidate set (semi-join pushdown into the shingle index).
  *
  * MinHash uses Spark's xxhash64 — not reproducible in DuckDB, so the
  * LSH query carries no oracle (driver records a rows-only check); the
  * exact-Jaccard query IS the oracle-checked ground truth, and
  * DedupSpec asserts LSH recall against it on testdata. SimHash uses
  * the portable md5-prefix [[Dedup.tokenHash64]], so BOTH simhash
  * queries are hash-verified against DuckDB twins.
  */
object Dedup {

  /** Distinct word-3-shingles per document: (doc_id, shingle). */
  def shingles(docs: DataFrame): DataFrame =
    shingleStrArrays(docs)
      .select(col("doc_id"), explode(col("sh_arr")).as("shingle"))

  /** [[shingles]] before the explode: per-doc DISTINCT string 3-gram
    * arrays — the tokenize-once derivation the portable-MinHash
    * consumers share (r20; the [[shingleIdArrays]] device for string
    * shingles): the array feeds the narrow signature kernel, the
    * per-doc sizes (`size(sh_arr)` — a projection), and the exploded
    * verify index, so the CPU-heavy tokenize + n-gram build runs once.
    *
    * The no-shingle guard filters on TOKEN count BEFORE the n-gram
    * transform (the [[minhashSignaturesNarrow]] note: a predicate on
    * the computed array collapses into the scan filter and re-runs the
    * whole interpreted higher-order transform once for the predicate
    * and again for the projection). Dropping <3-token docs here is
    * row-identical for every consumer: their `sh_arr` was `array()`,
    * which the explode ([[shingles]]) and the signature/size paths all
    * discarded anyway.
    */
  def shingleStrArrays(docs: DataFrame): DataFrame =
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), graft.functions.NgramKernels
        .ngramStrings(col("text"), 3).as("sh_arr"))

  /** Distinct word n-grams as 64-bit ids: `xxhash64(tok, ..., tok)` per
    * position — no string concatenation, no slice copies, and the
    * downstream joins shuffle 8-byte longs instead of ~25-byte strings.
    * Tokens contain no spaces, so the tuple↔string mapping is bijective
    * and the id partition equals the string n-grams' (collision
    * probability at 1e6 distinct n-grams ≈ 3e-8 — negligible against the
    * oracle).
    */
  def ngramIds(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, "ngram length must be positive")
    // r20: the compiled NgramIdsKernel fuses split + per-position
    // xxhash64 + array_distinct into one pass (the interpreted HOF
    // stack was the heaviest map-side work of the posting pipeline);
    // ids and first-occurrence order are bit-identical (kernel scaladoc)
    docs.select(col("doc_id"), explode(
      graft.functions.NgramKernels.ngramIds(col("text"), n)).as("ngram"))
  }

  /** Distinct 3-shingles as 64-bit ids (see [[ngramIds]]). */
  def shingleIds(docs: DataFrame): DataFrame =
    ngramIds(docs, 3).withColumnRenamed("ngram", "shingle")

  /** Exact-duplicate groups via hash-groupBy (`md5(text)`). */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup keeping the lowest doc_id per text.
    *
    * r19: one `min_by` aggregate instead of the row_number window —
    * same survivor (doc_id is unique, so min_by is deterministic), but
    * the aggregate partial-combines map-side: the exchange carries one
    * row per distinct text per map partition instead of every row, and
    * the per-partition sort disappears (guide §2.3).
    */
  def exactDocs(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source"),
        col("n_chars")), col("doc_id")).as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.lang").as("lang"),
        col("m.source").as("source"), col("m.n_chars").as("n_chars"))

  /** Stop-shingle document-frequency cap: shingles occurring in more
    * documents than this are dropped from the index before the self-join.
    * The inverted-index join's cost is Σ_shingles df² — ONE hot shingle
    * ("click here to" in a 100 TB crawl) turns the join quadratic, so the
    * cap is the skew guard that makes the operator survive scale-up.
    * Jaccard is then computed over the REDUCED shingle universe (the cap
    * applies to numerator and denominator alike), which keeps it a true
    * Jaccard of the kept sets; near-dup pairs lose only ubiquitous
    * shingles that carry no discriminating signal. The default sits ~40x
    * above the max df observed in the sf0.1 testdata (25), so test-SF
    * results are identical to the uncapped operator while the guard stays
    * finite; [[ngramJaccardPairsCapped]] exercises a low cap against an
    * oracle that replicates it.
    */
  val MaxShingleDf = 1000L

  /** Skew-safe df-capped posting LISTS in ONE pass — `(shingle, df, ds)`
    * with `ds` the ascending doc_id list and `df ≤ maxShingleDf` exact.
    *
    * == Why not a window ==
    * `count(*) over (partition by shingle)` co-locates a hot shingle's
    * ENTIRE posting list on one task before the cap filter can drop it
    * — WindowExec cannot partially aggregate, so the skewed-key shuffle
    * lands on exactly the stop-shingles ("of the and" at df ≈ n_docs)
    * the cap exists to guard.
    *
    * == This shape (r19 optimization; guide §2.3/§2.4) ==
    * One aggregation with the capped buffer
    * ([[graft.functions.CappedPostingsAgg]]): map-side partials collect
    * at most `cap` doc_ids per shingle and degenerate to a 16-byte
    * exact counter the moment they pass the cap, so a hot key ships
    * count-only buffers — the same bytes the old separate df-count pass
    * shipped — and never co-locates its posting list anywhere. Groups
    * whose exact merged count exceeds the cap are dropped by the filter
    * (identical semantics to the r1–r18 two-pass anti-join, DuckDB
    * twins unchanged).
    *
    * Versus the previous shape (df-count pass + broadcast LEFT ANTI +
    * hash repartition + collect_list), this removes: the SECOND derive
    * of the tokenized posting stream (tokenize + n-gram hash + explode
    * ran twice), the anti-join stage, the df pass's exchange, and the
    * standalone repartition — one pass and one exchange carry the cap,
    * the lists, and the exact df. Measured on the r19 PlanDump stage
    * ledger before/after (plans/r19/dedup_ngram_jaccard_*.txt).
    */
  private[graft] def keptPostingLists(sh: DataFrame,
      maxShingleDf: Long): DataFrame =
    sh.groupBy("shingle")
      .agg(graft.functions.CappedPostings.list(col("doc_id"), maxShingleDf)
        .as("cd"))
      .filter(col("cd.n") <= maxShingleDf)
      .select(col("shingle"), col("cd.n").as("df"), col("cd.ds").as("ds"))

  /** [[keptPostingLists]] for tf-weighted postings: `ds` packs
    * `(doc_id, tf)` pairs flat (`[id0, tf0, id1, tf1, ...]`),
    * block-sorted by doc_id; `df` is the exact posting count. Same
    * one-pass capped-buffer skew argument.
    */
  private[graft] def keptPostingWeightedLists(sh: DataFrame,
      maxShingleDf: Long): DataFrame =
    sh.groupBy("shingle")
      .agg(graft.functions.CappedPostings.weighted(
        col("doc_id"), col("tf"), maxShingleDf).as("cd"))
      .filter(col("cd.n") <= maxShingleDf)
      .select(col("shingle"), col("cd.n").as("df"), col("cd.ds").as("ds"))

  /** Exact pairwise 3-gram Jaccard ≥ `threshold` via an inverted index —
    * the ground-truth near-dup operator. The df-capped posting LISTS
    * ([[keptPostingLists]]: one pass, one exchange, skew-safe capped
    * buffers) are persisted once and feed both the per-doc sizes and
    * the pair generation. The tiny pair result is eagerly checkpointed
    * so the cache releases before return.
    *
    * Pair generation enumerates each (already aggregated, already
    * sorted) posting list's ordered combinations directly instead of a
    * sort-merge SELF-JOIN on the index: the output is the same
    * Σ_shingles C(df, 2) candidate rows, but the join's second sorted
    * copy of the full index disappears. The capped aggregate guarantees
    * every list is ≤ cap, so the per-group state and the combination
    * blowup stay bounded at any scale.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
      maxShingleDf: Long = MaxShingleDf,
      keptFrom: Option[DataFrame] = None): DataFrame = {
    // keptFrom: a caller (jaccardPairsAuto) that already persisted the
    // df-capped posting lists passes them in; ownership (unpersist)
    // stays with the caller
    val lists = keptFrom.getOrElse(
      keptPostingLists(shingleIds(docs), maxShingleDf).persist())
    // sizes feeds BOTH per-pair joins below (sa and sb). Spark does not
    // share a common subplan across two join sides, so without the
    // persist the per-doc count — a full pass over the posting lists
    // plus its aggregation exchange — ran TWICE (r19 PlanDump: two
    // identical HashAggregate+Exchange branches, two of the three
    // heaviest stages of this query). Persisting costs one narrow
    // (doc_id, n) table, bounded by doc count, and halves that work at
    // every scale (guide §2.4: remove shuffles outright).
    val sizes = lists.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n")).persist()
    // materialize NOW (r20): the sa/sb broadcast builds below run
    // concurrently off the async broadcast pool, and both missed the
    // still-cold cache — each re-derived sizes in parallel (two ~0.9 s
    // stages in the r20 ledger); one tiny count makes the second build
    // a cache read
    sizes.count()
    val inter = lists
      // r20: compiled pair enumeration (graft.functions.OrderedPairs) —
      // the interpreted flatten(transform(slice...)) stack was one of
      // this query family's heaviest stages; same structs, same order
      .select(explode(graft.functions.OrderedPairs.of(
        col("ds"), "doc_a", "doc_b")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter_size"))
    val out = inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("union_size",
        col("sa.n") + col("sb.n") - col("inter_size"))
      .withColumn("jaccard",
        col("inter_size") * lit(1.0) / col("union_size"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter_size", "union_size", "jaccard")
      .localCheckpoint(true)
    sizes.unpersist()
    if (keptFrom.isEmpty) lists.unpersist()
    out
  }

  /** Within-corpus asymmetric near-containment pairs — the quote/subset
    * detector Jaccard structurally misses: a short document fully
    * embedded in a long one has tiny Jaccard (the union is dominated by
    * the long side) but containment `|∩| / min(|A|,|B|)` ≈ 1. A curation
    * pass runs this alongside the symmetric Jaccard sweep to catch
    * boilerplate-wrapped copies and quoted passages.
    *
    * Same skew-safe df-capped inverted index as [[ngramJaccardPairs]]
    * — only the score denominator changes — so the scale argument
    * transfers verbatim. Reports both scores plus which doc is the
    * contained (smaller) side; ties on size resolve to doc_a, the same
    * deterministic rule on both engines.
    */
  def containmentDedupPairs(docs: DataFrame, threshold: Double = 0.8,
      maxShingleDf: Long = MaxShingleDf): DataFrame = {
    val lists = keptPostingLists(shingleIds(docs), maxShingleDf).persist()
    // persisted for the same two-join-sides reason as ngramJaccardPairs
    val sizes = lists.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n")).persist()
    // materialize NOW (r20): the sa/sb broadcast builds below run
    // concurrently off the async broadcast pool, and both missed the
    // still-cold cache — each re-derived sizes in parallel (two ~0.9 s
    // stages in the r20 ledger); one tiny count makes the second build
    // a cache read
    sizes.count()
    val inter = lists
      // r20: compiled pair enumeration (graft.functions.OrderedPairs) —
      // the interpreted flatten(transform(slice...)) stack was one of
      // this query family's heaviest stages; same structs, same order
      .select(explode(graft.functions.OrderedPairs.of(
        col("ds"), "doc_a", "doc_b")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter_size"))
    val out = inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter_size"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"),
        (col("inter_size") * lit(1.0) /
          least(col("sa.n"), col("sb.n"))).as("containment"),
        (col("inter_size") * lit(1.0) /
          (col("sa.n") + col("sb.n") - col("inter_size"))).as("jaccard"),
        when(col("sa.n") <= col("sb.n"), col("doc_a"))
          .otherwise(col("doc_b")).as("contained_doc"))
      .filter(col("containment") >= threshold)
      .localCheckpoint(true)
    sizes.unpersist()
    lists.unpersist()
    out
  }

  /** Low-cap variant of [[ngramJaccardPairs]] (df cap = 5): at test SF
    * this genuinely drops shingles (max testdata df is 7 at sf0.01 / 25
    * at sf0.1), and its DuckDB oracle replicates the cap — so the skew
    * guard itself is hash-verified, not just spec-asserted.
    */
  def ngramJaccardPairsCapped(docs: DataFrame): DataFrame =
    ngramJaccardPairs(docs, threshold = 0.5, maxShingleDf = 5L)

  /** PREFIX-FILTERED exact Jaccard pairs (SSJoin/PPJoin, Chaudhuri 2006 /
    * Xiao 2008): the same output contract as [[ngramJaccardPairs]] — every
    * pair with 3-gram Jaccard ≥ tNum/tDen over the df-capped shingle
    * universe — but candidates come only from collisions among each
    * document's PREFIX under a global rarest-first shingle order.
    *
    * The filter lemma: order every doc's kept shingles by (df asc,
    * shingle) and keep the first `p = n − ⌈t·n⌉ + 1` as its prefix; two
    * docs with J ≥ t MUST share a shingle lying in BOTH prefixes. Proof
    * sketch: J ≥ t gives `|A∩B| ≥ t·|A∪B| ≥ ⌈t·n_a⌉` (and ⌈t·n_b⌉).
    * Let a*, b* be the last prefix elements in the global order and say
    * a* ≤ b*; only `⌈t·n_a⌉ − 1 < |A∩B|` elements of A sit past a*, so
    * some common shingle c ≤ a* lies in A's prefix — and c ≤ a* ≤ b*
    * puts c inside B's prefix too (B's prefix is exactly its elements
    * ≤ b*). So the candidate set is a superset of the answer and the
    * exact verify pass makes the cut identical — asserted against
    * [[ngramJaccardPairs]] in DedupSpec and hash-verified against the
    * same naive DuckDB twin.
    *
    * Why it exists, measured honestly (sf0.1, r17 after adding PPJoin's
    * length + positional filters): 1,265,779 naive candidates →
    * 430,594 prefix collisions (2.9×) → 328,908 after the in-transform
    * length filter → 124,837 verify pairs after the positional filter —
    * a 10.1× total cut vs naive and 3.3× fewer array-verifies than the
    * r16 prefix-only arm. Wall-clock fell ≈6 s → ≈3.7–4.8 s; the plain
    * enumeration still WINS at this overhead-dominated test scale
    * (≈1.9 s: the df join, rank window, and min_by shuffle cost more
    * than the candidates they save), so [[ngramJaccardPairs]] stays the
    * default below the crossover; the prefix arm is the asymptotic path
    * for corpora whose candidate mass — quadratic in posting-list
    * density — outgrows those fixed per-stage costs, and the crossover
    * corpus size is now ~3× smaller than r16's. All bounds are EXACT
    * integers (`⌈t·n⌉ = (tNum·n + tDen − 1) div tDen`, overlap
    * requirement `α = ⌈tNum·(n_a+n_b)/(tNum+tDen)⌉`) — a float ceil
    * within an ULP of an integer could shorten a prefix or loosen a
    * bound and silently break the completeness lemma.
    *
    * Stages: the [[keptPostingLists]] table (persisted once; df rides
    * each list row, so the old df self-join is gone), one per-doc rank
    * window over the re-exploded postings, prefix posting enumeration
    * (same ordered-combinations device), then exact verify via per-doc
    * sorted shingle arrays (`array_intersect` on the two bounded
    * arrays) — no stage keyed on anything hotter than the df-capped
    * shingles.
    */
  def prefixJaccardPairs(docs: DataFrame, tNum: Long = 1L, tDen: Long = 2L,
      maxShingleDf: Long = MaxShingleDf,
      keptFrom: Option[DataFrame] = None): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0, 1]")
    val threshold = tNum.toDouble / tDen.toDouble
    val lists = keptFrom.getOrElse(
      keptPostingLists(shingleIds(docs), maxShingleDf).persist())
    val wDoc = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("shingle"))
    // df arrives ON the list row (exact by the capped aggregate), so the
    // r16–r18 `kept ⋈ dfs` self-join is gone outright; persisted because
    // BOTH the per-doc size aggregate and the prefix filter consume this
    // subplan — without the persist the explode + rank window (a full
    // shuffle + sort of the posting stream) ran twice (r19 PlanDump)
    val positioned = lists
      .select(col("shingle"), col("df"), explode(col("ds")).as("doc_id"))
      .withColumn("pos", row_number().over(wDoc))
      .persist()
    val sizes = positioned.groupBy("doc_id")
      .agg(count(lit(1)).as("n"))
    // prefix = n − ⌈t·n⌉ + 1, the ceil in exact integer arithmetic
    val prefix = positioned.join(sizes, Seq("doc_id"))
      .filter(col("pos") <= col("n") -
        expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
    // pair enumeration with PPJoin's two candidate-time filters, both in
    // exact integers so completeness is provable, not approximate:
    //  - LENGTH: with n_a ≤ n_b (the struct sort's first key), J ≤
    //    n_a/n_b, so J ≥ t forces n_a·tDen ≥ n_b·tNum — applied INSIDE
    //    the per-posting transform, before any pair leaves the executor;
    //  - POSITIONAL: per pair keep only its MINIMAL colliding shingle w
    //    under the global (df, shingle) order (min_by below). Any common
    //    element c < w would sit in both prefixes (pos(c) < pos(w) ≤
    //    prefix length on each side) and collide earlier — contradiction
    //    — so A∩B ⊆ {w} ∪ {elements after w on both sides}, giving
    //    |A∩B| ≤ 1 + min(n_a − pos_a, n_b − pos_b). J ≥ t needs
    //    |A∩B| ≥ α = ⌈tNum·(n_a+n_b)/(tNum+tDen)⌉; pairs whose bound
    //    can't reach α are dropped before the array verify.
    val pairCols = Seq("n_a", "doc_a0", "pos_a", "n_b", "doc_b0", "pos_b")
    val cand = prefix
      .groupBy("shingle")
      .agg(first(col("df")).as("df"),
        sort_array(collect_list(
          struct(col("n"), col("doc_id"), col("pos")))).as("ds"))
      .select(col("shingle"), col("df"), explode(expr(
        s"""flatten(transform(ds, (a, i) ->
          |  transform(filter(slice(ds, i + 2, size(ds)),
          |                   b -> a.n * $tDen >= b.n * $tNum),
          |    b -> struct(a.n AS n_a, a.doc_id AS doc_a0, a.pos AS pos_a,
          |                b.n AS n_b, b.doc_id AS doc_b0,
          |                b.pos AS pos_b))))"""
          .stripMargin)).as("p"))
      .select(col("shingle") +: col("df") +:
        pairCols.map(c => col(s"p.$c").as(c)): _*)
      .groupBy("doc_a0", "doc_b0")
      .agg(min_by(struct(pairCols.map(col): _*),
        struct(col("df"), col("shingle"))).as("m"))
      .select(pairCols.map(c => col(s"m.$c").as(c)): _*)
      .filter(lit(1L) +
        least(col("n_a") - col("pos_a"), col("n_b") - col("pos_b")) >=
        expr(s"(($tNum * (n_a + n_b)) + ${tNum + tDen - 1}) " +
          s"div ${tNum + tDen}"))
      .select(least(col("doc_a0"), col("doc_b0")).as("doc_a"),
        greatest(col("doc_a0"), col("doc_b0")).as("doc_b"))
    // persisted: joined once per pair side (sa and sb) — without it the
    // per-doc sorted-array aggregation ran twice (same two-join-sides
    // blindness as ngramJaccardPairs' sizes); built from the persisted
    // positioned stream so the lists cache is read once per consumer
    val arrays = positioned.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("shs"))
      .persist()
    val out = cand
      .join(arrays.select(col("doc_id").as("doc_a"),
        col("shs").as("sa")), Seq("doc_a"))
      .join(arrays.select(col("doc_id").as("doc_b"),
        col("shs").as("sb")), Seq("doc_b"))
      .withColumn("inter_size",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("union_size",
        size(col("sa")).cast("long") + size(col("sb")) - col("inter_size"))
      .withColumn("jaccard",
        col("inter_size") * lit(1.0) / col("union_size"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "inter_size", "union_size", "jaccard")
      .localCheckpoint(true)
    arrays.unpersist()
    positioned.unpersist()
    if (keptFrom.isEmpty) lists.unpersist()
    out
  }

  /** CALIBRATED crossover for [[jaccardPairsAuto]], in naive-candidate
    * rows (Σ C(df, 2) over the df-capped posting lists). Derivation
    * from the r17 head-to-head at sf0.1 (honest numbers, see
    * [[prefixJaccardPairs]]): at M = 1.27e6 candidates enumeration ran
    * ≈1.9 s (≈1.5 µs/candidate all-in) while PPJoin ran ≈4.0 s, of
    * which ≈3.8 s is mass-independent fixed cost (df join, rank
    * window, min_by shuffle) and the rest scales with its ~10× smaller
    * candidate head. Break-even: 1.5e-6·M = 3.8 + 1.5e-7·M → M ≈ 2.8e6;
    * rounded to 3e6 so the default stays on the measured-winner side of
    * the gap. A calibration ESTIMATE, not a law — the spec pins the
    * choice function's behavior on both sides, not the constant.
    */
  val JaccardArmCrossover = 3000000L

  /** Arm-choosing exact Jaccard pair sweep (r17 verdict #7): compute
    * the naive candidate mass Σ df·(df−1)/2 from the df column the
    * capped aggregate already produced, then run plain enumeration
    * ([[ngramJaccardPairs]]) below [[JaccardArmCrossover]] and the
    * PPJoin arm ([[prefixJaccardPairs]]) above it — the engine picks
    * per corpus instead of per hardcode. Outputs are identical by the
    * arms' existing equivalence lemma (DedupSpec asserts both arms and
    * this chooser on both sides of the crossover), so the oracle twin
    * is the naive arm's. The decision scan is one single-row aggregate
    * over the persisted posting lists both arms reuse via `keptFrom` —
    * no df re-aggregation at all since r19 (df is a list column).
    */
  def jaccardPairsAuto(docs: DataFrame, tNum: Long = 1L, tDen: Long = 2L,
      maxShingleDf: Long = MaxShingleDf,
      crossover: Long = JaccardArmCrossover): DataFrame = {
    val lists = keptPostingLists(shingleIds(docs), maxShingleDf).persist()
    val mass = lists
      .agg(coalesce(sum(expr("df * (df - 1) div 2")), lit(0L))
        .as("mass"))
      .collect()(0).getLong(0)
    val out =
      if (mass <= crossover)
        ngramJaccardPairs(docs, tNum.toDouble / tDen.toDouble,
          maxShingleDf, keptFrom = Some(lists))
      else prefixJaccardPairs(docs, tNum, tDen, maxShingleDf,
        keptFrom = Some(lists))
    lists.unpersist()
    out
  }

  /** Token-gram width of [[repeatedSpans]]. Lee et al. use 50 BPE
    * tokens on web corpora; 8 whitespace tokens exercises the identical
    * span-coalescing semantics on the fixture's 10–99-token documents
    * (at n = 8 the sf0.01 corpus carries 1,015 cross-doc duplicate
    * grams — measured, not assumed).
    */
  val SpanGram = 8

  /** CROSS-DOCUMENT repeated substring spans (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * ExactSubstr primitive): every maximal token span that appears, at
    * [[SpanGram]]-gram granularity, in at least TWO distinct documents.
    *
    * Relationship to [[Corpus.dupSpans]] (`text_dup_spans`), which
    * reports per-DOC span aggregates under a different dup rule — the
    * two are deliberate variants, not duplicates: (1) the flag here is
    * ≥ 2 DISTINCT DOCS per gram (cross-doc boilerplate only; within-doc
    * repeats stay with the repetition screen), vs any ≥ 2 occurrences
    * corpus-wide there (self-repetition also flags); (2) the grain here
    * is one row per SPAN with its token extents — the feed a span-level
    * redactor consumes — vs per-doc counts there; (3) islands here
    * coalesce strictly-consecutive gram starts (exact extent
    * arithmetic), vs gap ≤ n merging there (wider, report-oriented
    * spans). Pick by question: "what exact regions repeat across docs"
    * → here; "how much of each doc is duplicated text at all" → there.
    * This is the span-REMOVAL feed (cut the repeated span, keep the
    * document) that whole-document dedup cannot express — boilerplate
    * headers, license blocks, quoted tweets — and it is exact: a gram
    * is flagged iff its literal token string occurs in ≥ 2 docs
    * (within-doc repeats are [[TextAnalysis.repetition]]'s job and do
    * NOT flag here), and consecutive flagged gram starts coalesce into
    * maximal spans by the gaps-and-islands device (`i − row_number()`
    * per doc). Per span: 1-based token start/end, token length, and the
    * dup-gram count that built it.
    *
    * == Scale shape ==
    * The gram aggregate is a plain groupBy whose map-side partials
    * absorb hot grams ([[keptPostingLists]]' argument); only the
    * dup-gram HEAD (count ≥ 2 of DISTINCT docs) survives and joins
    * back onto the position stream as an aggregated one-row-per-gram
    * side — no posting-list explosion. The islands window partitions
    * by doc_id (bounded by document length, never corpus size). At
    * 100 TB the gram SHUFFLE carries the literal n-token strings —
    * the exactness cost; the standard production variant buckets by a
    * 64-bit gram hash and verifies within bucket, trading one more
    * pass for ~8× narrower shuffle rows, but its output is the same
    * and the fixture's oracle demands the exact form.
    *
    * == Determinism ==
    * Integers end-to-end: token positions, distinct-doc counts, island
    * arithmetic. The only strings are the grams themselves, compared
    * by equality. Nothing floats, so the twin matches bit-for-bit.
    */
  /** The (doc_id, i, gram) position stream both span arms derive. */
  private def spanPositions(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(toks) - ${n - 1}),
           |          i -> struct(CAST(i AS BIGINT) AS i,
           |                      concat_ws(' ', slice(toks, i, $n))
           |                        AS gram))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.gram").as("gram"))

  /** Gaps-and-islands coalescing of flagged gram starts into maximal
    * spans — shared by both span arms so their outputs are the same
    * function of the same hit set.
    */
  private def spansFromHits(hits: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("i")
    hits.withColumn("isl", col("i") - row_number().over(w))
      .groupBy("doc_id", "isl")
      .agg(min("i").as("span_start"),
        (max("i") + lit(n - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_dup_grams"))
  }

  /** The exact flagged hit stream `(doc_id, i)` — every occurrence of a
    * gram appearing in ≥ 2 distinct docs. The feed [[repeatedSpans]]
    * coalesces and the default `hitsFrom` of [[spanRemovalPlan]].
    */
  private[graft] def repeatedHits(docs: DataFrame,
      n: Int = SpanGram): DataFrame = {
    // pos feeds BOTH the dup-gram aggregate and the join back onto the
    // occurrence stream; without the persist the tokenize + gram
    // explode ran twice per call (r19 PlanDump — the two-consumers
    // blindness). The hit stream itself is duplicated-gram occurrences
    // only (head-sized), so the eager checkpoint that lets pos release
    // before return is cheap at any scale.
    val pos = spanPositions(docs, n).persist()
    val dup = pos.groupBy("gram")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("gram")
    val out = pos.join(dup, Seq("gram")).select("doc_id", "i")
      .localCheckpoint(true)
    pos.unpersist()
    out
  }

  def repeatedSpans(docs: DataFrame, n: Int = SpanGram): DataFrame =
    spansFromHits(repeatedHits(docs, n), n)

  /** [[repeatedSpans]]' 100 TB arm: the candidate aggregate keys on the
    * 64-bit `xxhash64(gram)` instead of the literal n-token string — an
    * 8-byte shuffle row where the exact arm moves ~8n bytes — and the
    * gram strings travel ONLY for the bucket-collision head, where a
    * second (hash, gram) aggregate re-verifies literal equality before
    * anything flags. Output is therefore IDENTICAL to the exact arm
    * regardless of hash quality: a collision can only ADD candidates to
    * the verify stage, never a false dup past it (the flag still
    * requires ≥ 2 distinct docs per literal gram), and a true dup gram
    * always collides with itself. DedupSpec machine-checks the
    * identity; the oracle twin is the exact arm's — the hash never
    * reaches the output, so DuckDB needs no xxhash64.
    */
  /** [[repeatedHits]]' narrow-shuffle arm: identical output (the hash
    * only SELECTS candidates; literal grams re-verify within the
    * collision head — see [[repeatedSpansHashed]]'s identity argument),
    * but the corpus-wide aggregate keys on 8 bytes. This is the stream
    * the `hitsFrom` hooks exist for: at 100 TB the transform runs over
    * THIS feed, and the exact arm is the fixture-oracle form.
    */
  private[graft] def repeatedHitsHashed(docs: DataFrame,
      n: Int = SpanGram): DataFrame = {
    // persisted ×2 (r19): withH feeds the bucket aggregate AND the
    // candidate join; cand feeds the per-(h, gram) re-verify AND the
    // final join — without the persists the tokenize + gram explode
    // ran FOUR times per call. cand is the collision head only
    // (bucket-duplicated positions), so its cache is small at scale.
    val pos = spanPositions(docs, n)
    val withH = pos.withColumn("h", xxhash64(col("gram"))).persist()
    val dupH = withH.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val cand = withH.join(dupH, Seq("h")).persist()
    val dup = cand.groupBy("h", "gram")
      .agg(countDistinct("doc_id").as("ndg"))
      .filter(col("ndg") >= 2)
      .select("h", "gram")
    val out = cand.join(dup, Seq("h", "gram")).select("doc_id", "i")
      .localCheckpoint(true)
    cand.unpersist()
    withH.unpersist()
    out
  }

  def repeatedSpansHashed(docs: DataFrame, n: Int = SpanGram): DataFrame =
    spansFromHits(repeatedHitsHashed(docs, n), n)

  /** The span-removal TRANSFORM itself — [[repeatedSpans]]' semantics
    * applied keep-one-copy. Counterpart of [[Corpus.despanDocuments]]
    * (`corpus_despan`), with the same deliberate deltas as the
    * detection arms: cross-doc-only flags (within-doc repeats are NOT
    * scrubbed here — a doc's own refrain is a style signal, not
    * boilerplate), strict-consecutive islands with exact extents, and
    * the rewritten PLAIN TEXT in the output (the downstream training
    * corpus), where despan emits an md5 fingerprint for cheap
    * cross-engine comparison. Lee et al.'s actual dedup step: for every
    * cross-doc duplicated gram, its CANONICAL occurrence (minimum
    * (doc_id, position) — an order-invariant struct-min aggregate, not
    * a window over the gram key, so hot grams stay map-side combinable)
    * survives and every other occurrence flags; flagged gram starts
    * coalesce into maximal spans ([[spansFromHits]]); the covered token
    * positions (span extents CAN overlap across islands — gram starts 2
    * apart coalesce into different islands whose +n−1 extents intersect
    * — hence the distinct) are anti-joined out of the token stream; and
    * the surviving tokens rebuild `clean_text` in exact position order
    * (sorted struct fold — both engines concatenate the identical
    * sequence). Per doc: original/kept/removed token counts and the
    * scrubbed text; docs losing everything keep a row with '' (the
    * exact-duplicate-of-a-canonical case), docs under the gram width
    * pass through untouched.
    *
    * Scale: one more keyed aggregate than [[repeatedSpans]] (the
    * canonical struct-min rides the same gram groupBy), a bounded
    * per-span position explode, one anti-join, and a per-doc rebuild
    * aggregate bounded by document length.
    *
    * `flagsFrom` (r17 verdict #3, the `candidatesFrom` precedent from
    * [[Similarity.hardNegatives]]): inject a precomputed flagged-start
    * stream `(doc_id, i)` — in production [[scrubFlagsHashed]], whose
    * corpus-wide aggregate shuffles 8-byte hashes instead of literal
    * n-token strings — so the TRANSFORM, not just the report family,
    * has the narrow arm. Output-identity of the hashed feed is argued
    * at [[scrubFlagsHashed]] and machine-checked in DedupSpec; the
    * oracle twin is unchanged.
    */
  /** [[spanScrub]]'s default flag stream: every NON-CANONICAL occurrence
    * `(doc_id, i)` of a cross-doc duplicated gram (canonical = minimum
    * (doc_id, i), an order-invariant struct-min riding the same gram
    * aggregate — hot grams stay map-side combinable).
    */
  private[graft] def scrubFlags(docs: DataFrame,
      n: Int = SpanGram): DataFrame = {
    // same persist + eager-checkpoint shape as [[repeatedHits]] (the
    // position stream fed two consumers and derived twice before r19)
    val pos = spanPositions(docs, n).persist()
    val dup = pos.groupBy("gram")
      .agg(countDistinct("doc_id").as("nd"),
        min(struct(col("doc_id"), col("i"))).as("canon"))
      .filter(col("nd") >= 2)
      .select(col("gram"), col("canon"))
    val out = pos.join(dup, Seq("gram"))
      .filter(!(col("doc_id") === col("canon.doc_id") &&
        col("i") === col("canon.i")))
      .select("doc_id", "i")
      .localCheckpoint(true)
    pos.unpersist()
    out
  }

  /** [[scrubFlags]]' narrow-shuffle arm, mirroring [[repeatedHitsHashed]]:
    * the corpus-wide aggregate keys on `xxhash64(gram)` (8-byte shuffle
    * rows) and the gram strings travel only for the collision head.
    * Output is IDENTICAL to the exact arm: a gram g in ≥ 2 distinct docs
    * makes its hash bucket pass `nd ≥ 2` (the hash count dominates the
    * gram count), so ALL of g's occurrences reach the candidate stream —
    * which means the per-(h, gram) re-verification sees g's full global
    * occurrence set: `ndg` equals the exact arm's distinct-doc count and
    * the struct-min canon equals the exact arm's global canon. Collision
    * passengers form their own (h, gram′) groups and die on `ndg ≥ 2`
    * unless genuinely duplicated. DedupSpec machine-checks the identity
    * on the toy set and the sf0.001 fixture.
    */
  private[graft] def scrubFlagsHashed(docs: DataFrame,
      n: Int = SpanGram): DataFrame = {
    // same ×2 persist + eager-checkpoint shape as [[repeatedHitsHashed]]
    // (the position stream derived four times before r19)
    val pos = spanPositions(docs, n)
    val withH = pos.withColumn("h", xxhash64(col("gram"))).persist()
    val dupH = withH.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val cand = withH.join(dupH, Seq("h")).persist()
    val dup = cand.groupBy("h", "gram")
      .agg(countDistinct("doc_id").as("ndg"),
        min(struct(col("doc_id"), col("i"))).as("canon"))
      .filter(col("ndg") >= 2)
      .select(col("h"), col("gram"), col("canon"))
    val out = cand.join(dup, Seq("h", "gram"))
      .filter(!(col("doc_id") === col("canon.doc_id") &&
        col("i") === col("canon.i")))
      .select("doc_id", "i")
      .localCheckpoint(true)
    cand.unpersist()
    withH.unpersist()
    out
  }

  def spanScrub(docs: DataFrame, n: Int = SpanGram,
      flagsFrom: Option[DataFrame] = None): DataFrame = {
    val flagged = flagsFrom.getOrElse(scrubFlags(docs, n))
    val remove = spansFromHits(flagged, n)
      .select(col("doc_id"),
        explode(expr("sequence(span_start, span_end)")).as("j"))
      .distinct()
    val toks = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("j0", "tok")))
      .select(col("doc_id"), (col("j0") + 1).cast("long").as("j"),
        col("tok"))
    val rebuilt = toks.join(remove, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          sort_array(collect_list(struct(col("j"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L)))
          .as("removed_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** The span-removal ECONOMICS of [[repeatedSpans]] — per document:
    * total tokens, tokens covered by cross-doc repeated spans, span
    * count, and the removable share. This is the readout a curation run
    * consults BEFORE committing to span removal: how much of the corpus
    * is boilerplate, and whether it concentrates in few documents (cut
    * the docs) or spreads thin (cut the spans).
    *
    * Island STARTS are disjoint, but their +n−1 EXTENTS are not:
    * flagged gram starts 2..n−1 apart land in different islands whose
    * token ranges intersect (starts 1 and 3 with start 2 clean cover
    * [1,n] and [3,n+2] — 6 shared positions at n=8). `repeated_tokens`
    * therefore counts DISTINCT covered positions — the same
    * explode(sequence)->distinct device [[spanScrub]]'s remove stage
    * uses — never a sum of `span_tokens`, which double-counts overlap
    * and can push `repeated_share` past 1.0. `n_spans` stays the island
    * count (distinct starts). Docs with no repeated span report zeros
    * rather than vanishing — the denominator matters. One keyed
    * aggregate over the bounded per-span position explode + a left join
    * back onto a narrow per-doc token count; the share is one IEEE
    * division of exact longs.
    *
    * `hitsFrom` (r17 verdict #3): inject a precomputed flagged-start
    * stream — in production [[repeatedHitsHashed]]'s 8-byte-shuffle
    * candidates — instead of the default exact [[repeatedHits]]; the
    * hashed feed is output-identical by [[repeatedSpansHashed]]'s
    * argument, so the oracle twin is shared.
    */
  def spanRemovalPlan(docs: DataFrame, n: Int = SpanGram,
      hitsFrom: Option[DataFrame] = None): DataFrame = {
    val spans = spansFromHits(hitsFrom.getOrElse(repeatedHits(docs, n)), n)
    val perDoc = spans
      .select(col("doc_id"), col("span_start"),
        explode(expr("sequence(span_start, span_end)")).as("j"))
      .groupBy("doc_id")
      .agg(countDistinct("j").cast("long").as("repeated_tokens"),
        countDistinct("span_start").cast("long").as("n_spans"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("repeated_tokens"), lit(0L)).as("repeated_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("repeated_share",
        col("repeated_tokens").cast("double") /
          col("n_tokens").cast("double"))
  }

  /** Decision scan for the span-arm auto-select: estimated BYTES of
    * literal gram strings the EXACT arm's corpus-wide aggregate would
    * shuffle — Σ over documents of gram positions × mean gram width
    * (`n` tokens at the document's mean token-plus-separator width).
    * One narrow aggregate over `docs` reading only `text`; unlike
    * [[jaccardPairsAuto]]'s mass scan (which rides the posting stream
    * both arms reuse) this deliberately never BUILDS the position
    * stream — the span arms don't share a persisted intermediate, so
    * the cheap upper bound from per-doc token counts is the right
    * price for a routing decision. Exact long arithmetic; integer
    * division only shaves the estimate, never the decision's safety
    * (both arms are output-identical — see [[scrubFlagsHashed]]).
    */
  private[graft] def spanGramMassBytes(docs: DataFrame, n: Int): Long =
    docs.select(
        expr(s"""CAST(size(split(text, ' ')) AS BIGINT)""").as("t"),
        expr("CAST(length(text) + 1 AS BIGINT)").as("b"))
      .filter(col("t") >= n)
      .agg(coalesce(sum(
        (col("t") - lit(n - 1)) * ((lit(n.toLong) * col("b")) / col("t"))
          .cast("long")), lit(0L)).as("mass"))
      .collect()(0).getLong(0)

  /** CALIBRATED crossover for [[spanScrubAuto]]/[[spanRemovalPlanAuto]],
    * in estimated exact-arm gram-shuffle bytes ([[spanGramMassBytes]]).
    * Derivation from the r18 head-to-head at sf0.1 (BENCHNOTES): the
    * hashed feed cost 6.0 s where the exact feed cost 3.9 s — its two
    * extra stages (hash-bucket join + per-(h, gram) re-verify) are a
    * ≈2.1 s overhead at that corpus' measured ≈10.3 MB gram mass
    * (this scan's own estimate at sf0.1), where the exact arm's gram
    * shuffle is still near-free. The exact arm's marginal cost is the
    * gram bytes themselves (~1 GB/s effective local shuffle; worse on
    * a real cluster's network); the hashed arm moves ~8 bytes where
    * the exact moves the ~70-byte literal gram, so break-even sits
    * where the ≈(1 − 8/width) byte saving pays the overhead:
    * 2.1 s ≈ B × (1/1 GB/s) × 0.89 → B ≈ 2.4 GB, rounded down to 2 GB
    * (~200× the sf0.1 corpus) so a cluster deployment (network
    * shuffle, spill pressure) errs toward the arm that wins at scale.
    * A calibration ESTIMATE, not a law — the spec pins the choice
    * function's behavior on both sides, not the constant.
    */
  val SpanArmCrossoverBytes = 2000000000L

  /** Arm-choosing span scrub (r18 verdict #5, the [[jaccardPairsAuto]]
    * precedent): measure the corpus' estimated gram-shuffle mass with
    * one narrow scan, then feed [[spanScrub]] the exact flag stream
    * below [[SpanArmCrossoverBytes]] and the 8-byte-shuffle hashed
    * stream above it. Outputs are identical by [[scrubFlagsHashed]]'s
    * identity argument (machine-checked in DedupSpec on both sides of
    * the crossover), so the oracle twin is the exact arm's.
    */
  def spanScrubAuto(docs: DataFrame, n: Int = SpanGram,
      crossover: Long = SpanArmCrossoverBytes): DataFrame =
    spanScrub(docs, n,
      if (spanGramMassBytes(docs, n) <= crossover) None
      else Some(scrubFlagsHashed(docs, n)))

  /** Arm-choosing span-removal readout — same selector as
    * [[spanScrubAuto]], feeding [[spanRemovalPlan]]'s `hitsFrom` hook
    * with [[repeatedHitsHashed]] above the crossover.
    */
  def spanRemovalPlanAuto(docs: DataFrame, n: Int = SpanGram,
      crossover: Long = SpanArmCrossoverBytes): DataFrame =
    spanRemovalPlan(docs, n,
      if (spanGramMassBytes(docs, n) <= crossover) None
      else Some(repeatedHitsHashed(docs, n)))

  /** Term-frequency cap in [[tfidfCosinePairs]]: within-document shingle
    * repeats beyond this add no weight (sublinear-tf in spirit, and the
    * hard bound that keeps every integer weight product long-safe at any
    * corpus size).
    */
  val TfidfTfCap = 255L

  /** Integer idf cap in [[tfidfCosinePairs]]: `min(N div df, cap)`.
    * Bounding the idf is what keeps the quantized weights (and therefore
    * the dot/norm sums) inside exact 64-bit range as N grows — the same
    * role the micro-unit scale plays for the embedding kernels.
    */
  val TfidfIdfCap = 1000L

  /** Per-document 3-shingle TERM FREQUENCIES (multiset counts, unlike
    * [[shingleIds]]' distinct sets), computed MAP-SIDE: the shingle list
    * and its per-row tf aggregation are pure array expressions over each
    * document, so the frame reaches its consumer with NO shuffle.
    *
    * tf comes from RUN LENGTHS over the sorted shingle array — run-start
    * positions by previous-element comparison, lengths by next-start
    * lookup — O(L log L) per document, so a pathological 100k-token
    * document costs a sort, not the O(L·distinct) quadratic scan a
    * per-shingle `filter` count would (1e10 comparisons on such a doc).
    */
  private[graft] def shingleTf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), expr(
        """CASE WHEN size(toks) < 3 THEN array()
          |ELSE sort_array(transform(sequence(1, size(toks) - 2),
          |  i -> xxhash64(element_at(toks, CAST(i AS INT)),
          |                element_at(toks, CAST(i AS INT) + 1),
          |                element_at(toks, CAST(i AS INT) + 2)))) END"""
          .stripMargin).as("sh"))
      .select(col("doc_id"), expr(
        // sequence(1, 0) is DESCENDING [1, 0], not empty — guard the
        // no-shingle docs before both sequence calls
        """CASE WHEN size(sh) = 0 THEN array()
          |ELSE filter(sequence(1, size(sh)),
          |  i -> i = 1 OR element_at(sh, CAST(i AS INT)) !=
          |                element_at(sh, CAST(i AS INT) - 1)) END"""
          .stripMargin).as("starts"), col("sh"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(starts) = 0 THEN array()
          |ELSE transform(sequence(1, size(starts)),
          |  j -> struct(
          |    element_at(sh, CAST(element_at(starts, CAST(j AS INT))
          |                        AS INT)) AS shingle,
          |    coalesce(try_element_at(starts, CAST(j AS INT) + 1),
          |             size(sh) + 1L)
          |      - element_at(starts, CAST(j AS INT)) AS tf)) END"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("p.shingle").as("shingle"),
        col("p.tf").cast("long").as("tf"))

  /** Weighted near-dup pairs by 3-shingle TF-IDF COSINE — the multiset
    * companion to [[ngramJaccardPairs]]' set Jaccard: two documents that
    * share rare shingles score higher than two sharing only common ones,
    * and within-document repetition counts. Same skew-safe df-cap shape
    * as [[ngramJaccardPairs]] (one-pass capped buffers, see
    * [[keptPostingWeightedLists]]), same posting-list pair enumeration,
    * same [[MaxShingleDf]] guard bounding every posting list — the
    * capped aggregate's exact count IS the df the idf weight needs.
    *
    * == Cross-engine determinism ==
    * Weights are INTEGER-QUANTIZED: `w = min(tf, TfidfTfCap) ·
    * min(N div df, TfidfIdfCap)` — integer division, no libm log — so
    * dot products and squared norms are exact order-independent long
    * sums; the cosine is then one per-pair IEEE DAG
    * (`dot / (sqrt(n2_a) · sqrt(n2_b))`) the DuckDB twin replays
    * verbatim. N (corpus size) is a single bounded driver scalar from a
    * count-pushdown parquet scan, interpolated as a plan literal.
    *
    * == Scale shape ==
    * tf derivation is map-side ([[shingleTf]]); cap, df, and posting
    * lists ride ONE skew-free capped aggregation of that stream (hot
    * keys ship count-only partial buffers); norms are a
    * keyed aggregate by doc_id over the weighted index's postings; pair
    * cost is Σ_shingles C(df, 2) with df ≤ the cap. Weight bounds:
    * w ≤ 255 · 1000, so a pair dot ≤ 6.6e10 per shared shingle — exact
    * in long up to ~1.4e8 shared shingles per pair, far beyond any
    * real document.
    */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double = 0.5,
      maxShingleDf: Long = MaxShingleDf): DataFrame = {
    val nDocs = docs.count()
    // one pass: the capped WEIGHTED aggregate collects each shingle's
    // (doc_id, tf) postings flat-packed with an exact df (the old shape
    // derived the stream twice — once through shingleTf, once through
    // shingleIds for the count-only arm — plus an anti-join and a
    // repartition); blocks arrive doc_id-sorted, identical to the old
    // sort_array(collect_list(struct(doc_id, tf))) order
    val index = keptPostingWeightedLists(shingleTf(docs), maxShingleDf)
      .select(col("shingle"), expr(
        s"""transform(sequence(1, CAST(size(ds) div 2 AS INT)),
           |  j -> struct(element_at(ds, CAST(2 * j - 1 AS INT)) AS doc_id,
           |    least(element_at(ds, CAST(2 * j AS INT)), $TfidfTfCap) *
           |    least($nDocs div df, $TfidfIdfCap) AS w))"""
          .stripMargin).as("ds"))
      .persist()
    // persisted: joined once per pair side (na and nb) — without it the
    // norm aggregation (explode + keyed sum over the weighted index) ran
    // twice (same two-join-sides blindness as ngramJaccardPairs' sizes)
    val norms = index.select(explode(col("ds")).as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.w").as("w"))
      .groupBy("doc_id")
      .agg(sum(col("w") * col("w")).as("n2"))
      .persist()
    val dots = index
      .select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |            b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
          |                        a.w * b.w AS ww))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(sum(col("p.ww")).as("dot"))
    val out = dots
      .join(norms.as("na"), col("doc_a") === col("na.doc_id"))
      .join(norms.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("dot"),
        col("na.n2").as("norm2_a"), col("nb.n2").as("norm2_b"),
        (col("dot").cast("double") /
          (sqrt(col("na.n2").cast("double")) *
            sqrt(col("nb.n2").cast("double")))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .localCheckpoint(true)
    norms.unpersist()
    index.unpersist()
    out
  }

  /** Benchmark decontamination: for every (training doc, benchmark doc)
    * pair sharing ≥ `minShared` distinct word n-grams, the overlap count
    * and the containment ratio shared/|bench n-grams| — the standard
    * train/eval contamination check a pretraining pipeline runs before
    * release (a containment near 1.0 means the benchmark document is
    * embedded in the training document).
    *
    * == Scale design ==
    * Benchmark sets are tiny relative to a 100 TB corpus, so the bench
    * n-gram index is BROADCAST: the corpus index streams map-side through
    * the hash join and only the surviving (corpus_id, bench_id) pairs
    * shuffle into the count — no corpus-side shuffle at all. n-grams are
    * 64-bit xxhash ids ([[ngramIds]]); the oracle joins the equivalent
    * string n-grams (bijective, see ngramIds doc).
    */
  def containmentPairs(corpus: DataFrame, bench: DataFrame, n: Int = 5,
      minShared: Long = 1L): DataFrame = {
    val bg = ngramIds(bench, n).persist()
    val bSizes = bg.groupBy(col("doc_id").as("bench_id"))
      .agg(count(lit(1)).as("bench_ngrams"))
    // DATA-DEPENDENT broadcasts (r17 verdict #4): "benchmark sets are
    // tiny" is an assumption about the CALLER's slice, not a bound by
    // construction — both hints go through the exact-bytes advisor,
    // whose planning scan is amortized by the persist() above
    val bgSide = graft.plans.Layout.advisedBroadcast(bg.as("b"),
      fixed = 16L)
    val shared = ngramIds(corpus, n).as("c")
      .join(bgSide, col("c.ngram") === col("b.ngram"))
      .groupBy(col("c.doc_id").as("corpus_id"),
        col("b.doc_id").as("bench_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
    val out = shared
      .join(graft.plans.Layout.advisedBroadcast(bSizes, fixed = 16L),
        Seq("bench_id"))
      .withColumn("containment",
        col("shared_ngrams") * lit(1.0) / col("bench_ngrams"))
      .select("corpus_id", "bench_id", "shared_ngrams", "bench_ngrams",
        "containment")
      .localCheckpoint(true)
    bg.unpersist()
    out
  }

  /** Bloom-filter decontamination geometry: m = 2¹⁶ bits, k = 3 hashes
    * (near-optimal k for the fixture's ~10⁴ eval shingles; FP rate
    * (1−e^(−kn/m))^k ≈ 2%). Positions come from the same affine
    * md5-prefix family as [[slotA]]/[[slotB]], with its own constants —
    * deterministic, literal-interpolated into the DuckDB twin.
    */
  val BloomBits = 65536
  val BloomHashes = 3
  def bloomA(i: Int): Long = ((2654435761L * (i + 17)) % SlotMod) | 1L
  def bloomB(i: Int): Long = (40503L * (i + 29)) % SlotMod

  /** Bloom-filter decontamination probe — the SCALE form of
    * [[containmentPairs]]: instead of joining corpus n-grams against the
    * benchmark index per pair, the benchmark's distinct shingles are
    * folded into a 2¹⁶-position bit set (built once, broadcast — at most
    * [[BloomBits]] rows after the distinct, whatever the benchmark
    * size), and every corpus shingle tests membership map-side: positive
    * iff ALL `k` of its positions are set. Per corpus doc: shingle
    * count, bloom-positive count, positive rate, and the contamination
    * flag at `threshold`. False positives are the documented ~2% — the
    * flag is a SCREEN (route to [[containmentPairs]] for adjudication),
    * which is exactly how a 100 TB decontamination pass is staged.
    *
    * The bit set is relational here (position rows + broadcast join —
    * semantically identical to probing a bitmap, exact and
    * oracle-checkable); a production variant would pack the same
    * positions into a broadcast bitmap, same plan shape.
    */
  def bloomDecontam(docs: DataFrame, threshold: Double = 0.2): DataFrame = {
    val eval = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    val baseHash = conv(substring(md5(col("shingle")), 1, 8), 16, 10)
      .cast("long")
    val bits = shingles(eval).select(baseHash.as("h")).distinct()
      .select(explode(array((0 until BloomHashes).map(i =>
        ((col("h") * bloomA(i) + bloomB(i)) % SlotMod) % BloomBits): _*))
        .as("bit_pos"))
      .distinct()
    val probes = shingles(corpus)
      .select(col("doc_id"), baseHash.as("h"))
      .select(col("doc_id"), col("h"),
        posexplode(array((0 until BloomHashes).map(i =>
          ((col("h") * bloomA(i) + bloomB(i)) % SlotMod) % BloomBits): _*))
          .as(Seq("i", "bit_pos")))
      .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("bit_pos"), "left")
      .groupBy(col("doc_id"), col("h"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_set"))
    probes.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_set") === BloomHashes, 1L).otherwise(0L))
          .as("n_bloom_pos"))
      .withColumn("pos_rate",
        col("n_bloom_pos").cast("double") / col("n_shingles").cast("double"))
      .withColumn("flagged", col("pos_rate") >= threshold)
      .select("doc_id", "n_shingles", "n_bloom_pos", "pos_rate", "flagged")
  }

  val MinhashK = 32     // signature length
  val BandRows = 2      // rows per band → 16 bands, P(cand|s=0.5) ≈ 0.99

  /** Distinct 3-shingle ids per document as ONE array column —
    * (doc_id, sh_arr array<long>) — the narrow form of [[shingleIds]]
    * (no explode, no shuffle).
    */
  def shingleIdArrays(docs: DataFrame): DataFrame =
    // r20: compiled NgramIdsKernel (split + xxhash64 + distinct fused,
    // bit-identical ids and order — kernel scaladoc)
    docs.select(col("doc_id"),
      graft.functions.NgramKernels.ngramIds(col("text"), 3).as("sh_arr"))

  /** MinHash signature per doc WITHOUT any shuffle: the codegen'd
    * [[graft.functions.MinHashSignature]] expression computes all k slot
    * minima in one pass over the doc's own shingle array — a purely
    * narrow projection, in contrast to an explode + groupBy of
    * `min(xxhash64(slot, shingle))` (which re-shuffles the whole corpus by
    * doc_id). Slot hashes replicate `xxhash64(slot, shingle)` exactly, so
    * both forms produce identical signatures (spec-pinned against the
    * aggregated form kept in the tests as the oracle). This is also the
    * form a STREAMING near-dup pass needs: signatures per micro-batch row
    * with no stateful aggregation (see
    * [[graft.streaming.NearDupStream]]). Docs with no 3-shingle (under 3
    * tokens) are dropped, matching the aggregated form's semantics (no
    * shingle rows → no group).
    */
  def minhashSignaturesNarrow(docs: DataFrame): DataFrame =
    // the no-shingle guard filters on TOKEN count BEFORE the n-gram
    // transform: a predicate on the computed array (size(sh_arr) > 0)
    // would be collapsed into the scan filter and re-evaluate the whole
    // interpreted higher-order transform once for the predicate and again
    // for the projection (measured 18x the projection cost at sf0.1)
    shingleIdArrays(docs.filter(size(split(col("text"), " ")) >= 3))
      .select(col("doc_id"),
        graft.functions.MinHashSignature.sig(col("sh_arr"), MinhashK)
          .as("sig"))

  /** LSH candidate pairs: same band hash in any band.
    *
    * r20: `banded` feeds BOTH self-join sides, and its narrow
    * (kernel-signature) derivation has no exchange of its own that
    * Spark could share — a broadcast self-join therefore re-derives the
    * whole tokenize + signature pipeline for the streamed side. The
    * SHUFFLE_HASH hint plans two IDENTICAL exchanges on the band key,
    * which ReuseExchange collapses into one: the derivation runs ONCE
    * and the join reads both sides from the same shuffle — also the
    * only viable shape at corpus scale, where the band table could
    * never broadcast.
    *
    * Skew assumption: the hint removes the sort-merge fallback, so one
    * (band, band_hash) bucket becomes one build-side hash map in one
    * task, and emits its n·(n−1)/2 pairs there before the `distinct`.
    * Nothing in the plan caps a bucket; what bounds it today is the
    * input. A bucket holds the docs whose [[BandRows]] slot minima all
    * coincide in that band — a near-duplicate cluster plus its exact
    * copies — and the corpora this engine runs on plant small clusters.
    * A boilerplate-heavy corpus (templated pages, shared licence or
    * footer text) puts thousands of docs in one bucket. Such corpora
    * need a stop-band cap like [[graft.streaming.NearDupStream]]'s
    * `maxPerBucket`: count the docs per bucket and drop the buckets
    * above the cap before the join, since a bucket that hot carries no
    * discriminating signal.
    */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    val nBands = MinhashK / BandRows
    val banded = sigs.select(col("doc_id"), posexplode(array(
      (0 until nBands).map(b => xxhash64(
        (0 until BandRows).map(r => col("sig")(b * BandRows + r)) :+
          lit(b): _*)): _*)).as(Seq("band", "band_hash")))
    banded.as("a").hint("shuffle_hash")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard computed ONLY for the given candidate pairs — the
    * verify step of LSH. Joins the shingle index to the pair list, so
    * cost is O(candidates × shingles-per-doc), never O(n²).
    */
  def jaccardForPairs(sh: DataFrame, pairs: DataFrame,
      sizesFrom: Option[DataFrame] = None): DataFrame = {
    // sizesFrom: a caller holding the per-doc distinct-shingle ARRAY
    // form passes `(doc_id, n)` derived narrowly (size(sh_arr) — no
    // shuffle); the default aggregates the exploded index
    val sizes = sizesFrom.getOrElse(
      sh.groupBy("doc_id").agg(count(lit(1)).as("n")))
    val inter = pairs
      .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sh.as("b"), col("doc_b") === col("b.doc_id") &&
        col("a.shingle") === col("b.shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter_size"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("union_size",
        col("sa.n") + col("sb.n") - col("inter_size"))
      .withColumn("jaccard",
        col("inter_size") * lit(1.0) / col("union_size"))
      .select("doc_a", "doc_b", "inter_size", "union_size", "jaccard")
  }

  /** Near-dup dedup via MinHash+LSH: candidates verified with exact
    * Jaccard RESTRICTED to the candidate set, then docs that duplicate a
    * lower doc_id are dropped. The shingle index is cached — it feeds
    * both the signature aggregation and the verify join.
    */
  def minhashDedupDocs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // r19: tokenize ONCE. The distinct-shingle ARRAY form feeds all
    // three consumers — the narrow signatures, the per-doc sizes
    // (size(sh_arr): a projection, where the old shape aggregated the
    // exploded index with a full shuffle, twice — once per join side),
    // and the exploded verify index. The r1–r18 shape derived the
    // tokenization twice (exploded index + signature arrays).
    val arrs = shingleIdArrays(
      docs.filter(size(split(col("text"), " ")) >= 3)).persist()
    val sh = arrs.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val sizes = arrs.select(col("doc_id"),
      size(col("sh_arr")).cast("long").as("n"))
    val cands = lshCandidates(arrs.select(col("doc_id"),
      graft.functions.MinHashSignature.sig(col("sh_arr"), MinhashK)
        .as("sig")))
    // eager checkpoint: the (tiny) verified pair set materializes NOW,
    // which lets the shingle cache be released before this function
    // returns; harnesses release the checkpoint's own blocks after the
    // consuming action (see graft.CheckpointLease)
    val verified = jaccardForPairs(sh, cands, sizesFrom = Some(sizes))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    arrs.unpersist()
    docs.join(verified.select(col("doc_b").as("doc_id")), Seq("doc_id"),
        "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Modulus of the portable slot-hash family (2^30: keeps every
    * `A_j · h` product under 2^62 — no int64 overflow on either engine,
    * no ANSI-mode throw).
    */
  val SlotMod: Long = 1L << 30

  /** Affine constants of the portable universal-hash family (odd
    * multipliers so each map is a bijection mod 2^30). Computed once in
    * Scala and interpolated as LITERALS into the DuckDB twin — both
    * engines evaluate identical integer arithmetic.
    *
    * The oracle-checked MinHash path hashes each shingle with ONE md5
    * (32-bit prefix, `CAST('0x' || substr(md5(s),1,8) AS BIGINT)` in
    * DuckDB — RFC 1321, bit-identical), then derives the k slot hashes
    * as `(A_j · h + B_j) mod 2^30` — integer arithmetic instead of k
    * string hashes (the previous md5-per-slot form was ~7x the whole
    * query). The xxhash64 path ([[minhashSignaturesNarrow]]) stays the
    * throughput form; recall of this family vs exact ground truth is
    * pinned in DedupSpec.
    */
  def slotA(j: Int): Long = ((2654435761L * (j + 1)) % SlotMod) | 1L
  def slotB(j: Int): Long = (40503L * (j + 7)) % SlotMod

  /** MinHash signatures over STRING shingles with the portable slot
    * hashes ([[slotA]], [[slotB]]), as a NARROW projection over the
    * per-doc shingle ARRAY (r20): the compiled
    * [[graft.functions.PortableMinHashSig]] kernel computes all k slot
    * minima in one pass — no explode, no md5-per-exploded-row, no
    * groupBy exchange of the corpus shingle stream per consumer.
    * Signatures are bit-identical (kernel scaladoc; DedupSpec pins the
    * identity against the aggregated form).
    *
    * Precondition: every `sh_arr` is non-empty. The kernel maps an empty
    * array to an all-`Long.MaxValue` sentinel signature, where the
    * aggregated form emits no row for a doc without shingles. Every
    * caller passes [[shingleStrArrays]] output, which keeps only docs
    * with at least 3 tokens, so each has at least one shingle.
    */
  def minhashSignaturesPortableNarrow(arrs: DataFrame): DataFrame =
    arrs
      .select(col("doc_id"), graft.functions.PortableMinHash.sig(
        col("sh_arr"),
        Array.tabulate(MinhashK)(slotA),
        Array.tabulate(MinhashK)(slotB), SlotMod).as("sig"))

  /** LSH candidates with portable band keys: the band key is the
    * ':'-joined decimal text of the band's signature slots (identical
    * long→string rendering on both engines), instead of an xxhash64 of
    * the slots.
    */
  def lshCandidatesPortable(sigs: DataFrame): DataFrame = {
    val nBands = MinhashK / BandRows
    // r20, two changes (guide §2.3/§2.4):
    //  - SHUFFLE_HASH self-join so the two identical band-key
    //    exchanges collapse (ReuseExchange) and the narrow kernel
    //    signature derivation runs ONCE — a broadcast self-join would
    //    re-derive the streamed side (measured: dedup_lsh_eval
    //    4 → 6.9 s with the broadcast plan);
    //  - the join keys on the band's SLOT LONGS directly instead of
    //    their ':'-joined decimal text: the string render was only
    //    ever an injective equality key (the DuckDB twin builds its
    //    own), so the candidate set is identical while the exchange
    //    carries 2 longs instead of a ~20-byte string per band row
    //    and the map side skips 16 string builds per doc.
    // The hint carries lshCandidates' skew assumption: one hot bucket
    // is one build-side hash map in one task (see its scaladoc).
    val banded = sigs.select(col("doc_id"), posexplode(array(
      (0 until nBands).map(b => struct(
        (0 until BandRows).map(r =>
          col("sig")(b * BandRows + r).as(s"k$r")): _*)): _*))
      .as(Seq("band", "bk")))
    banded.as("a").hint("shuffle_hash")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") &&
          col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** [[minhashDedupDocs]] with every hash portable (md5-prefix slot
    * hashes, decimal-text band keys) so the WHOLE LSH pipeline —
    * signatures, banding, candidate join, Jaccard verify, survivor
    * anti-join — is replicated in the DuckDB twin and hash-verified,
    * not just recall-gated. Same band geometry as the fast path, so
    * DedupSpec's recall pin transfers.
    */
  def minhashDedupDocsPortable(docs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // r20: tokenize ONCE (the minhashDedupDocs r19 device, portable
    // arm) — the distinct-shingle STRING array feeds the narrow md5
    // signature kernel, the per-doc sizes (a projection), and the
    // exploded verify index; the old shape exploded + re-aggregated
    // the shingle stream for signatures AND sizes
    val arrs = shingleStrArrays(docs).persist()
    val sh = arrs.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val sizes = arrs
      .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
    val cands = lshCandidatesPortable(minhashSignaturesPortableNarrow(arrs))
    val verified = jaccardForPairs(sh, cands, sizesFrom = Some(sizes))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    arrs.unpersist()
    docs.join(verified.select(col("doc_b").as("doc_id")), Seq("doc_id"),
        "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** CROSS-SOURCE NEAR-DUP MATRIX — which sources copy from which: the
    * verified portable-MinHash pair stream
    * ([[minhashDedupDocsPortable]]'s candidates + exact-Jaccard gate)
    * rolled up per unordered source pair. `intra` rows measure
    * within-source duplication (template/boilerplate pressure); cross
    * rows with high counts flag one source as a scrape or mirror of
    * another — the readout that drives per-source dedup and mixing
    * decisions upstream of training.
    *
    * Scale shape: everything through the verified pairs is the banded
    * MinHash path (bounded bucket fan-out, no all-pairs stage); the
    * rollups ride the PAIR table and a source-pair key whose
    * cardinality is sources² — metadata-sized.
    */
  def crossSourceDupMatrix(docs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // r20: tokenize once + narrow signature kernel (see
    // minhashDedupDocsPortable)
    val arrs = shingleStrArrays(docs).persist()
    val sh = arrs.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val sizes = arrs
      .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
    val cands = lshCandidatesPortable(minhashSignaturesPortableNarrow(arrs))
    val verified = jaccardForPairs(sh, cands, sizesFrom = Some(sizes))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b").localCheckpoint(true)
    arrs.unpersist()
    val src = docs.select(col("doc_id"), col("source"))
    val withSrc = verified
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"),
        col("doc_a"), col("doc_b"))
    val pairs = withSrc.groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
    val docsIn = withSrc
      .select(col("source_lo"), col("source_hi"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_docs"))
    pairs.join(docsIn, Seq("source_lo", "source_hi"))
      .withColumn("intra", col("source_lo") === col("source_hi"))
  }

  /** Incremental MinHash index maintenance — the 100 TB shape of
    * near-dup dedup under CONTINUOUS INGESTION. A naive pipeline
    * re-deduplicates the whole corpus every cycle (index×index work,
    * O(corpus²) banding collisions re-verified forever); the incremental
    * form keeps the band table of the already-indexed corpus as state
    * and only PROBES it with the new batch: candidate pairs are
    * batch×index plus batch×(lower-id batch), never index×index. Here
    * the split is by the `source` column (src0 plays the new batch);
    * at scale the index-side band table is the stored state and the
    * probe is a hash join partitioned by band key — shuffle volume
    * O(batch), not O(corpus).
    *
    * All hashes ride the portable md5 family
    * ([[minhashSignaturesPortableNarrow]]), candidates are verified with
    * exact Jaccard restricted to the candidate set, and a batch doc is
    * dropped iff it near-dups ANY indexed doc or a lower-id batch doc —
    * so the whole incremental pipeline is hash-verified end to end.
    * Per batch doc: candidate and verified-dup counts per side + keep.
    */
  def minhashIncremental(docs: DataFrame, batchSource: String = "src0",
      threshold: Double = 0.5): DataFrame = {
    // r20: tokenize once + narrow signature kernel (see
    // minhashDedupDocsPortable)
    val arrs = shingleStrArrays(docs).persist()
    val sh = arrs.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val sizes = arrs
      .select(col("doc_id"), size(col("sh_arr")).cast("long").as("n"))
    // the band table feeds FOUR consumers (two probe joins, each read by
    // a candidate count and a verify) — materialize it once (small:
    // nBands rows per doc) instead of re-running the signature
    // aggregation per consumer; at scale this is exactly the stored
    // index state the incremental design assumes
    val banded = {
      val nBands = MinhashK / BandRows
      minhashSignaturesPortableNarrow(arrs).select(col("doc_id"),
        posexplode(array(
        (0 until nBands).map(b => concat_ws(":",
          (0 until BandRows).map(r =>
            col("sig")(b * BandRows + r).cast("string")): _*)): _*))
        .as(Seq("band", "band_key")))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    }.localCheckpoint(true)
    val batchB = banded.filter(col("source") === batchSource)
    val indexB = banded.filter(col("source") =!= batchSource)
    def probe(other: DataFrame, cond: Column): DataFrame =
      batchB.as("a").join(other.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_key") === col("b.band_key") && cond)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    val candsX = probe(indexB, lit(true))
    val candsW = probe(batchB, col("a.doc_id") > col("b.doc_id"))
    // per-side counts materialize eagerly (tiny: ≤ one row per batch
    // doc) so the shingle cache can be released before returning — the
    // same pattern as [[minhashDedupDocsPortable]]
    def dupCounts(cands: DataFrame, prefix: String): DataFrame = {
      val nCand = cands.groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).as(s"n_cand_$prefix"))
      val nDup = jaccardForPairs(sh, cands, sizesFrom = Some(sizes))
        .filter(col("jaccard") >= threshold)
        .groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).as(s"n_dup_$prefix"))
      nCand.join(nDup, Seq("doc_id"), "left").localCheckpoint(true)
    }
    val countsX = dupCounts(candsX, "index")
    val countsW = dupCounts(candsW, "batch")
    val out = docs.filter(col("source") === batchSource).select("doc_id")
      .join(countsX, Seq("doc_id"), "left")
      .join(countsW, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand_index"), lit(0L)).as("n_cand_index"),
        coalesce(col("n_dup_index"), lit(0L)).as("n_dup_index"),
        coalesce(col("n_cand_batch"), lit(0L)).as("n_cand_batch"),
        coalesce(col("n_dup_batch"), lit(0L)).as("n_dup_batch"))
      .withColumn("keep",
        col("n_dup_index") === 0L && col("n_dup_batch") === 0L)
    arrs.unpersist()
    out
  }

  val SimhashBits = 32

  /** Portable 32-bit token hash: the first 8 hex chars of md5, parsed
    * as an unsigned integer — `conv(substr(md5(t),1,8),16,10)` here,
    * `CAST('0x' || substr(md5(t),1,8) AS BIGINT)` in DuckDB. md5 is
    * bit-identical across engines (RFC 1321), which is what upgrades
    * the simhash queries from rows-only to hash-verified oracle rows;
    * xxhash64 (the previous hash) exists only in Spark. 32 bits cover
    * every bit position [[SimhashBits]] reads.
    */
  def tokenHash64(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** 32-bit SimHash per doc from distinct-token hashes: bit j of the
    * fingerprint is the sign of Σ_tokens (±1 by bit j of
    * [[tokenHash64]](token)), with the bit-vote fold computed by the
    * narrow codegen'd [[graft.functions.SimHashFingerprint]] expression
    * — no explode, no shuffle (the former explode +
    * 32-conditional-sum aggregation re-shuffled every (doc, token)
    * pair; specs keep that form as the reference).
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.SimHashFingerprint.fp(
        transform(array_distinct(split(col("text"), " ")),
          t => tokenHash64(t)),
        SimhashBits).as("simhash"))

  /** SimHash dedup summary: docs sharing an identical fingerprint. */
  def simhashGroups(docs: DataFrame): DataFrame =
    simhash(docs).groupBy("simhash")
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("n_docs"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, found
    * via pigeonhole banding: split the 32-bit fingerprint into 4 bytes —
    * any pair within Hamming 3 must share at least one identical byte at
    * the same position, so candidates come from an equi-join on
    * (byte_idx, byte_value), never an O(n²) cross join. Exact distance is
    * then `bit_count(a XOR b)` (codegen'd built-in).
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // materialize fingerprints once: the banded self-join consumes this
    // subplan TWICE, and with no exchange anywhere upstream (the
    // fingerprint path is shuffle-free) Spark re-executes the full
    // md5-per-token pass per side — measured ~1.9x the query at sf0.1
    val fp = simhash(docs).localCheckpoint()
    val banded = fp.select(col("doc_id"), col("simhash"), posexplode(array(
      (0 until 4).map(b =>
        shiftright(col("simhash"), b * 8).bitwiseAND(0xFF)): _*))
      .as(Seq("byte_idx", "byte_val")))
    // r20: FIRST-MATCHING-BAND dedup as a narrow filter — a pair
    // sharing bytes in several bands matched once per band and paid a
    // full exchange + aggregation of the candidate stream to dedup
    // (measured 18.7 MB / the dominant stage at sf0.1). Keeping only
    // the row whose band is the pair's FIRST equal byte emits every
    // qualifying pair exactly once (it has a unique first match), so
    // the distinct disappears (guide §2.4). Same pair set, same
    // hamming values.
    val firstMatch = (0 until 3).map { i =>
      (col("a.byte_idx") <= i) ||
        (shiftright(col("a.simhash"), i * 8).bitwiseAND(0xFF) =!=
          shiftright(col("b.simhash"), i * 8).bitwiseAND(0xFF))
    }.reduce(_ && _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.byte_idx") === col("b.byte_idx") &&
          col("a.byte_val") === col("b.byte_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(firstMatch)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Source×source contamination matrix: for every pair of corpus
    * sources, the exact overlap of their distinct word-3-gram sets and
    * its Jaccard — the all-pairs generalization of [[containmentPairs]]'
    * one-target decontamination check, and the report a data curator
    * reads before mixing sources (high overlap ⇒ shared boilerplate or
    * mirrored content; a train source overlapping an eval source ⇒
    * contamination).
    *
    * Scale shape: the unit of work is the DISTINCT (source, shingle)
    * index — corpus bodies never join. The pair join is keyed by
    * shingle, and after the per-source distinct each shingle's posting
    * list is bounded by the SOURCE COUNT (not document count), so the
    * self-join fan-out is ≤ C(n_sources, 2) per shingle — skew-proof by
    * construction at any corpus size.
    */
  def decontamMatrix(docs: DataFrame): DataFrame = {
    // r20: compiled NgramStringsKernel — also dedups per doc BEFORE the
    // explode, so the global distinct's exchange carries per-doc-unique
    // rows (same distinct set either way)
    val bySource = docs
      .select(col("source"), explode(graft.functions.NgramKernels
        .ngramStrings(col("text"), 3)).as("shingle"))
      .distinct()
      .persist()
    try {
      val sizes = bySource.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = bySource.as("a")
        .join(bySource.as("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("inter_size"))
      val out = inter
        .join(broadcast(sizes).as("sa"), col("src_a") === col("sa.source"))
        .join(broadcast(sizes).as("sb"), col("src_b") === col("sb.source"))
        .withColumn("union_size", col("sa.n") + col("sb.n") - col("inter_size"))
        .withColumn("jaccard",
          col("inter_size").cast("double") / col("union_size").cast("double"))
        .select(col("src_a"), col("src_b"), col("inter_size"),
          col("sa.n").as("n_a"), col("sb.n").as("n_b"),
          col("union_size"), col("jaccard"))
      out.localCheckpoint(true)
    } finally bySource.unpersist(false)
  }

  /** Thresholds evaluated by [[dedupThresholdSweep]]. */
  val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Dedup-rate what-if curve: for each candidate Jaccard threshold, how
    * many documents a near-dup pass at that threshold would DROP (docs
    * whose best lower-id partner reaches it) and keep — the sizing query
    * run before committing a 100 TB dedup pass to one threshold, the
    * exact-Jaccard complement of [[lshEval]]'s band-geometry tuning.
    *
    * One pass: the pair list collapses to each doc's BEST (max) Jaccard
    * against any lower doc_id — a keyed max, no window — then a 5-row
    * explode scores every threshold against that per-doc max. The
    * threshold comparison happens on the same IEEE division both engines
    * compute, so the row counts hash-match. Pair derivation reuses
    * [[ngramJaccardPairs]] at threshold 0.5 (the sweep's floor).
    */
  def dedupThresholdSweep(docs: DataFrame,
      thresholds: Seq[Double] = SweepThresholds): DataFrame = {
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val bestJ = ngramJaccardPairs(docs)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(max(col("jaccard")).as("best_j"))
    val perThreshold = bestJ
      .select(col("best_j"), explode(
        array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(sum(when(col("best_j") >= col("threshold"), 1L).otherwise(0L))
        .as("n_dropped"))
    perThreshold.crossJoin(broadcast(nDocs))
      .select(col("threshold"), col("n_dropped"),
        (col("n_docs") - col("n_dropped")).as("n_kept"),
        (col("n_dropped").cast("double") / col("n_docs").cast("double"))
          .as("drop_rate"))
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_threshold_sweep" -> ((s, d) =>
      dedupThresholdSweep(Tables.documents(s, d))),
    "decontam_matrix"     -> ((s, d) => decontamMatrix(Tables.documents(s, d))),
    "dedup_exact_groups"  -> ((s, d) => exactGroups(Tables.documents(s, d))),
    "dedup_exact_docs"    -> ((s, d) => exactDocs(Tables.documents(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) =>
      ngramJaccardPairs(Tables.documents(s, d))),
    "dedup_prefix_jaccard" -> ((s, d) =>
      prefixJaccardPairs(Tables.documents(s, d))),
    "dedup_jaccard_auto" -> ((s, d) =>
      jaccardPairsAuto(Tables.documents(s, d))),
    "dedup_repeated_spans" -> ((s, d) =>
      repeatedSpans(Tables.documents(s, d))),
    "dedup_span_removal" -> ((s, d) =>
      spanRemovalPlan(Tables.documents(s, d))),
    "dedup_spans_hashed" -> ((s, d) =>
      repeatedSpansHashed(Tables.documents(s, d))),
    "dedup_span_scrub" -> ((s, d) =>
      spanScrub(Tables.documents(s, d))),
    // the hashed-fed transforms (r17 verdict #3): same outputs as their
    // exact-fed counterparts — the hook swaps only the candidate
    // aggregation's shuffle width — so the twins are shared verbatim
    "dedup_scrub_hashed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      spanScrub(docs, SpanGram, Some(scrubFlagsHashed(docs, SpanGram)))
    }),
    "dedup_removal_hashed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      spanRemovalPlan(docs, SpanGram,
        Some(repeatedHitsHashed(docs, SpanGram)))
    }),
    // arm-choosing span transforms (r18 verdict #5): the engine measures
    // the corpus' gram-shuffle mass and picks exact vs hashed feed per
    // corpus; outputs identical either way, twins shared verbatim
    "dedup_scrub_auto" -> ((s, d) =>
      spanScrubAuto(Tables.documents(s, d))),
    "dedup_removal_auto" -> ((s, d) =>
      spanRemovalPlanAuto(Tables.documents(s, d))),
    "dedup_ngram_capped"  -> ((s, d) =>
      ngramJaccardPairsCapped(Tables.documents(s, d))),
    "dedup_containment"   -> ((s, d) =>
      containmentDedupPairs(Tables.documents(s, d))),
    "decontam_ngrams"     -> ((s, d) => {
      val docs = Tables.documents(s, d)
      containmentPairs(docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"))
    }),
    "decontam_bloom"      -> ((s, d) => bloomDecontam(Tables.documents(s, d))),
    "dedup_minhash_lsh"   -> ((s, d) =>
      minhashDedupDocs(Tables.documents(s, d))),
    "dedup_minhash_md5"   -> ((s, d) =>
      minhashDedupDocsPortable(Tables.documents(s, d))),
    "dedup_source_matrix" -> ((s, d) =>
      crossSourceDupMatrix(Tables.documents(s, d))),
    "dedup_incremental"   -> ((s, d) =>
      minhashIncremental(Tables.documents(s, d))),
    "dedup_simhash"       -> ((s, d) => simhashGroups(Tables.documents(s, d))),
    "dedup_simhash_near"  -> ((s, d) =>
      simhashNearDupPairs(Tables.documents(s, d))),
    "dedup_lsh_eval"      -> ((s, d) => lshEval(Tables.documents(s, d))),
    "dedup_tfidf_cosine"  -> ((s, d) =>
      tfidfCosinePairs(Tables.documents(s, d))),
  )

  /** Shared fingerprint CTEs of the simhash oracle twins: per-token
    * md5-prefix hashes ([[tokenHash64]]'s DuckDB spelling), then the
    * 32 bit-vote sums and the sign fold — generated per bit position so
    * both engines evaluate the identical integer arithmetic.
    */
  /** [[bloomDecontam]]'s twin: identical affine position arithmetic with
    * the constants interpolated, UNION ALL arm per hash.
    */
  private def duckBloomSql: String = {
    def arms(src: String, cols: String): String =
      (0 until BloomHashes).map { i =>
        s"""SELECT $cols ((h * ${bloomA(i)} + ${bloomB(i)}) % $SlotMod)
           |             % $BloomBits AS bit_pos FROM $src""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
    s"""WITH d AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source, shingle FROM (
       |    SELECT doc_id, source,
       |           unnest([array_to_string(toks[i:i+2], ' ')
       |                   for i in range(1, len(toks) - 1)]) AS shingle
       |    FROM d)),
       |eh AS (
       |  SELECT DISTINCT CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT)
       |           AS h
       |  FROM sh WHERE source = 'src0'),
       |bits AS (SELECT DISTINCT bit_pos FROM (
       |  ${arms("eh", "")})),
       |ch AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h
       |  FROM sh WHERE source <> 'src0'),
       |pp AS (
       |  ${arms("ch", "doc_id, h,")}),
       |hits AS (
       |  SELECT pp.doc_id, pp.h,
       |         CAST(sum(CASE WHEN b.bit_pos IS NOT NULL THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_set
       |  FROM pp LEFT JOIN bits b ON pp.bit_pos = b.bit_pos
       |  GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_shingles,
       |         CAST(sum(CASE WHEN n_set = $BloomHashes THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_bloom_pos
       |  FROM hits GROUP BY 1),
       |f AS (
       |  SELECT doc_id, n_shingles, n_bloom_pos,
       |         CAST(n_bloom_pos AS DOUBLE) / CAST(n_shingles AS DOUBLE)
       |           AS pos_rate
       |  FROM agg)
       |SELECT *, pos_rate >= 0.2 AS flagged FROM f""".stripMargin
  }

  private def duckSimhashCtes: String = {
    val bitSums = (0 until SimhashBits).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n       ")
    val fpExpr = (0 until SimhashBits).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
       |           AS tok
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h
       |  FROM tok),
       |bs AS (
       |  SELECT doc_id,
       |       $bitSums
       |  FROM h GROUP BY 1),
       |fp AS (SELECT doc_id, CAST($fpExpr AS BIGINT) AS simhash FROM bs)"""
      .stripMargin
  }

  /** Full LSH oracle twin of [[minhashDedupDocsPortable]]: the same 32
    * md5-prefix slot minima, 16 decimal-text band keys, candidate join,
    * Jaccard verify, and survivor anti-join — generated per slot/band so
    * both engines evaluate the identical arithmetic.
    */
  /** LSH tuning report: the band-geometry evaluation run before
    * committing a MinHash configuration to a 100 TB dedup pass. Exact
    * near-dup pairs ([[ngramJaccardPairs]], the ground truth) are
    * full-outer-joined against the portable LSH CANDIDATE pairs
    * (banding only, pre-verification) and reduced to one row: truth
    * size, candidate volume, hits, and the two exact-int-derived
    * ratios — precision (how much candidate volume the verify join must
    * pay for) and recall (what the banding loses). The join keys are
    * pair ids — both inputs are pair-sized (tiny next to the corpus);
    * everything upstream reuses the existing scale-safe pipelines.
    */
  def lshEval(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val truth = ngramJaccardPairs(docs, threshold)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("t"))
    val cands =
      // r20: narrow md5 signature kernel over the per-doc shingle
      // array — no explode + groupBy exchange for the candidate arm
      lshCandidatesPortable(
        minhashSignaturesPortableNarrow(shingleStrArrays(docs)))
        .select(col("doc_a"), col("doc_b"), lit(1L).as("c"))
    truth.join(cands, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("t"), lit(0L))).as("n_true"),
        sum(coalesce(col("c"), lit(0L))).as("n_cand"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_cand")).as("precision"),
        (col("n_hit").cast("double") / col("n_true")).as("recall"))
  }

  /** [[lshEval]]'s DuckDB twin: the exact-pair CTEs (df-capped, as in
    * the `dedup_ngram_jaccard` oracle) composed with the portable
    * signature/banding CTEs (as in the `dedup_minhash_md5` oracle),
    * reduced by the same full-outer pair join.
    */
  private def duckLshEvalSql: String = {
    val mins = (0 until MinhashK).map(j =>
      s"min((h * ${slotA(j)} + ${slotB(j)}) % $SlotMod) AS h$j")
      .mkString(",\n         ")
    val nBands = MinhashK / BandRows
    val bandRows = (0 until nBands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"CAST(h${b * BandRows + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"  SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""WITH sh0 AS (
       |  SELECT doc_id,
       |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
       |                               for i in range(1, len(toks)-1)]))
       |           AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |hh AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h
       |  FROM sh0),
       |shc AS (
       |  SELECT doc_id, shingle FROM sh0
       |  WHERE shingle IN (SELECT shingle FROM sh0
       |                    GROUP BY 1 HAVING count(*) <= 1000)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         count(*) AS inter_size
       |  FROM shc a JOIN shc b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b
       |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |             JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE inter_size * 1.0 / (sa.n + sb.n - inter_size) >= 0.5),
       |sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hh GROUP BY 1),
       |banded AS (
       |$bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |f AS (
       |  SELECT coalesce(t.is_t, 0) AS is_t, coalesce(c.is_c, 0) AS is_c
       |  FROM (SELECT doc_a, doc_b, 1 AS is_t FROM truth) t
       |  FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS is_c FROM cand) c
       |    USING (doc_a, doc_b))
       |SELECT CAST(sum(is_t) AS BIGINT) AS n_true,
       |       CAST(sum(is_c) AS BIGINT) AS n_cand,
       |       CAST(sum(is_t * is_c) AS BIGINT) AS n_hit,
       |       CAST(CAST(sum(is_t * is_c) AS BIGINT) AS DOUBLE)
       |         / CAST(sum(is_c) AS BIGINT) AS precision,
       |       CAST(CAST(sum(is_t * is_c) AS BIGINT) AS DOUBLE)
       |         / CAST(sum(is_t) AS BIGINT) AS recall
       |FROM f""".stripMargin
  }

  /** Shared portable-MinHash pair CTE chain (shingles → md5 slot
    * hashes → signatures → bands → candidates → exact intersections),
    * ending in `inter` + `sizes` — composed by the `dedup_minhash_md5`
    * survivor twin and the `dedup_source_matrix` rollup so the
    * signature arithmetic can never drift between them.
    */
  private def duckMinhashPairCtes: String = {
    val mins = (0 until MinhashK).map(j =>
      s"min((h * ${slotA(j)} + ${slotB(j)}) % $SlotMod) AS h$j")
      .mkString(",\n         ")
    val nBands = MinhashK / BandRows
    val bandRows = (0 until nBands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"CAST(h${b * BandRows + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"  SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""sh0 AS (
       |  SELECT doc_id,
       |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
       |                               for i in range(1, len(toks)-1)]))
       |           AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |hh AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h
       |  FROM sh0),
       |sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hh GROUP BY 1),
       |banded AS (
       |$bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS i
       |  FROM cand c
       |  JOIN sh0 a ON c.doc_a = a.doc_id
       |  JOIN sh0 b ON c.doc_b = b.doc_id AND a.shingle = b.shingle
       |  GROUP BY 1, 2)""".stripMargin
  }

  private def duckMinhashPortableSql: String =
    s"""WITH $duckMinhashPairCtes,
       |dropped AS (
       |  SELECT DISTINCT i.doc_b
       |  FROM inter i
       |  JOIN sizes sa ON i.doc_a = sa.doc_id
       |  JOIN sizes sb ON i.doc_b = sb.doc_id
       |  WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_b FROM dropped)""".stripMargin

  /** [[minhashIncremental]]'s twin: the portable signature/banding CTEs
    * with the band table split by source, probe joins (batch×index and
    * batch×lower-batch), exact-Jaccard verification, and per-batch-doc
    * rollups — the identical arithmetic at every step.
    */
  private def duckIncrementalSql: String = {
    val mins = (0 until MinhashK).map(j =>
      s"min((h * ${slotA(j)} + ${slotB(j)}) % $SlotMod) AS h$j")
      .mkString(",\n         ")
    val nBands = MinhashK / BandRows
    val bandRows = (0 until nBands).map { b =>
      val key = (0 until BandRows)
        .map(r => s"CAST(h${b * BandRows + r} AS VARCHAR)")
        .mkString(" || ':' || ")
      s"  SELECT doc_id, $b AS band, $key AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n")
    def interCte(cand: String): String =
      s"""SELECT c.doc_a, c.doc_b, count(*) AS i
         |       FROM $cand c
         |       JOIN sh0 a ON c.doc_a = a.doc_id
         |       JOIN sh0 b ON c.doc_b = b.doc_id
         |                 AND a.shingle = b.shingle
         |       GROUP BY 1, 2""".stripMargin
    def dupCte(inter: String): String =
      s"""SELECT i.doc_a, count(*) AS n_dup
         |       FROM $inter i
         |       JOIN sizes sa ON i.doc_a = sa.doc_id
         |       JOIN sizes sb ON i.doc_b = sb.doc_id
         |       WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5
         |       GROUP BY 1""".stripMargin
    s"""WITH sh0 AS (
       |  SELECT doc_id,
       |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
       |                               for i in range(1, len(toks)-1)]))
       |           AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |hh AS (
       |  SELECT doc_id,
       |         CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h
       |  FROM sh0),
       |sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hh GROUP BY 1),
       |banded0 AS (
       |$bandRows),
       |banded AS (
       |  SELECT banded0.*, d.source FROM banded0
       |  JOIN documents d USING (doc_id)),
       |cx AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |  WHERE a.source = 'src0' AND b.source <> 'src0'),
       |cw AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id > b.doc_id
       |  WHERE a.source = 'src0' AND b.source = 'src0'),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY 1),
       |ix AS (${interCte("cx")}),
       |iw AS (${interCte("cw")}),
       |dx AS (${dupCte("ix")}),
       |dw AS (${dupCte("iw")}),
       |ncx AS (SELECT doc_a, count(*) AS n_cand FROM cx GROUP BY 1),
       |ncw AS (SELECT doc_a, count(*) AS n_cand FROM cw GROUP BY 1)
       |SELECT d.doc_id,
       |       coalesce(ncx.n_cand, 0) AS n_cand_index,
       |       coalesce(dx.n_dup, 0) AS n_dup_index,
       |       coalesce(ncw.n_cand, 0) AS n_cand_batch,
       |       coalesce(dw.n_dup, 0) AS n_dup_batch,
       |       coalesce(dx.n_dup, 0) = 0 AND coalesce(dw.n_dup, 0) = 0
       |         AS keep
       |FROM documents d
       |LEFT JOIN ncx ON d.doc_id = ncx.doc_a
       |LEFT JOIN dx ON d.doc_id = dx.doc_a
       |LEFT JOIN ncw ON d.doc_id = ncw.doc_a
       |LEFT JOIN dw ON d.doc_id = dw.doc_a
       |WHERE d.source = 'src0'""".stripMargin
  }

  /** DuckDB twins (xxhash64 minhash is hash-dependent → rows-only; the
    * portable variant below is fully oracle-checked).
    */
  /** The naive pairwise-Jaccard twin, shared by dedup_ngram_jaccard and
    * dedup_prefix_jaccard (identical cut by the prefix-filter lemma).
    */
  private val duckNgramJaccardSql: String =
    """WITH sh0 AS (
      |  SELECT doc_id,
      |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
      |                               for i in range(1, len(toks)-1)]))
      |           AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents)),
      |sh AS (
      |  SELECT doc_id, shingle FROM sh0
      |  WHERE shingle IN (SELECT shingle FROM sh0
      |                    GROUP BY 1 HAVING count(*) <= 1000)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         count(*) AS inter_size
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter_size,
      |       sa.n + sb.n - inter_size AS union_size,
      |       inter_size * 1.0 / (sa.n + sb.n - inter_size) AS jaccard
      |FROM inter
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE inter_size * 1.0 / (sa.n + sb.n - inter_size) >= 0.5"""
      .stripMargin

  /** The repeated-span CTE chain (ends at `spans(doc_id, span_start,
    * span_end, span_tokens, n_dup_grams)`), shared by the
    * dedup_repeated_spans twin and dedup_span_removal's roll-up so the
    * two can never drift.
    */
  /** The token-position prefix (`d`, `pos`) shared by every span twin. */
  private val duckSpanPosCtes: String =
    s"""d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, p.i AS i, p.gram AS gram
       |  FROM (
       |    SELECT doc_id,
       |           unnest([{'i': CAST(i AS BIGINT),
       |                    'gram': array_to_string(
       |                              toks[i:i+${SpanGram - 1}], ' ')}
       |                   for i in range(1, len(toks) - ${SpanGram - 2})])
       |             AS p
       |    FROM d WHERE len(toks) >= $SpanGram) q)""".stripMargin

  private val duckRepeatedSpanCtes: String =
    s"""$duckSpanPosCtes,
       |dup AS (
       |  SELECT gram FROM (
       |    SELECT gram, count(DISTINCT doc_id) AS nd
       |    FROM pos GROUP BY 1)
       |  WHERE nd >= 2),
       |hits AS (SELECT doc_id, i FROM pos JOIN dup USING (gram)),
       |isl AS (
       |  SELECT doc_id, i,
       |         i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
       |           AS isl
       |  FROM hits),
       |spans AS (
       |  SELECT doc_id,
       |         min(i) AS span_start,
       |         CAST(max(i) + ${SpanGram - 1} AS BIGINT) AS span_end,
       |         CAST(max(i) + ${SpanGram - 1} - min(i) + 1 AS BIGINT)
       |           AS span_tokens,
       |         count(*) AS n_dup_grams
       |  FROM isl GROUP BY doc_id, isl)""".stripMargin

  /** [[spanScrub]]'s twin — shared verbatim by the exact-fed and
    * hashed-fed registrations (the hash never reaches the output).
    */
  private def duckSpanScrubSql: String =
      s"""WITH $duckSpanPosCtes,
         |dupc AS (
         |  SELECT gram, min({'doc_id': doc_id, 'i': i}) AS canon
         |  FROM pos GROUP BY gram
         |  HAVING count(DISTINCT doc_id) >= 2),
         |flagged AS (
         |  SELECT p.doc_id, p.i
         |  FROM pos p JOIN dupc USING (gram)
         |  WHERE NOT (p.doc_id = canon.doc_id AND p.i = canon.i)),
         |isl2 AS (
         |  SELECT doc_id, i,
         |         i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
         |           AS isl
         |  FROM flagged),
         |spans2 AS (
         |  SELECT doc_id, min(i) AS s,
         |         CAST(max(i) + ${SpanGram - 1} AS BIGINT) AS e
         |  FROM isl2 GROUP BY doc_id, isl),
         |remove AS (
         |  SELECT DISTINCT doc_id, CAST(unnest(range(s, e + 1)) AS BIGINT)
         |           AS j
         |  FROM spans2),
         |toks AS (
         |  SELECT doc_id, CAST(t.j AS BIGINT) AS j, t.tok AS tok
         |  FROM (
         |    SELECT doc_id,
         |           unnest([{'j': CAST(j AS BIGINT), 'tok': toks[j]}
         |                   for j in range(1, len(toks) + 1)]) AS t
         |    FROM d) q),
         |rebuilt AS (
         |  SELECT t.doc_id,
         |         count(*) AS kept_tokens,
         |         string_agg(t.tok, ' ' ORDER BY t.j) AS clean_text
         |  FROM toks t ANTI JOIN remove r
         |    ON t.doc_id = r.doc_id AND t.j = r.j
         |  GROUP BY 1)
         |SELECT doc_id,
         |       CAST(len(toks) AS BIGINT) AS n_tokens,
         |       coalesce(kept_tokens, 0) AS kept_tokens,
         |       CAST(len(toks) AS BIGINT) - coalesce(kept_tokens, 0)
         |         AS removed_tokens,
         |       coalesce(clean_text, '') AS clean_text
         |FROM d LEFT JOIN rebuilt USING (doc_id)""".stripMargin

  /** [[spanRemovalPlan]]'s twin — shared verbatim by the exact-fed and
    * hashed-fed registrations.
    */
  private def duckSpanRemovalSql: String =
      s"""WITH $duckRepeatedSpanCtes,
         |covered AS (
         |  -- island extents can overlap (starts 2..n-1 apart): count
         |  -- DISTINCT covered positions, never sum span_tokens
         |  SELECT doc_id, span_start,
         |         CAST(unnest(range(span_start, span_end + 1)) AS BIGINT)
         |           AS j
         |  FROM spans),
         |perdoc AS (
         |  SELECT doc_id,
         |         CAST(count(DISTINCT j) AS BIGINT) AS repeated_tokens,
         |         CAST(count(DISTINCT span_start) AS BIGINT) AS n_spans
         |  FROM covered GROUP BY 1)
         |SELECT doc_id,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |       coalesce(repeated_tokens, 0) AS repeated_tokens,
         |       coalesce(n_spans, 0) AS n_spans,
         |       CAST(coalesce(repeated_tokens, 0) AS DOUBLE) /
         |         CAST(len(string_split(text, ' ')) AS DOUBLE)
         |         AS repeated_share
         |FROM documents LEFT JOIN perdoc USING (doc_id)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "dedup_incremental" -> duckIncrementalSql,
    "dedup_repeated_spans" ->
      s"""WITH $duckRepeatedSpanCtes
         |SELECT doc_id, span_start, span_end, span_tokens, n_dup_grams
         |FROM spans""".stripMargin,
    // identical output by construction (hash only selects candidates,
    // literal grams re-verify): same twin as the exact arm
    "dedup_spans_hashed" ->
      s"""WITH $duckRepeatedSpanCtes
         |SELECT doc_id, span_start, span_end, span_tokens, n_dup_grams
         |FROM spans""".stripMargin,
    "dedup_span_scrub" -> duckSpanScrubSql,
    "dedup_scrub_hashed" -> duckSpanScrubSql,
    "dedup_span_removal" -> duckSpanRemovalSql,
    "dedup_removal_hashed" -> duckSpanRemovalSql,
    "dedup_scrub_auto" -> duckSpanScrubSql,
    "dedup_removal_auto" -> duckSpanRemovalSql,
    "dedup_minhash_md5" -> duckMinhashPortableSql,
    "dedup_source_matrix" ->
      s"""WITH $duckMinhashPairCtes,
         |ver AS (
         |  SELECT i.doc_a, i.doc_b
         |  FROM inter i
         |  JOIN sizes sa ON i.doc_a = sa.doc_id
         |  JOIN sizes sb ON i.doc_b = sb.doc_id
         |  WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.5),
         |ws AS (
         |  SELECT least(da.source, db.source) AS source_lo,
         |         greatest(da.source, db.source) AS source_hi,
         |         v.doc_a, v.doc_b
         |  FROM ver v
         |  JOIN documents da ON v.doc_a = da.doc_id
         |  JOIN documents db ON v.doc_b = db.doc_id),
         |p AS (
         |  SELECT source_lo, source_hi, count(*) AS n_pairs
         |  FROM ws GROUP BY 1, 2),
         |dd AS (
         |  SELECT source_lo, source_hi, count(*) AS n_docs FROM (
         |    SELECT DISTINCT source_lo, source_hi, doc_id FROM (
         |      SELECT source_lo, source_hi,
         |             unnest([doc_a, doc_b]) AS doc_id
         |      FROM ws))
         |  GROUP BY 1, 2)
         |SELECT p.source_lo, p.source_hi, p.n_pairs, dd.n_docs,
         |       p.source_lo = p.source_hi AS intra
         |FROM p JOIN dd USING (source_lo, source_hi)""".stripMargin,
    "dedup_lsh_eval" -> duckLshEvalSql,
    "dedup_simhash" ->
      s"""WITH $duckSimhashCtes
         |SELECT simhash, min(doc_id) AS keeper_doc_id,
         |       count(*) AS n_docs
         |FROM fp GROUP BY 1""".stripMargin,
    // the engine finds candidates by pigeonhole byte-banding, which is
    // COMPLETE for hamming <= 3 over 4 bytes (any such pair shares an
    // identical byte), so the oracle's direct pair join over
    // fingerprints is the same operator — the banding is a pruning of
    // the join, not a semantics change (DedupSpec pins completeness)
    "dedup_simhash_near" ->
      s"""WITH $duckSimhashCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
         |         AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "dedup_exact_groups" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keeper_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_exact_docs" ->
      """SELECT doc_id, lang, source, n_chars
        |FROM (SELECT *, row_number() OVER (PARTITION BY text
        |              ORDER BY doc_id) AS rn FROM documents)
        |WHERE rn = 1""".stripMargin,
    // replicates the engine's MaxShingleDf=1000 skew guard so query and
    // oracle compute the SAME operator at every SF (round-3 advice: at
    // test SF the cap never fires — max df 25 — but a divergence-by-SF
    // between verified query and oracle is still a latent wrong-answer)
    "dedup_containment" ->
      """WITH sh0 AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |                               for i in range(1, len(toks)-1)]))
        |           AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  WHERE shingle IN (SELECT shingle FROM sh0
        |                    GROUP BY 1 HAVING count(*) <= 1000)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS inter_size
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter_size,
        |       sa.n AS n_a, sb.n AS n_b,
        |       inter_size * 1.0 / least(sa.n, sb.n) AS containment,
        |       inter_size * 1.0 / (sa.n + sb.n - inter_size) AS jaccard,
        |       CASE WHEN sa.n <= sb.n THEN doc_a ELSE doc_b END
        |         AS contained_doc
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE inter_size * 1.0 / least(sa.n, sb.n) >= 0.8""".stripMargin,
    // the prefix-filtered arm's cut is IDENTICAL to the naive one (the
    // filter lemma in prefixJaccardPairs' scaladoc), so it shares the
    // naive twin verbatim — any divergence is an engine bug, not a twin
    "dedup_prefix_jaccard" -> duckNgramJaccardSql,
    "dedup_ngram_jaccard" -> duckNgramJaccardSql,
    // arm choice never changes the cut (equivalence lemma): same twin
    "dedup_jaccard_auto" -> duckNgramJaccardSql,
    // the capped variant's oracle replicates the df cap: shingles in >5
    // docs are dropped from the index before sizes/intersections
    "dedup_ngram_capped" ->
      """WITH sh0 AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |                               for i in range(1, len(toks)-1)]))
        |           AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  WHERE shingle IN (SELECT shingle FROM sh0
        |                    GROUP BY 1 HAVING count(*) <= 5)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS inter_size
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter_size,
        |       sa.n + sb.n - inter_size AS union_size,
        |       inter_size * 1.0 / (sa.n + sb.n - inter_size) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE inter_size * 1.0 / (sa.n + sb.n - inter_size) >= 0.5"""
        .stripMargin,
    // threshold what-if sweep over the same exact-Jaccard pair CTEs —
    // including the MaxShingleDf stop-shingle cap the Spark derivation
    // applies (invisible at test SF where max df is ~25, but the oracle
    // must be the SAME operator at every SF)
    "dedup_threshold_sweep" ->
      s"""WITH sh0 AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
        |                               for i in range(1, len(toks)-1)]))
        |           AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  WHERE shingle IN (SELECT shingle FROM sh0
        |                    GROUP BY 1 HAVING count(*) <= $MaxShingleDf)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS inter_size
        |  FROM sh a JOIN sh b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_b,
        |         inter_size * 1.0 / (sa.n + sb.n - inter_size) AS j
        |  FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE inter_size * 1.0 / (sa.n + sb.n - inter_size) >= 0.5),
        |best AS (SELECT doc_b AS doc_id, max(j) AS best_j
        |         FROM pairs GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |t AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
        |             AS threshold),
        |per AS (
        |  SELECT t.threshold,
        |         CAST(sum(CASE WHEN best.best_j >= t.threshold
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |  FROM t JOIN best ON TRUE GROUP BY 1)
        |SELECT per.threshold, per.n_dropped,
        |       nd.n_docs - per.n_dropped AS n_kept,
        |       CAST(per.n_dropped AS DOUBLE) / CAST(nd.n_docs AS DOUBLE)
        |         AS drop_rate
        |FROM per, nd""".stripMargin,
    // integer-quantized tf-idf weights (tf/idf caps and the df skew
    // guard interpolated from the Scala constants), exact long sums,
    // one per-pair IEEE cosine DAG — replayed verbatim
    "dedup_tfidf_cosine" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks
         |              FROM documents),
         |shall AS (
         |  SELECT doc_id,
         |         unnest([array_to_string(toks[i:i+2], ' ')
         |                 for i in range(1, len(toks)-1)]) AS shingle
         |  FROM toks),
         |tf AS (SELECT doc_id, shingle, count(*) AS tf
         |       FROM shall GROUP BY 1, 2),
         |df AS (SELECT shingle, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n FROM documents),
         |w AS (
         |  SELECT tf.doc_id, tf.shingle,
         |         least(tf.tf, $TfidfTfCap) *
         |           least(nd.n // df.df, $TfidfIdfCap) AS w
         |  FROM tf JOIN df USING (shingle) CROSS JOIN nd
         |  WHERE df.df <= $MaxShingleDf),
         |norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS n2
         |          FROM w GROUP BY 1),
         |dots AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(sum(a.w * b.w) AS BIGINT) AS dot
         |  FROM w a JOIN w b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, dot,
         |       na.n2 AS norm2_a, nb.n2 AS norm2_b,
         |       CAST(dot AS DOUBLE) /
         |         (sqrt(CAST(na.n2 AS DOUBLE)) *
         |          sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         |FROM dots
         |JOIN norms na ON doc_a = na.doc_id
         |JOIN norms nb ON doc_b = nb.doc_id
         |WHERE CAST(dot AS DOUBLE) /
         |      (sqrt(CAST(na.n2 AS DOUBLE)) *
         |       sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5""".stripMargin,
    "decontam_bloom" -> duckBloomSql,
    // all-pairs source contamination matrix over distinct word-3-grams
    "decontam_matrix" ->
      """WITH d AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT DISTINCT source, shingle FROM (
        |    SELECT source,
        |           unnest([array_to_string(toks[i:i+2], ' ')
        |                   for i in range(1, len(toks)-1)]) AS shingle
        |    FROM d)),
        |sizes AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         count(*) AS inter_size
        |  FROM g a JOIN g b
        |    ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.inter_size,
        |       sa.n AS n_a, sb.n AS n_b,
        |       sa.n + sb.n - i.inter_size AS union_size,
        |       CAST(i.inter_size AS DOUBLE) /
        |         CAST(sa.n + sb.n - i.inter_size AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN sizes sa ON i.src_a = sa.source
        |JOIN sizes sb ON i.src_b = sb.source""".stripMargin,
    // decontamination: 5-gram containment of the src0 "benchmark" docs
    // in every other-source training doc
    "decontam_ngrams" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct([array_to_string(toks[i:i+4], ' ')
        |                               for i in range(1, len(toks)-3)]))
        |           AS ngram
        |  FROM d),
        |bench AS (SELECT doc_id, ngram FROM g WHERE source = 'src0'),
        |corpus AS (SELECT doc_id, ngram FROM g WHERE source <> 'src0'),
        |bsizes AS (SELECT doc_id AS bench_id, count(*) AS bench_ngrams
        |           FROM bench GROUP BY 1),
        |shared AS (
        |  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
        |         count(*) AS shared_ngrams
        |  FROM corpus c JOIN bench b ON c.ngram = b.ngram
        |  GROUP BY 1, 2)
        |SELECT corpus_id, bench_id, shared_ngrams, bench_ngrams,
        |       shared_ngrams * 1.0 / bench_ngrams AS containment
        |FROM shared JOIN bsizes USING (bench_id)
        |WHERE shared_ngrams >= 1""".stripMargin,
  )
}
