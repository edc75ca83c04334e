package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Corpus-curation operators a pretraining data pipeline runs between
  * cleaning and tokenization: sequence packing, stratified sampling, and
  * weighted dataset mixing. All three are deterministic (no RNG — modular
  * arithmetic and systematic strides), so they carry full DuckDB oracles.
  *
  * == Scale design ==
  * - [[packSequences]] windows WITHIN each source shard
  *   (`partitionBy(source)`), never globally: a global running sum would
  *   funnel 100 TB through one task, while per-shard packing is how real
  *   pipelines work anyway (each shard's docs are concatenated and chunked
  *   independently, so shards parallelize perfectly).
  * - [[stratifiedSample]] is one window per stratum — strata (languages)
  *   partition the data, so the sort parallelizes across them.
  * - [[weightedMix]] is a narrow filter (no shuffle at all): the mixture
  *   decision is a pure function of (doc_id, source), which also makes the
  *   sample REPRODUCIBLE — rerunning the pipeline on the same corpus
  *   yields byte-identical training mixes, a property random sampling
  *   loses the moment partitioning changes.
  */
object Curation {

  /** Context-window token budget for [[packSequences]]. */
  val PackWindow = 2048L

  /** Greedy sequential packing: per source shard, docs (in doc_id order)
    * are assigned to consecutive context-window bins by their exclusive
    * running token count — bin k holds the docs whose preceding tokens
    * total in [k·window, (k+1)·window). The concat-and-chunk
    * approximation every LLM data loader uses, summarized per bin
    * (doc count, token fill, id range).
    */
  def packSequences(docs: DataFrame, window: Long = PackWindow): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(w), lit(0L)))
      // long-through-double floor is exact below 2^53 tokens per shard;
      // identical expression on the oracle side
      .withColumn("bin_id",
        floor(col("cum_before") / lit(window.toDouble)).cast("long"))
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
  }

  /** Systematic stratified sample: every `every`-th document per language
    * stratum in doc_id order — equal sampling RATE per stratum regardless
    * of stratum size, with no RNG.
    */
  def stratifiedSample(docs: DataFrame, every: Int = 7): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
    docs.withColumn("rn", row_number().over(w))
      .filter((col("rn") - 1) % every === 0)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Rows kept per class by [[balancedSample]]. */
  val BalancedPerClass = 50

  /** BALANCED PER-CLASS SAMPLE — equal COUNT per language regardless of
    * class size (contrast [[stratifiedSample]]'s equal RATE): the first
    * `perClass` documents per lang in portable-Knuth-hash order
    * ([[Corpus.portableHash]] — pseudo-random yet exactly replayable
    * under any partitioning, the property RNG samples lose). Classes
    * smaller than `perClass` keep everything — the class-rebalancing
    * primitive in front of fine-tuning mixes and eval set construction.
    *
    * Scale shape: one narrow projection + one per-class window over
    * hash order; the window partitions by class, so skewed classes
    * cost their own partition only, and the output is
    * `classes × perClass`-bounded.
    */
  def balancedSample(docs: DataFrame,
      perClass: Int = BalancedPerClass): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("h", "doc_id")
    docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        Corpus.portableHash(col("doc_id"), "balancedSample").as("h"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= perClass)
      .select("doc_id", "lang", "source", "n_chars", "sample_rank")
  }

  /** Weighted dataset mixing: each source shard `srcN` keeps
    * `20 + 3·N` percent of its documents, selected by `doc_id % 100` —
    * the deterministic form of "sample source X at weight w into the
    * training mix". Keeps are a pure function of the row, so the mix is
    * stable under repartitioning and re-runs.
    */
  def weightedMix(docs: DataFrame): DataFrame =
    docs
      .withColumn("rate_pct",
        lit(20) + expr("CAST(substring(source, 4) AS INT)") * 3)
      .filter(col("doc_id") % 100 < col("rate_pct"))
      .select("doc_id", "lang", "source", "rate_pct")

  /** Deterministic train/val/test split: the document's Knuth-hash u32
    * (same portable hash and id-domain guard story as
    * [[Corpus.shardAssign]]) lands in integer threshold buckets —
    * `floor(cumFrac · 2³²)` — so the assignment is exact (no floating
    * comparison anywhere), reproducible under any partitioning, and
    * stable when the corpus grows (a doc's split never depends on other
    * docs — the property percentile-based splitting loses). Narrow: pure
    * projection, no shuffle.
    */
  val DefaultSplits: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** The split label of an arbitrary non-negative id column — the ONE
    * place the portable hash + integer-threshold cascade is spelled
    * out, shared by [[splitAssign]] (per-document ids) and
    * [[splitByCluster]] (cluster-representative ids).
    */
  def splitCol(id: org.apache.spark.sql.Column,
      fracs: Seq[(String, Double)] = DefaultSplits): org.apache.spark.sql.Column = {
    require(fracs.nonEmpty && math.abs(fracs.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got $fracs")
    val maxId = Long.MaxValue / 2654435761L
    val guarded = when(id.between(0L, maxId), id)
      .otherwise(raise_error(lit(
        s"splitCol: id outside portable-hash domain [0, $maxId]")))
    val h = (guarded * 2654435761L) % 4294967296L
    val thresholds = fracs.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.min(4294967296L, math.floor(c * 4294967296.0).toLong))
    fracs.init.zip(thresholds).foldRight(lit(fracs.last._1)) {
      case (((name, _), t), els) => when(h < t, lit(name)).otherwise(els)
    }
  }

  def splitAssign(docs: DataFrame,
      fracs: Seq[(String, Double)] = DefaultSplits): DataFrame =
    docs.select(col("doc_id"), splitCol(col("doc_id"), fracs).as("split"))

  /** Cluster-aware split — the FIX for what [[splitLeakageAudit]]
    * measures: every document inherits the split of its near-dup
    * CLUSTER representative (the cluster's minimum doc_id; singletons
    * are their own representative), so the members of a near-dup pair
    * hash the same id and can never straddle train/val/test. Emits the
    * representative and whether the doc MOVED relative to the naive
    * per-document split — the migration cost of fixing leakage.
    *
    * Scale shape: cluster labels are the bounded near-dup fixpoint
    * ([[Components.nearDupClusters]]); one left join onto the corpus id
    * projection, then narrow hash arithmetic.
    */
  def splitByCluster(docs: DataFrame,
      fracs: Seq[(String, Double)] = DefaultSplits): DataFrame = {
    val labels = Components.nearDupClusters(docs)
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep_id"))
      .select(col("doc_id"), col("rep_id"),
        splitCol(col("rep_id"), fracs).as("split"))
      .withColumn("moved",
        col("split") =!= splitCol(col("doc_id"), fracs))
  }

  /** The split CASE cascade as DuckDB SQL over a hash column — the
    * SAME scanLeft/floor threshold arithmetic as [[splitCol]],
    * interpolated into the split twins so retuning [[DefaultSplits]]
    * can never silently diverge query from oracle (the thresholds used
    * to be hardcoded literals in three places).
    */
  private def splitCaseSql(hashCol: String,
      fracs: Seq[(String, Double)] = DefaultSplits): String = {
    val thresholds = fracs.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.min(4294967296L, math.floor(c * 4294967296.0).toLong))
    val whens = fracs.init.zip(thresholds).map { case ((name, _), t) =>
      s"WHEN $hashCol < $t THEN '$name'"
    }.mkString(" ")
    s"CASE $whens ELSE '${fracs.last._1}' END"
  }

  /** Per-source keeper budget for [[sourceCap]] (the fixtures carry 25
    * docs/source, so 20 drops a fifth of every source — the cap fires
    * without erasing a source).
    */
  val SourceCapN = 20

  /** Per-source document cap — the C4/RefinedWeb "at most N documents
    * per domain" pass that stops one prolific source from dominating
    * the mix: within each source, keep the `cap` highest-priority
    * documents (exact token count DESC — keep the substantive ones —
    * with doc_id as the deterministic tie-break) and flag the rest.
    *
    * Scale shape: the keeper set comes from the custom
    * [[graft.plans.TopKPerGroup]] heap operator, NOT a per-source
    * window sort — a hot domain with 10⁹ docs costs one bounded heap
    * per partition plus a cap-sized merge instead of sorting the whole
    * domain in one task; the verdict join back is a keyed left join.
    */
  def sourceCap(docs: DataFrame, cap: Int = SourceCapN): DataFrame = {
    // materialized ONCE: the scored projection feeds both the heap and
    // the verdict join — left lazy, the full-corpus tokenization would
    // execute twice (the ngramJaccardPairs shingle-index pattern)
    val scored = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .localCheckpoint(true)
    val keep = graft.plans.TopKPerGroup(scored, Seq("source"),
        Seq("n_tokens" -> true, "doc_id" -> false), k = cap)
      .select(col("doc_id"), lit(true).as("in_cap"))
    scored.join(keep, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        coalesce(col("in_cap"), lit(false)).as("kept"))
  }

  /** Train/val/test LEAKAGE audit — the check run before any eval is
    * trusted: how many near-duplicate pairs ([[Dedup.ngramJaccardPairs]],
    * the oracle-checked exact-Jaccard detector) STRADDLE the
    * [[splitAssign]] split boundaries. A near-dup of a training doc
    * sitting in val/test inflates eval scores exactly like benchmark
    * contamination; the fix is splitting by DEDUP CLUSTER rather than
    * by document, and this query quantifies how much that matters on a
    * given corpus. One row per unordered split pair (least/greatest
    * normalization) with the cross-split rows flagged `leaky`.
    *
    * Scale shape: the pair set is the already-bounded near-dup output
    * (orders of magnitude below the corpus); two keyed joins against
    * the narrow split projection and one tiny keyed count.
    */
  def splitLeakageAudit(docs: DataFrame): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs).select("doc_a", "doc_b")
    val splits = splitAssign(docs)
    val sa = splits.select(col("doc_id").as("doc_a"),
      col("split").as("split_a"))
    val sb = splits.select(col("doc_id").as("doc_b"),
      col("split").as("split_b"))
    pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .select(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaky", col("split_lo") =!= col("split_hi"))
  }

  /** Quality-filter funnel: the per-stage survivor report every corpus
    * curation run publishes — how many documents pass each successive
    * filter (minimum length → lexical diversity → stopword ceiling →
    * repetition ceiling), where stage k counts docs passing ALL filters
    * up to k. Every predicate is an exact integer cross-multiplication
    * (`distinct·10 ≥ tokens·3`, never a float ratio compare), so
    * boundary docs land identically in every engine; survival rates
    * divide exact counts once.
    *
    * ONE narrow scan computes all per-doc flags; the aggregate is a
    * single reduce to one row, exploded to long format — at 100 TB this
    * is a full-corpus map + a 5-value combine, the minimum possible.
    */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val flags = docs.select(
      size(t).as("n_tok"),
      size(array_distinct(t)).as("n_dis"),
      size(expr("filter(split(text, ' '), x -> x IN ('the', 'a'))"))
        .as("n_stop"),
      size(expr(
        """CASE WHEN size(split(text, ' ')) < 2 THEN array()
          |ELSE array_distinct(transform(
          |  sequence(1, size(split(text, ' ')) - 1),
          |  i -> concat_ws(' ', slice(split(text, ' '), i, 2)))) END"""
          .stripMargin)).as("dis2"))
      .select(
        when(col("n_tok") >= 20, 1L).otherwise(0L).as("p1"),
        when(col("n_dis") * 10 >= col("n_tok") * 3, 1L).otherwise(0L)
          .as("p2"),
        when(col("n_stop") * 2 <= col("n_tok"), 1L).otherwise(0L).as("p3"),
        // duplicated-2-gram fraction < 0.5 ⇔ distinct2·2 > total2
        when(col("dis2") * 2 > greatest(col("n_tok") - 1, lit(0)), 1L)
          .otherwise(0L).as("p4"))
    val agg = flags.agg(
      count(lit(1)).as("n0"),
      sum(col("p1")).as("n1"),
      sum(col("p1") * col("p2")).as("n2"),
      sum(col("p1") * col("p2") * col("p3")).as("n3"),
      sum(col("p1") * col("p2") * col("p3") * col("p4")).as("n4"))
    val stages = Seq("0_input" -> "n0", "1_min_length" -> "n1",
      "2_diversity" -> "n2", "3_stopwords" -> "n3", "4_repetition" -> "n4")
    agg.select(explode(array(stages.map { case (name, c) =>
        struct(lit(name).as("stage"), col(c).as("n_survivors"),
          (col(c).cast("double") / col("n0")).as("survival_rate"))
      }: _*)).as("s"))
      .select(col("s.stage").as("stage"),
        col("s.n_survivors").as("n_survivors"),
        col("s.survival_rate").as("survival_rate"))
  }

  /** Weighted sample by PRIORITY SAMPLING (Duffield–Lund–Thorup, JACM
    * 2007): each document draws the deterministic pseudo-uniform
    * `u = (2h+1)/2³³` from the portable Knuth hash
    * `h = (doc_id·2654435761) mod 2³²` (odd numerator, so u is strictly
    * inside (0,1)) and the k LARGEST priorities `q = w/u` win —
    * inclusion probability increasing in weight `w` (here `n_chars`:
    * sample big documents preferentially), fully reproducible under any
    * partitioning or re-run, like [[splitAssign]].
    *
    * Oracle-comparable BY CONSTRUCTION (this replaced the earlier
    * Efraimidis–Spirakis `ln(u)/w` key, which crossed libm `ln` and
    * pinned the query rows-only): `q = (w·2³³)/(2h+1)` is ONE
    * correctly-rounded IEEE division of two exactly-representable
    * integers — `w·2³³ ≤ 10⁶·2³³ < 2⁵³` (guarded) and `2h+1 < 2³³` —
    * so both engines compute bit-identical keys and the
    * (q desc, doc_id) cut is total and portable.
    *
    * Scale shape: narrow key projection; the top-k is a TakeOrdered
    * (per-partition heaps + merge), never a global sort.
    */
  def weightedReservoir(docs: DataFrame, k: Int = 200): DataFrame = {
    val maxId = Long.MaxValue / 2654435761L
    val guardedId = when(col("doc_id").between(0L, maxId), col("doc_id"))
      .otherwise(raise_error(lit(
        s"weightedReservoir: doc_id outside portable-hash domain [0, $maxId]")))
    val guardedW = when(col("n_chars").between(1L, 1000000L), col("n_chars"))
      .otherwise(raise_error(lit(
        "weightedReservoir: weight outside [1, 1e6] (w*2^33 must stay " +
          "exactly representable in a double)")))
    val h = (guardedId * 2654435761L) % 4294967296L
    docs
      .withColumn("res_key",
        (guardedW * lit(8589934592L)).cast("double") /
          (h * 2L + 1L).cast("double"))
      .orderBy(col("res_key").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "lang", "source", "n_chars", "res_key")
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  /** Length-bucketed batching profile: each doc is assigned to the
    * smallest power-of-two context bucket that holds it (capped at
    * `maxLen` — longer docs are truncated, the standard loader
    * behavior), and per bucket we account the padding economics a
    * training run would pay: real tokens, padded slots
    * (`n_docs · bucket_len`), waste share, and the number of fixed
    * token-budget batches (`budget div bucket_len` rows per batch).
    * All integer arithmetic + one division per bucket.
    *
    * Scale shape: one narrow scan → ≤ 9 bucket rows (value-domain
    * bounded); the batch math is post-aggregate.
    */
  def batchPadding(docs: DataFrame, maxLen: Int = 4096,
      budget: Int = 16384): DataFrame = {
    val nTok = least(size(split(col("text"), " ")).cast("long"), lit(maxLen.toLong))
    // smallest power-of-two >= n_tokens, floor 16: a fixed CASE ladder
    // (identical on the oracle side) rather than log2 — no libm
    val bucket = when(nTok <= 16L, 16L).when(nTok <= 32L, 32L)
      .when(nTok <= 64L, 64L).when(nTok <= 128L, 128L)
      .when(nTok <= 256L, 256L).when(nTok <= 512L, 512L)
      .when(nTok <= 1024L, 1024L).when(nTok <= 2048L, 2048L)
      .otherwise(4096L)
    docs.select(nTok.as("n_tokens"), bucket.as("bucket_len"))
      .groupBy("bucket_len")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("real_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("bucket_len"))
      .withColumn("waste_share",
        (col("padded_tokens") - col("real_tokens")).cast("double") /
          col("padded_tokens"))
      .withColumn("rows_per_batch", expr(s"${budget.toLong}L div bucket_len"))
      .withColumn("n_batches",
        expr("(n_docs + rows_per_batch - 1) div rows_per_batch"))
      .select("bucket_len", "n_docs", "real_tokens", "padded_tokens",
        "waste_share", "rows_per_batch", "n_batches")
  }

  /** Epoch repetition policy (data-constrained scaling): each source
    * tier is repeated a fixed number of epochs — tier
    * `suffix(source) mod 4` → 4/3/2/1 epochs — and the exploded
    * training instances are accounted per (source, epoch). The explode
    * is `sequence(1, repeats)`, so the multiplier is row-local (no
    * shuffle before the final keyed agg) and the plan scales linearly
    * in output rows.
    */
  def epochRepeats(docs: DataFrame): DataFrame = {
    val tier = expr("CAST(substring(source, 4) AS LONG) % 4")
    docs.select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (lit(4L) - tier).as("repeats"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("repeats"),
        explode(sequence(lit(1L), col("repeats"))).as("epoch"))
      .groupBy("source", "epoch")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        max("repeats").as("repeats"))
  }

  /** Hash-bucket fan-out for [[domainRelevance]]. */
  val RelevanceBuckets = 1024L
  /** Weight unit for [[domainRelevance]] (basis points). */
  val RelevanceScale = 10000L

  /** DSIR-style domain-relevance scoring (Xie et al., "Data Selection
    * for Language Models via Importance Resampling"): hash every word
    * bigram into [[RelevanceBuckets]] buckets, estimate each bucket's
    * target-vs-corpus frequency ratio from a TARGET slice (here
    * `source = 'src0'`, the same slice [[Dedup]] treats as the benchmark
    * set), and score every document by the mean ratio of its bigrams —
    * the importance weight used to up-sample target-like data.
    *
    * All arithmetic is exact integers: bucket weight
    * `w_b = (Scale · t_b · N_c) DIV (c_b · N_t)` (basis points of the
    * frequency ratio, truncating division — identical to DuckDB `//` on
    * these non-negatives), doc score = int64 sum / DIV-mean of its
    * bigrams' weights. The int64 headroom bound is
    * `Scale · t_b · N_c < 2^63` — fine to ~1e12 corpus bigrams at this
    * Scale; past that a production run drops to the xxhash64 + double
    * log-weight form (same plan shape, no oracle).
    *
    * == Scale shape ==
    * One narrow bigram+bucket scan feeds two keyed aggregates over the
    * FIXED 1024-bucket domain (map-side combine collapses each task to
    * ≤1024 rows — shuffle is constant-size regardless of corpus);
    * the weight table broadcasts back onto the per-doc rollup. Nothing
    * data-sized crosses the driver.
    */
  def domainRelevance(docs: DataFrame,
      targetSource: String = "src0"): DataFrame = {
    val grams = docs
      .select(col("doc_id"), col("source"),
        split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
        .as("gram"))
      .select(col("doc_id"), col("source"),
        pmod(Dedup.tokenHash64(col("gram")), lit(RelevanceBuckets))
          .as("bucket"))
    val perBucket = grams
      .groupBy("bucket")
      .agg(count(lit(1)).as("c_b"),
        sum(when(col("source") === targetSource, 1L).otherwise(0L))
          .as("t_b"))
    val totals = perBucket.agg(sum("c_b").as("n_c"), sum("t_b").as("n_t"))
    val weights = perBucket.crossJoin(broadcast(totals))
      .select(col("bucket"),
        expr(s"($RelevanceScale * t_b * n_c) DIV (c_b * n_t)").as("w"))
    grams
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_grams"), sum("w").as("w_sum"))
      .select(col("doc_id"), col("source"), col("n_grams"), col("w_sum"),
        expr("w_sum DIV n_grams").as("w_avg"))
  }

  /** Sample size per group for [[hashReservoirPerSource]]. */
  val ReservoirK = 10

  /** Deterministic per-source k-document sample: order each source's
    * docs by `md5(doc_id)` (a uniform, reproducible permutation — the
    * derandomized form of reservoir sampling, so reruns and the oracle
    * agree bit-for-bit) and keep the k smallest. Executed with the
    * bounded [[graft.plans.TopKPerGroup]] heap operator — per-partition
    * k-heaps then a k-per-group merge, NO window over the corpus and no
    * full sort, so the shuffle carries at most `k · n_partitions` rows
    * per source at any corpus size.
    */
  def hashReservoirPerSource(docs: DataFrame,
      k: Int = ReservoirK): DataFrame = {
    val keyed = docs.select(col("source"), col("doc_id"),
      md5(col("doc_id").cast("string")).as("h"))
    graft.plans.TopKPerGroup(keyed, Seq("source"),
      Seq("h" -> false, "doc_id" -> false), k = k)
      .select("source", "doc_id", "h")
  }

  /** Training phases of [[curriculumPlan]]. */
  val CurriculumPhases = 4L

  /** Quality-curriculum phase planner — the training-order side of
    * model-based filtering: score every document with the hashed linear
    * quality model ([[graft.ext.TextAnalysis.linearQuality]]), then cut
    * the corpus into `phases` equal-mass phases by ascending score
    * (phase 0 = lowest quality first, the quality-ascending curriculum
    * recipe). The cut NEVER ranks the corpus globally: scores collapse
    * to an integer centi-score key (bounded by the weight range,
    * ±4 800 values), phase boundaries come from cumulative counts over
    * that tiny VALUE DOMAIN — the [[graft.plans.Layout.rangePartitionPlan]]
    * split arithmetic — and docs get their phase back through a join
    * against the (broadcastable) score-domain table. One corpus scan,
    * one doc-keyed shuffle, no global window over docs.
    */
  def curriculumPlan(s: SparkSession, docs: DataFrame,
      phases: Long = CurriculumPhases): DataFrame = {
    val scored = graft.ext.TextAnalysis.linearQuality(s, docs)
      .select(col("doc_id"), col("n_tokens"), col("score_raw"))
      // integer centi-score (div truncates toward zero on both engines
      // — the labelCentroids-pinned semantics)
      .withColumn("score_c", expr("(score_raw * 100) div n_tokens"))
    val perKey = scored.groupBy("score_c").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("score_c").rowsBetween(Long.MinValue, 0)
    val wAll = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val phaseOf = perKey
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("n_total", sum(col("n")).over(wAll))
      .select(col("score_c"),
        expr(s"((cum - n) * $phases) div n_total").as("phase"))
    scored.join(broadcast(phaseOf), Seq("score_c"))
      .select(col("doc_id"), col("n_tokens"), col("score_c"), col("phase"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_curriculum" -> ((s, d) =>
      curriculumPlan(s, Tables.documents(s, d))),
    "sample_reservoir"  -> ((s, d) =>
      hashReservoirPerSource(Tables.documents(s, d))),
    "dsir_relevance"    -> ((s, d) => domainRelevance(Tables.documents(s, d))),
    "batch_padding"     -> ((s, d) => batchPadding(Tables.documents(s, d))),
    "curation_repeats"  -> ((s, d) => epochRepeats(Tables.documents(s, d))),
    "sample_weighted"   -> ((s, d) =>
      weightedReservoir(Tables.documents(s, d))),
    "curation_funnel"   -> ((s, d) => filterFunnel(Tables.documents(s, d))),
    "split_assign"      -> ((s, d) => splitAssign(Tables.documents(s, d))),
    "curation_source_cap" -> ((s, d) => sourceCap(Tables.documents(s, d))),
    "split_leakage_audit" -> ((s, d) =>
      splitLeakageAudit(Tables.documents(s, d))),
    "split_by_cluster" -> ((s, d) =>
      splitByCluster(Tables.documents(s, d))),
    "pack_sequences"    -> ((s, d) => packSequences(Tables.documents(s, d))),
    "sample_stratified" -> ((s, d) =>
      stratifiedSample(Tables.documents(s, d))),
    "sample_balanced" -> ((s, d) =>
      balancedSample(Tables.documents(s, d))),
    "mix_weighted"      -> ((s, d) => weightedMix(Tables.documents(s, d))),
  )

  /** DuckDB twins of [[queries]]. */
  def oracleSql: Map[String, String] = Map(
    "sample_weighted" ->
      """SELECT doc_id, lang, source, n_chars,
        |       CAST(n_chars * 8589934592 AS DOUBLE)
        |         / CAST(((doc_id * 2654435761) % 4294967296) * 2 + 1
        |                AS DOUBLE) AS res_key
        |FROM documents
        |ORDER BY res_key DESC, doc_id
        |LIMIT 200""".stripMargin,
    "curation_curriculum" ->
      s"""WITH w AS (
         |  SELECT range AS slot,
         |         ((range * 2654435761 + 104729) % 97) - 48 AS w
         |  FROM range(4096)),
         |t AS (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
         |           % 4096 AS slot
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |        FROM documents)),
         |a AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         CAST(sum(w.w) AS BIGINT) AS score_raw
         |  FROM t JOIN w USING (slot) GROUP BY 1),
         |k AS (
         |  SELECT doc_id, n_tokens,
         |         (score_raw * 100) // n_tokens AS score_c
         |  FROM a),
         |pk AS (SELECT score_c, count(*) AS n FROM k GROUP BY 1),
         |c AS (
         |  SELECT score_c, n,
         |         sum(n) OVER (ORDER BY score_c ROWS UNBOUNDED PRECEDING)
         |           AS cum,
         |         sum(n) OVER () AS n_total
         |  FROM pk),
         |p AS (
         |  SELECT score_c,
         |         ((cum - n) * $CurriculumPhases) // n_total AS phase
         |  FROM c)
         |SELECT k.doc_id, k.n_tokens, k.score_c,
         |       CAST(p.phase AS BIGINT) AS phase
         |FROM k JOIN p USING (score_c)""".stripMargin,
    "sample_reservoir" ->
      """SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY source
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 10""".stripMargin,
    "dsir_relevance" ->
      """WITH g AS (
        |  SELECT doc_id, source,
        |         CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 1024
        |           AS bucket
        |  FROM (
        |    SELECT doc_id, source,
        |           unnest([toks[i] || ' ' || toks[i+1]
        |                   for i in range(1, len(toks))]) AS gram
        |    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
        |          FROM documents)
        |    WHERE len(toks) >= 2)),
        |pb AS (
        |  SELECT bucket, count(*) AS c_b,
        |         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS t_b
        |  FROM g GROUP BY 1),
        |tot AS (SELECT sum(c_b) AS n_c, sum(t_b) AS n_t FROM pb),
        |w AS (
        |  -- CAST: sum() is HUGEINT in DuckDB and would reach pandas as
        |  -- float; BIGINT keeps the compare exact
        |  SELECT bucket,
        |         CAST((10000 * t_b * n_c) // (c_b * n_t) AS BIGINT) AS w
        |  FROM pb, tot)
        |SELECT g.doc_id, g.source,
        |       count(*) AS n_grams,
        |       CAST(sum(w.w) AS BIGINT) AS w_sum,
        |       CAST(sum(w.w) AS BIGINT) // count(*) AS w_avg
        |FROM g JOIN w USING (bucket)
        |GROUP BY 1, 2""".stripMargin,
    "batch_padding" ->
      """WITH t AS (
        |  SELECT least(len(string_split(text, ' ')), 4096) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT n_tokens,
        |         CASE WHEN n_tokens <= 16 THEN 16
        |              WHEN n_tokens <= 32 THEN 32
        |              WHEN n_tokens <= 64 THEN 64
        |              WHEN n_tokens <= 128 THEN 128
        |              WHEN n_tokens <= 256 THEN 256
        |              WHEN n_tokens <= 512 THEN 512
        |              WHEN n_tokens <= 1024 THEN 1024
        |              WHEN n_tokens <= 2048 THEN 2048
        |              ELSE 4096 END AS bucket_len
        |  FROM t),
        |a AS (
        |  SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
        |         count(*) AS n_docs,
        |         CAST(sum(n_tokens) AS BIGINT) AS real_tokens
        |  FROM b GROUP BY 1),
        |p AS (
        |  SELECT *, n_docs * bucket_len AS padded_tokens,
        |         16384 // bucket_len AS rows_per_batch
        |  FROM a)
        |SELECT bucket_len, n_docs, real_tokens, padded_tokens,
        |       CAST(padded_tokens - real_tokens AS DOUBLE) / padded_tokens
        |         AS waste_share,
        |       rows_per_batch,
        |       (n_docs + rows_per_batch - 1) // rows_per_batch AS n_batches
        |FROM p""".stripMargin,
    "curation_repeats" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         4 - (CAST(substr(source, 4) AS BIGINT) % 4) AS repeats
        |  FROM documents),
        |e AS (
        |  SELECT source, doc_id, n_tokens, repeats,
        |         unnest(range(1, repeats + 1)) AS epoch
        |  FROM t)
        |SELECT source, CAST(epoch AS BIGINT) AS epoch, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |       CAST(max(repeats) AS BIGINT) AS repeats
        |FROM e GROUP BY 1, 2""".stripMargin,
    "curation_funnel" ->
      """WITH f AS (
        |  SELECT len(toks) AS n_tok,
        |         len(list_distinct(toks)) AS n_dis,
        |         len(list_filter(toks, x -> x IN ('the', 'a'))) AS n_stop,
        |         len(list_distinct(
        |           CASE WHEN len(toks) < 2 THEN []
        |                ELSE [array_to_string(toks[i:i+1], ' ')
        |                      for i in range(1, len(toks))] END)) AS dis2
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents)),
        |p AS (
        |  SELECT CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END AS p1,
        |         CASE WHEN n_dis * 10 >= n_tok * 3 THEN 1 ELSE 0 END AS p2,
        |         CASE WHEN n_stop * 2 <= n_tok THEN 1 ELSE 0 END AS p3,
        |         CASE WHEN dis2 * 2 > greatest(n_tok - 1, 0)
        |              THEN 1 ELSE 0 END AS p4
        |  FROM f),
        |a AS (
        |  SELECT count(*) AS n0,
        |         CAST(sum(p1) AS BIGINT) AS n1,
        |         CAST(sum(p1 * p2) AS BIGINT) AS n2,
        |         CAST(sum(p1 * p2 * p3) AS BIGINT) AS n3,
        |         CAST(sum(p1 * p2 * p3 * p4) AS BIGINT) AS n4
        |  FROM p)
        |SELECT '0_input' AS stage, n0 AS n_survivors,
        |       CAST(n0 AS DOUBLE) / n0 AS survival_rate FROM a
        |UNION ALL SELECT '1_min_length', n1, CAST(n1 AS DOUBLE) / n0 FROM a
        |UNION ALL SELECT '2_diversity', n2, CAST(n2 AS DOUBLE) / n0 FROM a
        |UNION ALL SELECT '3_stopwords', n3, CAST(n3 AS DOUBLE) / n0 FROM a
        |UNION ALL SELECT '4_repetition', n4,
        |          CAST(n4 AS DOUBLE) / n0 FROM a""".stripMargin,
    "curation_source_cap" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |            ORDER BY n_tokens DESC, doc_id) AS rk
         |  FROM t)
         |SELECT doc_id, source, n_tokens, rk <= $SourceCapN AS kept
         |FROM r""".stripMargin,
    // the near-dup pair derivation is the dedup_ngram_jaccard twin
    // VERBATIM (nested as a subquery), so the audit can never drift
    // from the detector it audits; split arithmetic is split_assign's
    "split_leakage_audit" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |         ${splitCaseSql("h")} AS split
         |  FROM (SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h
         |        FROM documents)),
         |p AS (SELECT doc_a, doc_b FROM (
         |${Dedup.oracleSql("dedup_ngram_jaccard")}) q)
         |SELECT split_lo, split_hi, n_pairs,
         |       split_lo <> split_hi AS leaky
         |FROM (SELECT least(sa.split, sb.split) AS split_lo,
         |             greatest(sa.split, sb.split) AS split_hi,
         |             count(*) AS n_pairs
         |      FROM p JOIN s sa ON p.doc_a = sa.doc_id
         |             JOIN s sb ON p.doc_b = sb.doc_id
         |      GROUP BY 1, 2)""".stripMargin,
    // cluster labels are the dedup_clusters recursive-CTE twin nested
    // verbatim (the dedup_modularity pattern); split arithmetic is
    // split_assign's applied to the representative id
    "split_by_cluster" ->
      s"""WITH cl AS (
         |${Components.oracleSql("dedup_clusters")}
         |),
         |rep AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS rep_id
         |  FROM documents d LEFT JOIN cl USING (doc_id)),
         |h AS (
         |  SELECT doc_id, rep_id,
         |         (rep_id * 2654435761) % 4294967296 AS hr,
         |         (doc_id * 2654435761) % 4294967296 AS hd
         |  FROM rep)
         |SELECT doc_id, rep_id,
         |       ${splitCaseSql("hr")} AS split,
         |       (${splitCaseSql("hr")}) <>
         |       (${splitCaseSql("hd")}) AS moved
         |FROM h""".stripMargin,
    "split_assign" ->
      s"""SELECT doc_id,
         |       ${splitCaseSql("h")} AS split
         |FROM (SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h
         |      FROM documents)""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         coalesce(sum(n_tokens) OVER (PARTITION BY source
        |           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND 1 PRECEDING), 0) AS cum_before
        |  FROM t),
        |b AS (SELECT *, CAST(floor(cum_before / 2048.0) AS BIGINT)
        |        AS bin_id FROM c)
        |SELECT source, bin_id, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM b GROUP BY 1, 2""".stripMargin,
    "sample_balanced" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, source, n_chars,
         |         (doc_id * 2654435761) % 4294967296 AS h
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |            ORDER BY h, doc_id) AS sample_rank
         |  FROM h)
         |SELECT doc_id, lang, source, n_chars,
         |       CAST(sample_rank AS BIGINT) AS sample_rank
         |FROM r WHERE sample_rank <= $BalancedPerClass""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY doc_id)
        |           AS rn
        |  FROM documents)
        |WHERE (rn - 1) % 7 = 0""".stripMargin,
    "mix_weighted" ->
      """SELECT doc_id, lang, source,
        |       20 + CAST(substring(source, 4) AS INT) * 3 AS rate_pct
        |FROM documents
        |WHERE doc_id % 100 <
        |      20 + CAST(substring(source, 4) AS INT) * 3""".stripMargin,
  )
}
