package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.etl.Pipeline
import graft.etl.Pipeline.{CheckResult, StageResult}
import graft.sources.Bronze

/** End-to-end training-data curation pipeline — the corpus-side
  * counterpart of [[graft.etl.Pipeline]]'s medallion run, composing the
  * curation operators into the sequence a pretraining-data refresh
  * actually executes:
  *
  *   1. `screen`    — rule + model quality verdicts per doc (Gopher and
  *                    C4 rule gates joined with the hashed linear
  *                    classifier; `keep` = all three agree);
  *   2. `despan`    — exact substring-dedup rewrite accounting;
  *   3. `dedup`     — exact-duplicate election + incremental MinHash
  *                    verdicts of the new batch against the indexed
  *                    corpus;
  *   4. `curriculum`— equal-mass training phases by quality score.
  *
  * Stages write parquet to `$outDir/corpus/<stage>` and communicate
  * through paths, not driver memory — each stage is an independent job
  * graph a scheduler can retry idempotently (overwrite semantics), the
  * same contract as the medallion run. Validation is REAL and failures
  * propagate (no echo stubs, no swallowed errors): doc_id uniqueness per
  * stage, fraction-typed columns bounded in [0,1], the phase domain
  * exactly [[Curation.CurriculumPhases]] wide, and a screen that keeps a
  * sane nonzero fraction.
  */
object CorpusPipeline {

  /** Per-doc quality screen: the three gates a curation pass consults,
    * one scan each, joined on doc_id (all three are doc_id-keyed
    * aggregates of the same corpus — Catalyst plans the joins without a
    * wide shuffle beyond the doc key).
    */
  def qualityScreen(spark: SparkSession, docs: DataFrame): DataFrame = {
    val gopher = TextAnalysis.gopherRules(docs)
      .select(col("doc_id"), col("keep").as("keep_gopher"))
    val c4 = TextAnalysis.c4Rules(docs)
      .select(col("doc_id"), col("keep").as("keep_c4"))
    val linear = TextAnalysis.linearQuality(spark, docs)
      .select(col("doc_id"), col("keep").as("keep_linear"))
    gopher.join(c4, Seq("doc_id")).join(linear, Seq("doc_id"))
      .select(col("doc_id"),
        (col("keep_gopher") === 1).as("keep_gopher"),
        (col("keep_c4") === 1).as("keep_c4"),
        col("keep_linear"),
        (col("keep_gopher") === 1 && col("keep_c4") === 1 &&
          col("keep_linear")).as("keep"))
  }

  /** Stage list: (name, frame). */
  private def stages(spark: SparkSession,
      sfDir: String): Seq[(String, DataFrame)] = {
    val docs = Tables.documents(spark, sfDir)
    Seq(
      "screen" -> qualityScreen(spark, docs),
      "despan" -> Corpus.despanDocuments(docs),
      "dedup_exact" -> Dedup.exactDocs(docs),
      "dedup_incremental" -> Dedup.minhashIncremental(docs),
      "curriculum" -> Curation.curriculumPlan(spark, docs))
  }

  def runStages(spark: SparkSession, sfDir: String,
      outDir: String): Seq[StageResult] =
    Pipeline.writeStages(outDir, "corpus", stages(spark, sfDir))

  /** Real validation over the written stages; every check one verdict
    * row, mirroring [[graft.etl.Pipeline.validate]].
    */
  def validate(spark: SparkSession, outDir: String): Seq[CheckResult] = {
    def load(name: String) = Bronze.readParquet(spark, s"$outDir/corpus/$name")
    def pkUnique(name: String, df: DataFrame): () => Seq[CheckResult] = {
      val stats = Pipeline.keyStats(df, "doc_id")
      () => stats().uniqueChecks("corpus", name, "doc_id")
    }
    val screen = load("screen")
    val despan = load("despan")
    val curriculum = load("curriculum")
    val kept = screen.filter(col("keep"))
    val outOfRange = despan
      .filter(col("kept_frac") < 0.0 || col("kept_frac") > 1.0)
    val phases = curriculum.select("phase").distinct()
    Pipeline.concurrently(Seq(
      pkUnique("screen", screen),
      pkUnique("despan", despan),
      pkUnique("dedup_exact", load("dedup_exact")),
      pkUnique("dedup_incremental", load("dedup_incremental")),
      pkUnique("curriculum", curriculum),
      () => {
        val screenKept = kept.count()
        val screenAll = screen.count()
        Seq(CheckResult("corpus", "screen", "keeps_nonzero_fraction",
          screenKept > 0 && screenKept <= screenAll,
          s"kept=$screenKept of=$screenAll"))
      },
      () => {
        val badFrac = outOfRange.count()
        Seq(CheckResult("corpus", "despan", "kept_frac_in_unit_interval",
          badFrac == 0, s"out_of_range=$badFrac"))
      },
      () => {
        val phaseDomain = phases.count()
        Seq(CheckResult("corpus", "curriculum", "phase_domain_complete",
          phaseDomain == Curation.CurriculumPhases,
          s"phases=$phaseDomain want=${Curation.CurriculumPhases}"))
      })).flatten
  }

  /** Full run: stages → validate; throws if any check fails. */
  def runAll(spark: SparkSession, sfDir: String,
      outDir: String): Seq[CheckResult] = {
    runStages(spark, sfDir, outDir)
    val checks = validate(spark, outDir)
    val failed = checks.filterNot(_.passed)
    require(failed.isEmpty,
      s"corpus validation failed: " +
        failed.map(c => s"${c.table}/${c.check}").mkString(", "))
    checks
  }
}
