package graft

import scala.util.control.NonFatal

/** Dev tool (test scope, not shipped): lints the plan of every
  * registered query for scale anti-patterns —
  *
  *  - `CartesianProduct` (physical): an unconditioned non-broadcast
  *    cross join is never intentional here (the engine's 1-row stat
  *    joins plan as BroadcastNestedLoopJoin, which is fine and excluded);
  *  - unpartitioned `Window` (logical): moves every input row to one
  *    task — fatal at scale UNLESS the window's input is provably
  *    bounded by a value domain rather than by corpus size. Queries
  *    with that proof (in their scaladoc) are whitelisted below; any
  *    NEW global window fails the lint.
  *
  * Usage: sbt "Test/runMain graft.PlanLint [sfDir]"
  * Exits 1 if any query's plan trips the lint, printing the offenders.
  */
object PlanLint {

  /** Global windows audited as bounded-domain (round 10): each runs over
    * a pre-aggregated table whose row count is capped by a VALUE DOMAIN
    * (days, weeks, bands, cent values, charset pairs, dimension keys),
    * never by corpus size — see the named operator's scaladoc for the
    * bound argument.
    */
  val BoundedDomainWindows: Set[String] = Set(
    "ab_test_mann_whitney", // cents value domain (~5e4 rows)
    "abc_parts",            // digit-band ladder (~19 rows)
    "bpe_pairs",            // charset^2 adjacent-pair domain
    "curation_curriculum",  // centi-score value domain (±4.8k rows)
    "drift_daily_ks",       // global-CDF leg: cent-value grid (~5.6e4)
    "gold_region_shares",   // region/nation dimension (<=25 rows)
    "interval_concurrency", // day-domain carry (~2.5k rows)
    "layout_range_plan",    // day-domain cumulative counts (~2.4k rows)
    "skew_profile",         // per-key count table (key domain)
    "skyline_parts",        // per-price best aggregate (price domain)
    "stats_changepoint",    // day-domain cumulative revenue (~2.5k rows)
    "stats_ks",             // cent-value grid (~5.6e4 rows)
    "survival_churn",       // tenure-week ladder (bounded weeks)
    "ts_anomalies",         // day domain
    "ts_cusum",             // day domain
    "ts_seasonal_naive",    // day-domain lag calendar (~2.5k rows)
    "ts_threshold_episodes",// day domain
    "ts_week_over_week",    // week domain
    "vocab_coverage",       // digit-band ladder
    // round-15 audits (bound argument in each operator's scaladoc)
    "eval_auc_roc",         // distinct-score value domain (doc lengths)
    "eval_pr_curve",        // distinct-score value domain (doc lengths)
    "feature_lags",         // day domain (~2.4k rows)
    "stats_bh_fdr",         // segment-count rank window (|event types|)
    "ts_decompose",         // day domain
    "ts_rolling_corr",      // day domain
    "ts_rolling_median",    // day domain
    // round-16 audits
    "search_eval_map",      // rank/cum windows over the LIMIT-k table
                            // (<= 20 rows by construction)
    "ts_conformal"          // day-domain lag/rank windows (gap-filled
                            // calendar, ~2.5k rows)
  )
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Bench.buildSession()
    var bad = List.empty[String]
    var globalWindows = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, sfDir).queryExecution
        val plan = qe.executedPlan.toString
        if (plan.contains("CartesianProduct"))
          bad ::= s"$name: CartesianProduct"
        // unpartitioned windows move EVERY row to one task — fatal at
        // scale unless the window's input is provably domain-bounded
        // (inspected on the LOGICAL plan: AdaptiveSparkPlanExec exposes
        // no children, so a physical-tree walk sees nothing under AQE)
        qe.optimizedPlan.foreach {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty =>
            globalWindows ::= name
          case w: org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
              if w.partitionSpec.isEmpty =>
            globalWindows ::= name
          case _ =>
        }
      } catch {
        case NonFatal(e) => bad ::= s"$name: plan failed: ${e.getMessage}"
      }
      CheckpointLease.releaseAll()
    }
    val newGlobals = globalWindows.distinct.filterNot(BoundedDomainWindows)
    newGlobals.sorted.foreach(n =>
      bad ::= s"$n: UNAUDITED global window (add a bounded-domain proof " +
        "to its scaladoc and whitelist it, or repartition the window)")
    // a whitelisted query that no longer has a global window is stale
    val stale = BoundedDomainWindows -- globalWindows.toSet
    stale.toSeq.sorted.foreach(n =>
      System.err.println(s"[planlint] NOTE stale whitelist entry: $n"))
    if (bad.nonEmpty) {
      bad.foreach(b => System.err.println(s"[planlint] $b"))
      spark.stop()
      sys.exit(1)
    }
    println(s"[planlint] ${SparkEntry.queries.size} query plans clean")
    spark.stop()
  }
}
