package graft

/** Single-query timing tool (dev loop for the bench, and the child JVM of
  * [[Bench.freshJvmRetry]]): runs each named query
  * [[Bench.FreshJvmWarmups]] unmeasured passes, then `reps` timed passes,
  * printing one [[Bench.timeLine]] per query (-1.000 for a failed pass).
  * Usage:
  *   SPARK_GRAFT_CPUS=32 runMain graft.TimeQuery <sfDir> <reps> <name...>
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
                else Seq("dedup_clusters")
    val spark = Bench.buildSession()
    names.foreach { n =>
      val q = SparkEntry.queries(n)
      Bench.time(spark, sfDir, q, Bench.FreshJvmWarmups, 0)
      val times = (1 to reps).map { rep =>
        // the ledger is a JVM global set only by recursion-surface
        // queries — clear it per pass or a later query in the same run
        // would print the previous one's phases under its own name
        graft.etl.Relational.lastRecursionPhases = Map.empty
        val t = Bench.time(spark, sfDir, q, 0, 1).head
        // recursion-surface queries publish a phase ledger: print it
        // PER REP so a pass-over-pass drift (r18 verdict: sql_recursive's
        // in-sweep passes rose monotonically) is attributable to a
        // specific phase straight from this tool's output — the
        // machine-checked form of the sql_recursive cost contract
        // (see RelationalSpec)
        val phases = graft.etl.Relational.lastRecursionPhases
        if (phases.nonEmpty)
          println(s"PHASES $n[$rep]: " + phases.map { case (k, v) =>
            f"$k=$v%.2f" }.mkString(" ") + " s")
        t
      }
      println(Bench.timeLine(n, times))
    }
    spark.stop()
  }
}
