package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Exact distributed heavy hitters with bounded memory: per-partition
  * Misra–Gries candidate generation followed by an exact recount of the
  * (small) candidate set — the standard two-pass "frequent items" pattern
  * for domains too wide to hash-aggregate outright.
  *
  * Misra–Gries with `slots` counters guarantees any item with partition
  * frequency > n_p/slots survives its partition; by pigeonhole, an item
  * with GLOBAL frequency > N/slots must exceed that bound in at least one
  * partition, so with `slots ≥ 1/minFrac` (enforced) the candidate set is
  * a superset of every true heavy hitter. The exact recount then removes
  * candidate false positives, so the final output is EXACT and
  * deterministic under any partitioning — which is what lets the DuckDB
  * oracle check it with a plain GROUP BY ... HAVING.
  *
  * == Scale design ==
  * Pass 1 is narrow (`mapPartitions`, O(slots) state per task, iterator-
  * streamed). Pass 2 shuffles ONLY rows whose item survives the broadcast
  * candidate filter — at 100 TB the exchange carries the heavy tail, not
  * the long tail of singletons (the thing that makes a naive global
  * groupBy over a web-scale token domain slow). The global total rides a
  * 1-row broadcast cross join, never a single-partition window.
  */
object HeavyHitters {

  /** Items (single string column `item`) with frequency ≥ minFrac of the
    * total, exactly. `slots` bounds pass-1 state; must be ≥ 1/minFrac for
    * the no-false-negative guarantee.
    */
  def frequent(items: DataFrame, minFrac: Double,
      slots: Int = 4096): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, s"minFrac=$minFrac out of (0,1]")
    require(slots.toDouble * minFrac >= 1.0,
      s"slots=$slots < 1/minFrac=${1 / minFrac}: Misra-Gries could drop a " +
        "true heavy hitter")
    import items.sparkSession.implicits._
    val candidates = items.select(col("item")).as[String]
      .mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { s =>
          counts.get(s) match {
            case Some(c) => counts(s) = c + 1
            case None if counts.size < slots => counts(s) = 1L
            case None =>
              // decrement-all: the classic MG step — every tracked count
              // drops by one, zeros evicted, the new item is NOT admitted
              val dead = List.newBuilder[String]
              counts.keysIterator.foreach { k =>
                val c = counts(k) - 1
                if (c == 0) dead += k else counts(k) = c
              }
              dead.result().foreach(counts.remove)
          }
        }
        counts.keysIterator
      }
      .toDF("item").distinct()
    val total = items.agg(count(lit(1)).as("total"))
    items
      .join(broadcast(candidates), Seq("item"))
      .groupBy("item")
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") >= ceil(lit(minFrac) * col("total")))
      .select(col("item"), col("cnt"),
        (col("cnt") * lit(1.0) / col("total")).as("frac"))
  }

  /** Driver query: corpus tokens occurring in ≥ 0.2% of all token
    * positions — the vocabulary head a tokenizer/stopword pass wants.
    */
  def frequentTokens(docs: DataFrame, minFrac: Double = 0.002): DataFrame =
    frequent(
      docs.select(explode(split(col("text"), " ")).as("item")), minFrac)
      .withColumnRenamed("item", "token")

  /** Count-Min sketch geometry: 4 independent affine-hash rows × 1024
    * counters. ε ≈ e/w ≈ 0.27% of the stream per estimate at δ ≈ e⁻⁴ —
    * the classic mergeable frequency sketch (every counter is an exact
    * integer sum, so unlike HLL the WHOLE sketch is hash-portable and
    * oracle-checkable).
    */
  val CmsDepth = 4
  val CmsWidth = 1024

  /** Row-hash prime modulus and per-row affine constants (Knuth
    * multiplier / LCG increment families, odd A) — deterministic
    * functions of the row index, interpolated as LITERALS into the
    * DuckDB twin (same pattern as graft.ext.Dedup's portable slot
    * hashes). `h < 2³²` and `A < 2³⁰` keep `A·h + B < 2⁶²` — exact.
    */
  val CmsMod: Long = 1073741789L
  def cmsA(r: Int): Long = ((2654435761L * (r + 3)) % CmsMod) | 1L
  def cmsB(r: Int): Long = (40503L * (r + 11)) % CmsMod

  /** Count-Min sketch build + probe over corpus whitespace tokens: the
    * top `topK` tokens by TRUE count, each with its CMS estimate
    * (min over the depth counters) and the overcount the sketch incurs
    * — the calibration readout run before shipping a sketch-based
    * frequency service. The estimate is ≥ the true count by
    * construction; the overcount column makes the collision cost
    * visible and exactly reproducible.
    *
    * Scale shape: tokens collapse to the VOCABULARY first (one corpus
    * scan + vocab-sized agg), the sketch matrix builds from the vocab
    * table (vocab × depth rows → 4096-counter agg — the shuffle is
    * sketch-sized, not corpus-sized), the top-k is a TakeOrdered, and
    * probes join the broadcast matrix. Every number is an exact
    * integer.
    */
  def countMinEstimates(docs: DataFrame, topK: Int = 20): DataFrame = {
    val vocab = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("true_cnt"))
      .withColumn("h",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"))
      .localCheckpoint(false) // feeds the matrix build AND the top-k
    val posed = vocab.select(col("true_cnt").as("cnt"),
      posexplode(array((0 until CmsDepth).map(r =>
        ((col("h") * cmsA(r) + cmsB(r)) % CmsMod) % CmsWidth): _*))
        .as(Seq("r", "pos")))
    val matrix = posed.groupBy("r", "pos")
      .agg(sum("cnt").as("counter"))
    val top = vocab
      .orderBy(col("true_cnt").desc, col("token"))
      .limit(topK)
    top.select(col("token"), col("true_cnt"),
        posexplode(array((0 until CmsDepth).map(r =>
          ((col("h") * cmsA(r) + cmsB(r)) % CmsMod) % CmsWidth): _*))
          .as(Seq("r", "pos")))
      .join(broadcast(matrix), Seq("r", "pos"))
      .groupBy("token", "true_cnt")
      .agg(min("counter").as("cms_est"))
      .withColumn("overcount", col("cms_est") - col("true_cnt"))
      .select("token", "true_cnt", "cms_est", "overcount")
  }

  /** Widths evaluated by [[countMinWidthSweep]] (×4 ladder around
    * [[CmsWidth]]).
    */
  val CmsSweepWidths: Seq[Int] = Seq(256, 1024, 4096)

  /** Count-Min WIDTH SWEEP — the sizing query run before committing
    * sketch memory at scale (the sketch analogue of
    * [[graft.ext.Dedup]]'s LSH band-geometry eval): the same corpus,
    * hashes, and probe set as [[countMinEstimates]], with the counter
    * matrix built at each width in [[CmsSweepWidths]]. Reading
    * overcount fall as width grows (ε ∝ 1/width) on real data tells
    * you the width a production deployment needs.
    *
    * One vocabulary checkpoint feeds every width's build and the
    * shared top-k probe set; each width's shuffle stays sketch-sized
    * (width × depth counters). All exact integers, hash-portable.
    */
  def countMinWidthSweep(docs: DataFrame,
      widths: Seq[Int] = CmsSweepWidths, topK: Int = 10): DataFrame = {
    val vocab = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("true_cnt"))
      .withColumn("h",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"))
      .localCheckpoint(false)
    val top = vocab.orderBy(col("true_cnt").desc, col("token")).limit(topK)
    widths.map { wd =>
      def pose(src: DataFrame, keep: Seq[Column]) = src.select(
        keep :+ posexplode(array((0 until CmsDepth).map(r =>
          ((col("h") * cmsA(r) + cmsB(r)) % CmsMod) % wd): _*))
          .as(Seq("r", "pos")): _*)
      val matrix = pose(vocab, Seq(col("true_cnt").as("cnt")))
        .groupBy("r", "pos").agg(sum("cnt").as("counter"))
      pose(top, Seq(col("token"), col("true_cnt")))
        .join(broadcast(matrix), Seq("r", "pos"))
        .groupBy("token", "true_cnt")
        .agg(min("counter").as("cms_est"))
        .select(lit(wd.toLong).as("width"), col("token"), col("true_cnt"),
          col("cms_est"), (col("cms_est") - col("true_cnt")).as("overcount"))
    }.reduce(_ unionByName _)
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_heavy_hitters" -> ((s, d) =>
      frequentTokens(Tables.documents(s, d))),
    "sketch_countmin" -> ((s, d) =>
      countMinEstimates(Tables.documents(s, d))),
    "sketch_cm_widths" -> ((s, d) =>
      countMinWidthSweep(Tables.documents(s, d))),
  )

  /** [[countMinEstimates]]' twin: the same affine row hashes with the
    * constants interpolated as literals, one UNION ALL arm per sketch
    * row on both the build and probe sides.
    */
  private def duckCmsSql: String = {
    def arms(src: String, cols: String): String = (0 until CmsDepth).map { r =>
      s"""SELECT $r AS r,
         |         ((h * ${cmsA(r)} + ${cmsB(r)}) % $CmsMod) % $CmsWidth
         |           AS pos, $cols FROM $src""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |tc AS (
       |  SELECT token, count(*) AS true_cnt,
       |         CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
       |  FROM tok GROUP BY 1),
       |posed AS (
       |  ${arms("tc", "true_cnt")}),
       |matrix AS (
       |  SELECT r, pos, CAST(sum(true_cnt) AS BIGINT) AS counter
       |  FROM posed GROUP BY 1, 2),
       |top AS (
       |  SELECT token, true_cnt, h FROM tc
       |  ORDER BY true_cnt DESC, token LIMIT 20),
       |probes AS (
       |  ${arms("top", "token, true_cnt")}),
       |est AS (
       |  SELECT p.token, p.true_cnt, CAST(min(m.counter) AS BIGINT) AS cms_est
       |  FROM probes p JOIN matrix m ON p.r = m.r AND p.pos = m.pos
       |  GROUP BY 1, 2)
       |SELECT token, true_cnt, cms_est, cms_est - true_cnt AS overcount
       |FROM est""".stripMargin
  }

  /** DuckDB twin: plain exact GROUP BY/HAVING — the sketch must be
    * invisible in the output.
    */
  /** [[countMinWidthSweep]]'s twin: one sketch block per width, the
    * same literal-interpolated affine hashes, UNION ALL over widths.
    */
  private def duckCmSweepSql: String = {
    def arms(src: String, cols: String, wd: Int): String =
      (0 until CmsDepth).map { r =>
        s"""SELECT $r AS r,
           |           ((h * ${cmsA(r)} + ${cmsB(r)}) % $CmsMod) % $wd
           |             AS pos, $cols FROM $src""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
    val blocks = CmsSweepWidths.map { wd =>
      s"""  SELECT CAST($wd AS BIGINT) AS width, e.token, e.true_cnt,
         |         e.cms_est, e.cms_est - e.true_cnt AS overcount
         |  FROM (
         |    SELECT p.token, p.true_cnt,
         |           CAST(min(m.counter) AS BIGINT) AS cms_est
         |    FROM (
         |    ${arms("top", "token, true_cnt", wd)}) p
         |    JOIN (
         |      SELECT r, pos, CAST(sum(true_cnt) AS BIGINT) AS counter
         |      FROM (
         |    ${arms("tc", "true_cnt", wd)})
         |      GROUP BY 1, 2) m
         |      ON p.r = m.r AND p.pos = m.pos
         |    GROUP BY 1, 2) e""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH tok AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |tc AS (
       |  SELECT token, count(*) AS true_cnt,
       |         CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) AS h
       |  FROM tok GROUP BY 1),
       |top AS (
       |  SELECT token, true_cnt, h FROM tc
       |  ORDER BY true_cnt DESC, token LIMIT 10)
       |$blocks""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "sketch_countmin" -> duckCmsSql,
    "sketch_cm_widths" -> duckCmSweepSql,
    "text_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS total FROM tok)
        |SELECT token, count(*) AS cnt,
        |       count(*) * 1.0 / (SELECT total FROM tot) AS frac
        |FROM tok
        |GROUP BY token
        |HAVING count(*) >= ceil(0.002 * (SELECT total FROM tot))""".stripMargin,
  )
}
