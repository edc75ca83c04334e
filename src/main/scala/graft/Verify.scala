package graft
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val json = new ObjectMapper()

  /** Writes `entries` to `path` as one JSON object in the given order.
    * Jackson escapes quotes, backslashes and every control character, so
    * a tab or CR in builder-authored SQL cannot make the driver's
    * json.load fail and silently zero the round's correctness.
    */
  def writeJsonObject(path: String, entries: Iterable[(String, Any)]): Unit = {
    val o = json.createObjectNode()
    entries.foreach { case (k, v) => o.putPOJO(k, v) }
    json.writeValue(new java.io.File(path), o)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.buildSession()
    new java.io.File(outDir).mkdirs()
    val only = Bench.onlyQueries
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) =
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      }
      Bench.reset(spark)
    }
    writeJsonObject(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    // A broken loader must be LOUD: record every failed query plus the
    // registered-vs-written tally so a fixture regen can't silently delete
    // rows from CORRECTNESS (round-9 postmortem).
    writeJsonObject(s"$outDir/verify_failures.json", Seq(
      "registered" -> selected.size,
      "written" -> (selected.size - failures.size),
      "failed" -> failures.size,
      "failures" -> failures.asJava))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} of ${selected.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
