package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The public surface of `src/main` is what the program and the benchmark
  * reach. Every two-space-indented `def`/`val` (an object's or class's own
  * member) must have a word match in `src/main/scala` or `perfbench/src`
  * outside its own definition line; a member only specs reach is deleted,
  * moved to `src/test`, or named in [[Allowed]] with the reason it stays.
  * Comments are stripped first (`//` tails and scaladoc/`*` lines), so a
  * doc link or a prose word is not a use; string literals still count.
  */
class SurfaceSpec extends AnyFunSuite {

  private val Allowed: Map[String, String] = Map(
    "ActionVersion" -> "BenchSpec pins it against BASELINE.json",
    "entry" -> "the smoke-check entry point: rows > 0 on sf0.001",
    "compact" -> ("table maintenance: a crash between deleting the live " +
      "dir and renaming the stage is recovered on the next call"),
    // reference-parity API, named in the README
    "readCsv" -> "Bronze: the reference's bronze CSV ingest",
    "runAllJdbc" -> "Pipeline: the reference's database-backed zones",
    // streaming entry points whose specs pin what no batch twin can
    "dedupStream" -> "dedup state bounded by the watermark across batches",
    "attributionStream" ->
      "a purchase arriving in a later micro-batch joins its held click",
    "attributionOuterStream" ->
      "no-purchase rows emitted only once the watermark finalizes them",
    "heavyUsersStream" -> "at most k Misra-Gries counters across batches",
    "rateMonitorStream" -> "minutes merge across batches, bounded history",
    "userTotalsStream" -> "custom state accumulated across batches",
    "candidatesStream" ->
      "band buckets carried across batches, capped when hot",
  )

  private val Member = "^  (?:def|val)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
  private val Word = "\\w+".r
  private val LineComment = "//.*$".r

  /** The code on a line: scaladoc and block-comment lines are dropped,
    * a `//` comment is cut off.
    */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else LineComment.replaceFirstIn(line, "")
  }

  private def scalaLines(root: String): Seq[(Path, Int, String)] = {
    val walk = Files.walk(Paths.get(root))
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .map { case (line, i) => (f, i + 1, code(line)) }
    }
  }

  test("every src/main member is reached outside specs, or allow-listed " +
      "with its reason") {
    val main = scalaLines("src/main/scala")
    val lines = main ++ scalaLines("perfbench/src")
    val uses = lines.flatMap { case (_, _, l) => Word.findAllIn(l) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    val members = main.flatMap { case (f, i, l) =>
      Member.findFirstMatchIn(l).map(m => (f, i, m.group(1), l)) }
    assert(members.size > 500, "the scan found no src/main members")
    val specOnly = members.filter { case (_, _, name, l) =>
      uses(name) == Word.findAllIn(l).count(_ == name) }
    val flagged = specOnly.map(_._3).toSet
    val unexplained = specOnly.collect {
      case (f, i, name, _) if !Allowed.contains(name) => s"$f:$i $name" }
    assert(unexplained.isEmpty, "public members only specs reach (delete, " +
      "move to src/test, or allow-list with a reason)")
    val stale = Allowed.keySet -- flagged
    assert(stale.isEmpty, s"allow-listed but reached from src/main or " +
      s"perfbench, so drop the entry: ${stale.mkString(", ")}")
  }
}
