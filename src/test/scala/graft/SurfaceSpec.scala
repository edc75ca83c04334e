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
  *
  * A name that more than one object or class defines is matched per
  * owner (the top-level object or class above the definition): a use
  * counts only in the owner's own file, as a qualified `Owner.name`, or
  * in a file that imports the owner, so one owner's callers cannot hide
  * another's spec-only member. `def main(args: Array[String])` is exempt:
  * a main is reached from the command line.
  */
class SurfaceSpec extends AnyFunSuite {

  private val Allowed: Map[String, String] = Map(
    "ActionVersion" -> "BenchSpec pins it against BASELINE.json",
    "entry" -> "the smoke-check entry point: rows > 0 on sf0.001",
    "compact" -> ("table maintenance: a crash between deleting the live " +
      "dir and renaming the stage is recovered on the next call"),
    // the product's one-call run, shown in the README; the benchmark
    // times its zones one by one
    "runAll" -> "Pipeline: silver, gold and validate in one call",
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
  private val Owner =
    "^(?:[a-z]+(?:\\[\\w+\\])?\\s+)*(?:object|class|trait)\\s+(\\w+)".r
  private val Main = "^  def main\\(args: Array\\[String\\]\\)"
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

  /** `(file, line, name, code, owner)` of every member in `lines`, which
    * are in file order.
    */
  private def members(lines: Seq[(Path, Int, String)])
      : Seq[(Path, Int, String, String, String)] = {
    var owner = ""
    lines.flatMap { case (f, i, l) =>
      Owner.findFirstMatchIn(l).foreach(o => owner = o.group(1))
      Member.findFirstMatchIn(l).map(m => (f, i, m.group(1), l, owner))
    }
  }

  test("every src/main member is reached outside specs, or allow-listed " +
      "with its reason") {
    val main = scalaLines("src/main/scala")
    val lines = main ++ scalaLines("perfbench/src")
    val all = members(main).filterNot(_._4.matches(Main + ".*"))
    assert(all.size > 500, "the scan found no src/main members")
    // word -> the lines it appears on; a definition of the name is no use
    val uses = lines.flatMap { case (f, i, l) =>
      Word.findAllIn(l).map(_ -> (f, i, l)) }.groupMap(_._1)(_._2)
    val defs = all.groupMap(_._3)(m => (m._1, m._2)).view
      .mapValues(_.toSet).toMap
    val owners = all.groupMap(_._3)(m => (m._1, m._5)).view
      .mapValues(_.distinct.size).toMap
    val importers = lines.collect { case (f, _, l)
        if l.trim.startsWith("import ") => Word.findAllIn(l).map(_ -> f) }
      .flatten.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val specOnly = all.filter { case (file, _, name, _, owner) =>
      val seen = importers.getOrElse(owner, Set.empty) + file
      val qualified = s"\\b$owner\\.$name\\b".r
      uses.getOrElse(name, Nil).forall { case (f, i, l) =>
        defs(name)((f, i)) || (owners(name) > 1 && !seen(f) &&
          qualified.findFirstIn(l).isEmpty)
      }
    }
    val flagged = specOnly.map(_._3).toSet
    val unexplained = specOnly.collect {
      case (f, i, name, _, _) if !Allowed.contains(name) => s"$f:$i $name" }
    assert(unexplained.isEmpty, "public members only specs reach (delete, " +
      "move to src/test, or allow-list with a reason)")
    val stale = Allowed.keySet -- flagged
    assert(stale.isEmpty, s"allow-listed but reached from src/main or " +
      s"perfbench, so drop the entry: ${stale.mkString(", ")}")
  }
}
