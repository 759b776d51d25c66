package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._

/** Tripwire for dead surface: every public top-level def in every
  * package under `src/main/scala/graft` (the root package included)
  * must have a CALLER in program code other than its own definition.
  * Program code is the comment-stripped `src/main/scala` tree plus
  * `perfbench/src/main/scala`, which drives the library from outside.
  * A spec, a COVERAGE.md row or a scaladoc mention is not a caller: a
  * def that only tests reach is surface nothing runs. A name inside a
  * string literal does count (an error message naming the recovery
  * tool to run is a caller). The one way past is [[exempt]], with a
  * reason per entry; an entry whose def is gone or has gained a caller
  * fails too, so the list cannot rot. */
class DeadSurfaceSpec extends AnyFunSuite with Matchers {

  /** (file under src/main/scala/graft, def) -> why it has no caller. */
  private val exempt: Map[(String, String), String] = Map(
    ("SparkEntry.scala", "entry") ->
      "the t1 smoke in BASELINE.md calls it from outside the build")

  private val mainRoot = Paths.get("src/main/scala/graft")

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  private def stripComments(s: String): String =
    s.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("(?m)//.*$", " ")

  // top-level public members only (two-space indent; `private`/
  // `private[graft]` lines don't start with "  def")
  private def defPat(name: String) =
    ("(?m)^  (?:final )?def " + name + "\\b").r

  test("every public def in src/main/scala/graft has a caller in program code") {
    val defFiles = scalaFiles(mainRoot)
    val code: Map[Path, String] =
      (scalaFiles(Paths.get("src/main/scala")) ++
        scalaFiles(Paths.get("perfbench/src/main/scala")))
        .map(p => p -> stripComments(read(p))).toMap
    val uncalled = defFiles.flatMap { f =>
      val raw = read(f)
      val names = defPat("([A-Za-z][A-Za-z0-9_]*)").findAllMatchIn(raw)
        .map(_.group(1)).toList.filterNot(_ == "this").distinct
      names.filter { name =>
        val word = ("\\b" + Pattern.quote(name) + "\\b").r
        val ownDefs = defPat(Pattern.quote(name)).findAllMatchIn(raw).size
        code.valuesIterator.map(word.findAllMatchIn(_).size).sum - ownDefs <= 0
      }.map(n => (mainRoot.relativize(f).toString, n))
    }.toSet
    withClue("public defs with no caller outside the specs (delete them, " +
      "or call them from program code): ") {
      (uncalled -- exempt.keySet).toSeq.sorted shouldBe empty
    }
    withClue("exemptions whose def is gone or now has a caller: ") {
      (exempt.keySet -- uncalled).toSeq.sorted shouldBe empty
    }
  }
}
