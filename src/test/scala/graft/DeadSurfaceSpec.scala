package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Caller resolution over Scala source text, the engine behind
  * [[DeadSurfaceSpec]]. A member `name` of a top-level `Owner` is
  * called when program code has any one of:
  *   - `Owner.name` anywhere, whitespace or a newline allowed around
  *     the dot, string literals included (an error message naming the
  *     recovery tool to run is a caller);
  *   - an unqualified `name` in the owner's own file, outside its
  *     declaration and outside plain string text (an interpolation's
  *     `${f(x)}` or `$x` is code);
  *   - an unqualified `name` in a file that imports `Owner._` or
  *     `Owner.{name}`, or `alias.name` in a file with
  *     `val alias = Owner`.
  * A member of a class is called through an instance, so for a class
  * `x.name` counts in any file that names the class. `Owner(...)`
  * calls `Owner.apply`. Comments never count. */
object DeadSurface {

  /** One file as two views of the same length: `code` blanks
    * comments; `bare` also blanks plain string text. */
  final case class Source(code: String, bare: String)

  private def identStart(c: Char) = Character.isLetter(c) || c == '_'
  private def identPart(c: Char) = Character.isLetterOrDigit(c) || c == '_'

  def lex(s: String): Source = {
    val code = s.toCharArray
    val bare = s.toCharArray
    val n = s.length
    def blank(a: Array[Char], i: Int): Unit = if (a(i) != '\n') a(i) = ' '
    def comment(i: Int): Unit = { blank(code, i); blank(bare, i) }

    // the literal opening at `start`; returns the index after it
    def string(start: Int, interp: Boolean): Int = {
      val triple = s.startsWith("\"\"\"", start)
      var j = start + (if (triple) 3 else 1)
      var open = true
      while (open && j < n) {
        val c = s(j)
        if (triple && s.startsWith("\"\"\"", j)) {
          var e = j + 3
          while (e < n && s(e) == '"') e += 1
          (j until e - 3).foreach(blank(bare, _))
          j = e; open = false
        } else if (!triple && (c == '"' || c == '\n')) {
          j += 1; open = false
        } else if (!triple && c == '\\' && j + 1 < n) {
          blank(bare, j); blank(bare, j + 1); j += 2
        } else if (interp && c == '$' && j + 1 < n && s(j + 1) == '{') {
          j = scan(j + 2, nested = true) + 1
        } else if (interp && c == '$' && j + 1 < n && identStart(s(j + 1))) {
          j += 1
          while (j < n && identPart(s(j))) j += 1
        } else {
          blank(bare, j); j += 1
        }
      }
      j
    }

    // code from `i0`; nested (inside `${`) it stops at the unmatched `}`
    def scan(i0: Int, nested: Boolean): Int = {
      var i = i0
      var depth = 0
      while (i < n) {
        val c = s(i)
        if (s.startsWith("//", i)) {
          while (i < n && s(i) != '\n') { comment(i); i += 1 }
        } else if (s.startsWith("/*", i)) {
          var level = 0
          while ({
            if (s.startsWith("/*", i)) { level += 1; comment(i); comment(i + 1); i += 2 }
            else if (s.startsWith("*/", i)) { level -= 1; comment(i); comment(i + 1); i += 2 }
            else { comment(i); i += 1 }
            level > 0 && i < n
          }) ()
        } else if (c == '"') {
          i = string(i, interp = i > 0 && identPart(s(i - 1)))
        } else if (c == '\'' && i + 2 < n && s(i + 1) != '\\' && s(i + 2) == '\'') {
          blank(bare, i + 1); i += 3
        } else if (c == '\'' && i + 1 < n && s(i + 1) == '\\') {
          val e = s.indexOf('\'', i + 2)
          val end = if (e < 0) n else e + 1
          (i + 1 until end - 1).foreach(blank(bare, _)); i = end
        } else if (c == '{') {
          depth += 1; i += 1
        } else if (c == '}') {
          if (nested && depth == 0) return i
          depth -= 1; i += 1
        } else i += 1
      }
      i
    }

    scan(0, nested = false)
    Source(new String(code), new String(bare))
  }

  /** A top-level `object`/`class`/`trait`, or a two-space member `def`
    * of one (public, `final`, `implicit` or `private[pkg]`; a plain
    * `private` one is the compiler's to flag, an `override` is called
    * through its parent). `owner` is the member's enclosing type. */
  final case class Decl(file: String, owner: String, ownerIsObject: Boolean,
                        name: String, isType: Boolean)

  private val TypeDecl: Regex =
    ("(?m)^(?:(?:private\\[\\w+\\]|private|final|sealed|abstract|case|implicit)\\s+)*" +
      "(object|class|trait)\\s+(\\w+)").r
  private val MemberDecl: Regex =
    "(?m)^  (?:(?:final|implicit|private\\[\\w+\\])\\s+)*def\\s+(\\w+)".r

  private def word(name: String): Regex = ("\\b" + Pattern.quote(name) + "\\b").r

  /** Declarations of `file`, minus entry points: an object that
    * declares `main`, and that `main`. */
  def decls(file: String, src: Source): Seq[Decl] = {
    val types = TypeDecl.findAllMatchIn(src.code).map(m =>
      (m.start, m.group(2), m.group(1) == "object")).toSeq
    val members = MemberDecl.findAllMatchIn(src.code).flatMap { m =>
      types.takeWhile(_._1 < m.start).lastOption.map { case (_, owner, obj) =>
        Decl(file, owner, obj, m.group(1), isType = false)
      }
    }.toSeq.filterNot(_.name == "this")
    val entries = members.filter(d => d.ownerIsObject && d.name == "main").map(_.owner).toSet
    types.map { case (_, t, obj) => Decl(file, t, obj, t, isType = true) }
      .filterNot(d => entries(d.owner)) ++
      members.filterNot(d => entries(d.owner) && d.name == "main")
  }

  // the char before `i`, skipping whitespace and newlines
  private def before(text: String, i: Int): Char = {
    var j = i - 1
    while (j >= 0 && Character.isWhitespace(text(j))) j -= 1
    if (j < 0) ' ' else text(j)
  }

  // spans that declare `name` in this file: a member def's whole
  // body (up to the next two-space member), so recursion or one
  // overload calling another keeps nothing alive; otherwise the token
  private def declared(code: String, name: String): Seq[(Int, Int)] =
    ("\\b(?:def|object|class|trait)\\s+(" + Pattern.quote(name) + ")\\b").r
      .findAllMatchIn(code).map { m =>
        val line = code.lastIndexOf('\n', m.start) + 1
        if ("  (?:[\\w\\[\\]]+\\s+)*def\\b".r.pattern.matcher(code)
              .region(line, code.length).lookingAt()) {
          val eol = code.indexOf('\n', m.end)
          val next = "(?m)^(?:  [^\\s}]|[^\\s}])".r
            .findFirstMatchIn(if (eol < 0) "" else code.substring(eol + 1))
          (m.start(1), next.fold(code.length)(eol + 1 + _.start))
        } else (m.start(1), m.end(1))
      }.toSeq

  private def inside(spans: Seq[(Int, Int)], i: Int) =
    spans.exists { case (a, b) => a <= i && i < b }

  /** Uses of `name` in `src` that are not `x.name` and not inside a
    * declaration of it. */
  private def unqualified(src: Source, name: String): Int = {
    val decl = declared(src.code, name)
    word(name).findAllMatchIn(src.bare).map(_.start)
      .count(i => !inside(decl, i) && before(src.bare, i) != '.')
  }

  private def imports(src: Source, owner: String, name: String): Boolean =
    ("\\bimport\\s+(?:[\\w.]*\\.)?" + owner + "\\.(_|\\{[^}]*\\}|\\w+)").r
      .findAllMatchIn(src.code).exists { m =>
        m.group(1) == "_" || word(name).findFirstIn(m.group(1)).isDefined
      }

  private def aliases(src: Source, owner: String): Seq[String] =
    ("\\bval\\s+(\\w+)\\s*=\\s*(?:[\\w.]*\\.)?" + owner + "\\b(?!\\s*[.(\\[])").r
      .findAllMatchIn(src.code).map(_.group(1)).toSeq

  /** True when program code (`srcs`, keyed by file) calls `d`. */
  def called(srcs: Map[String, Source], d: Decl): Boolean = {
    val own = srcs(d.file)
    if (d.isType) {
      val decl = declared(own.code, d.name)
      srcs.exists { case (f, src) =>
        word(d.name).findAllMatchIn(src.bare).exists(m => f != d.file || !inside(decl, m.start)) ||
          ("\\.\\s*" + d.name + "\\b|\\b" + d.name + "\\s*\\.\\s*\\w").r
            .findFirstIn(src.code).isDefined
      }
    } else if (!d.ownerIsObject) {
      unqualified(own, d.name) > 0 || srcs.exists { case (_, src) =>
        word(d.owner).findFirstIn(src.bare).isDefined &&
          ("\\.\\s*" + Pattern.quote(d.name) + "\\b").r.findFirstIn(src.bare).isDefined
      }
    } else {
      val qualified = ("\\b" + d.owner + "\\s*\\.\\s*" + Pattern.quote(d.name) + "\\b").r
      val applied = ("\\b" + d.owner + "\\s*\\(").r
      unqualified(own, d.name) > 0 || srcs.exists { case (_, src) =>
        qualified.findFirstIn(src.code).isDefined ||
          (d.name == "apply" && applied.findAllMatchIn(src.code)
            .exists(m => !src.code.substring(0, m.start).endsWith("class "))) ||
          (imports(src, d.owner, d.name) && unqualified(src, d.name) > 0) ||
          aliases(src, d.owner).exists(a =>
            ("\\b" + a + "\\s*\\.\\s*" + Pattern.quote(d.name) + "\\b").r
              .findFirstIn(src.code).isDefined)
      }
    }
  }

  /** Every declaration in `defFiles` that nothing in `srcs` calls. */
  def uncalled(srcs: Map[String, Source], defFiles: Seq[String]): Seq[Decl] =
    defFiles.flatMap(f => decls(f, srcs(f))).distinct.filterNot(called(srcs, _))
}

/** Tripwire for dead surface: every top-level object and class in
  * every package under `src/main/scala/graft` (the root package
  * included), and every two-space member def of one that is public or
  * `private[pkg]`, must have a CALLER in program code, resolved to its
  * owner by [[DeadSurface]]. Program code is `src/main/scala` plus
  * `perfbench/src/main/scala`, which drives the library from outside.
  * A spec, a COVERAGE.md row or a scaladoc mention is not a caller: a
  * def that only tests reach is surface nothing runs. An object that
  * declares `main` is an entry point. The one way past is [[exempt]],
  * with a reason per entry; an entry whose def is gone or has gained a
  * caller fails too, so the list cannot rot.
  *
  * The main compile's `-Wunused:privates` (build.sbt) sees only plain
  * `private` members; the `private[pkg]` helpers are this spec's. */
class DeadSurfaceSpec extends AnyFunSuite with Matchers {
  import DeadSurface._

  /** (file under src/main/scala/graft, Owner.name) -> why it has no caller. */
  private val exempt: Map[(String, String), String] = Map(
    ("SparkEntry.scala", "SparkEntry.entry") ->
      "the t1 smoke in BASELINE.md calls it from outside the build")

  private val mainRoot = Paths.get("src/main/scala/graft")

  private def scalaFiles(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  private lazy val program: Map[String, Source] =
    (scalaFiles(Paths.get("src/main/scala")) ++
      scalaFiles(Paths.get("perfbench/src/main/scala")))
      .map(p => p.toString -> lex(read(p))).toMap

  private lazy val dead: Set[(String, String)] =
    uncalled(program, scalaFiles(mainRoot).map(_.toString)).map { d =>
      (mainRoot.relativize(Paths.get(d.file)).toString,
        if (d.isType) d.name else s"${d.owner}.${d.name}")
    }.toSet

  test("every public def in src/main/scala/graft has a caller in program code") {
    withClue("defs with no caller outside the specs (delete them, " +
      "or call them from program code): ") {
      (dead.filter(_._2.contains('.')) -- exempt.keySet).toSeq.sorted shouldBe empty
    }
    withClue("exemptions whose def is gone or now has a caller: ") {
      (exempt.keySet -- dead).toSeq.sorted shouldBe empty
    }
  }

  test("every top-level object and class in src/main/scala/graft is named by program code") {
    withClue("types nothing outside the specs names: ") {
      dead.filterNot(_._2.contains('.')).toSeq.sorted shouldBe empty
    }
  }

  test("the caller resolver ties each call to its owner") {
    def dead(files: (String, String)*): Set[String] = {
      val srcs = files.map { case (f, s) => f -> lex(s) }.toMap
      uncalled(srcs, files.map(_._1)).map(d =>
        if (d.isType) d.name else s"${d.owner}.${d.name}").toSet
    }
    val a = "object A {\n  def start(): Int = 1\n}\n"
    val b = "object B {\n  def start(): Int = 2\n}\n"
    // a shared name: A.start does not keep B.start alive
    dead("A" -> a, "B" -> b, "M" -> "object M {\n  def main(a: Array[String]) = A.start()\n}\n") shouldBe
      Set("B", "B.start")
    // a qualified name across a newline, or inside a string literal, counts
    dead("A" -> a, "M" -> "object M {\n  def main(a: Array[String]) =\n    A\n      .start()\n}\n") shouldBe empty
    dead("A" -> a, "M" -> "object M {\n  def main(a: Array[String]) = sys.error(\"run A.start first\")\n}\n") shouldBe
      empty
    // own file: an interpolation calls f; plain string text does not call g
    val own = "object O {\n  def f(x: Int): Int = x\n  def g: Int = 0\n" +
      "  def main(a: Array[String]) = println(s\"${f(1)} g \" + \"g\")\n}\n"
    dead("O" -> own) shouldBe Set("O.g")
    // a comment is never a caller, and x.g is some other g
    dead("O" -> own.replace("+ \"g\"", "+ x.g // g")) shouldBe Set("O.g")
    // import Owner._ and val alias = Owner resolve to the owner
    dead("A" -> a, "M" -> "import p.A._\nobject M {\n  def main(a: Array[String]) = start()\n}\n") shouldBe
      empty
    dead("A" -> a, "M" -> "object M {\n  def main(a: Array[String]) = {\n    val x = p.A\n    x.start()\n  }\n}\n") shouldBe
      empty
    // an import of another owner does not resolve
    dead("A" -> a, "B" -> b,
      "M" -> "import p.B._\nobject M {\n  def main(a: Array[String]) = { start(); A }\n}\n") shouldBe
      Set("A.start")
  }
}
