package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins Bench.WarmExempt — the contract rows skipped by the untimed
  * sf0.001 warm-suite pass — to the structural criterion it claims:
  * EXACTLY the store-lifecycle queries (bodies that build temp-dir
  * stores before probing). The set is derived from the lines declared
  * through `SparkEntry.store`; what keeps it exact is that a temp
  * directory can only be made by that scope. Two failure modes this
  * catches: a stale exempt name (the skip silently stops applying),
  * and a lifecycle query built outside the scope, so never exempt (the
  * warm pass re-inflates toward the r18 driver-timeout regime,
  * BENCH_r18 rc=124). */
class WarmExemptSpec extends AnyFunSuite with Matchers {

  private def source(f: String): String = new String(
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/scala/graft/$f")),
    java.nio.charset.StandardCharsets.UTF_8)

  test("every WarmExempt name is a live registry key") {
    (Bench.WarmExempt -- SparkEntry.queries.keySet) shouldBe empty
  }

  test("WarmExempt is exactly the temp-store lifecycle queries") {
    def count(what: String, f: String) = what.r.findAllIn(source(f)).length
    // the one temp-directory creation is SparkEntry.withTempRoot ...
    count("createTempDirectory", "SparkEntry.scala") shouldBe 1
    count("createTempDirectory", "Bench.scala") shouldBe 0
    // ... and inside SparkEntry only the store scope calls it
    count("withTempRoot\\b", "SparkEntry.scala") shouldBe 2
    Bench.WarmExempt shouldBe SparkEntry.lines.filter(_.store).map(_.name).toSet
  }
}
