package graft.ops

import graft.SparkSpec

class StoreAuditSpec extends SparkSpec {
  import spark.implicits._

  private def ids(xs: Long*) = xs.toDF("id")

  test("presence: counts per membership combination, flag order = input order") {
    val a = ids(1L, 2L, 3L, 4L)        // misses 5
    val b = ids(2L, 3L, 4L, 5L)        // misses 1
    val c = ids(1L, 2L, 3L, 4L, 5L)    // everything
    val got = StoreAudit.presence(
      Seq("a" -> a, "b" -> b, "c" -> c), "id")
    got.columns.toSeq shouldBe Seq("in_a", "in_b", "in_c", "n")
    got.as[(Boolean, Boolean, Boolean, Long)].collect().toSeq shouldBe Seq(
      (false, true, true, 1L),  // 5
      (true, false, true, 1L),  // 1
      (true, true, true, 3L))   // 2, 3, 4
  }

  test("presence: consistent stores collapse to one all-true row; duplicates count once") {
    val a = ids(1L, 1L, 2L, 2L) // dup rows — membership is by DISTINCT id
    val b = ids(2L, 1L)
    val got = StoreAudit.presence(Seq("a" -> a, "b" -> b), "id")
      .as[(Boolean, Boolean, Long)].collect().toSeq
    got shouldBe Seq((true, true, 2L))
  }

  test("presence: an id in only one store surfaces; all-false can't occur") {
    val got = StoreAudit.presence(
      Seq("x" -> ids(1L), "y" -> ids(2L)), "id")
      .as[(Boolean, Boolean, Long)].collect().toSeq
    got shouldBe Seq((false, true, 1L), (true, false, 1L))
  }

  test("presence rejects < 2 stores and duplicate names") {
    an[IllegalArgumentException] should be thrownBy
      StoreAudit.presence(Seq("a" -> ids(1L)), "id")
    an[IllegalArgumentException] should be thrownBy
      StoreAudit.presence(Seq("a" -> ids(1L), "a" -> ids(2L)), "id")
  }

  test("forgetCompliance: per-store counts of still-served requested ids, ghosts compliant") {
    val compliant = ids(1L, 2L, 3L)              // 4, 5 already erased
    val hole = ids(1L, 2L, 3L, 4L, 5L)           // forget never reached it
    val got = StoreAudit.forgetCompliance(Seq(4L, 5L, 999L),
      Seq("clean" -> compliant, "hole" -> hole), "id")
      .as[(String, Long)].collect().toSeq
    got shouldBe Seq(("clean", 0L), ("hole", 2L)) // input order, ghost 999 nowhere
  }

  test("forgetCompliance: empty request is compliant everywhere; duplicate store rows count once") {
    StoreAudit.forgetCompliance(Nil, Seq("a" -> ids(1L)), "id")
      .as[(String, Long)].collect().toSeq shouldBe Seq(("a", 0L))
    StoreAudit.forgetCompliance(Seq(7L), Seq("a" -> ids(7L, 7L, 7L)), "id")
      .as[(String, Long)].collect().toSeq shouldBe Seq(("a", 1L))
    an[IllegalArgumentException] should be thrownBy
      StoreAudit.forgetCompliance(Seq(1L), Seq("a" -> ids(1L), "a" -> ids(2L)), "id")
  }
}
