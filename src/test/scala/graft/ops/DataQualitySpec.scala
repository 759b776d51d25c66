package graft.ops

import graft.SparkSpec
import graft.analytics.DataQuality
import org.apache.spark.sql.functions._

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  test("profile: nulls and exact cardinality per column, nulls excluded from distinct") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), Some("a")),
      (None, Some("b")), (Some(2L), None)
    ).toDF("k", "s")
    val out = DataQuality.profile(df, Seq("k", "s")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    out("k") shouldBe ((4L, 1L, 2L)) // 4 rows, 1 null, distinct {1,2}
    out("s") shouldBe ((4L, 1L, 2L)) // distinct {a,b}
  }

  test("constraint suite: domain rule, PK uniqueness, FK integrity — counts and pass bits") {
    val orders = Seq(
      (1L, 10L, 5.0), (2L, 10L, -1.0), (2L, 99L, 3.0) // dup key 2; custkey 99 orphan; one negative
    ).toDF("ok", "ck", "price")
    val cust = Seq(10L, 11L).toDF("c")
    val out = DataQuality.suite(Seq(
      DataQuality.ruleViolations(orders, Seq("nonneg" -> (col("price") < 0))),
      DataQuality.uniqueViolations(orders, "ok", "pk_unique"),
      DataQuality.fkViolations(orders, "ck", cust, "c", "fk")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    out("nonneg") shouldBe ((1L, false))
    out("pk_unique") shouldBe ((1L, false)) // 3 rows, 2 distinct keys
    out("fk") shouldBe ((1L, false))        // the ck=99 row
    // a clean table passes everything
    val clean = Seq((1L, 10L, 5.0), (2L, 11L, 3.0)).toDF("ok", "ck", "price")
    val ok = DataQuality.suite(Seq(
      DataQuality.ruleViolations(clean, Seq("nonneg" -> (col("price") < 0))),
      DataQuality.uniqueViolations(clean, "ok", "pk_unique"),
      DataQuality.fkViolations(clean, "ck", cust, "c", "fk")))
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    all(ok) shouldBe ((0L, true))
  }

  test("snapshotDiff: added/removed/changed/unchanged per source, hand fixture") {
    val old = Seq(
      (1L, "same", "A"), (2L, "old text", "A"), (3L, "gone", "B")
    ).toDF("doc_id", "text", "source")
    val neu = Seq(
      (1L, "same", "A"), (2L, "new text", "A"), (4L, "fresh", "B")
    ).toDF("doc_id", "text", "source")
    val out = DataQuality.snapshotDiff(old, neu).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    out shouldBe Map(
      ("A", "unchanged") -> 1L, ("A", "changed") -> 1L,
      ("B", "removed") -> 1L, ("B", "added") -> 1L)
  }

  test("corpusCardDiff: bands + card integers + token delta per source, sources present on one side only survive") {
    // lang carried for the datasheet cards; gopher thresholds chosen so
    // nothing passes (the card's pass counts pin to 0 without needing a
    // 30-word fixture) and the dup pair in old is visible
    val old = Seq(
      (1L, "same text", "A", "en"), (2L, "same text", "A", "en"), // exact dups in old
      (3L, "gone forever", "B", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val neu = Seq(
      (1L, "same text", "A", "en"), (2L, "edited text", "A", "en"),
      (4L, "fresh words here", "C", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val out = DataQuality.corpusCardDiff(old, neu,
        minWords = 30, maxWords = 100, minAvgLen = 4.0, maxAvgLen = 10.0,
        minStopHits = 2, minAlphaFrac = 0.8)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9), r.getLong(12), r.getLong(13)))
    out.toSeq shouldBe Seq(
      //       add rm chg unchg dO dN tokO tokN delta dupO dupN
      ("A", 0L, 0L, 1L, 1L, 2L, 2L, 4L, 4L, 0L, 2L, 0L),
      ("B", 0L, 1L, 0L, 0L, 1L, 0L, 2L, 0L, -2L, 0L, 0L),
      ("C", 1L, 0L, 0L, 0L, 0L, 1L, 0L, 3L, 3L, 0L, 0L))
  }

  test("null rule predicates count as non-violations (three-valued logic pinned)") {
    val df = Seq(Some("F"), Some("X"), None).toDF("st")
    val out = DataQuality.ruleViolations(df,
      Seq("domain" -> !col("st").isin("F", "O"))).collect().head
    out.getLong(1) shouldBe 1L // only "X"; the NULL row is not a domain violation
  }
}
