package graft.sources

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Source/sink fidelity beyond parquet: ORC columnar round-trip and CSV
  * with hostile content (embedded newlines, quotes, delimiters). The
  * JSON-lines path is contract-verified (q_json_roundtrip); these two
  * stay spec-level because DuckDB reads neither file from the oracle
  * harness. */
class FormatsSpec extends SparkSpec {
  import spark.implicits._

  test("ORC round-trip preserves rows, schema, and values") {
    val src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"), col("l_shipdate"))
    SparkEntry.withTempRoot(spark, "graft_orc") { root =>
      val dir = root + "/out"
      src.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      back.schema shouldBe src.schema
      back.count() shouldBe src.count()
      // order-independent content equality
      back.exceptAll(src).count() shouldBe 0L
      src.exceptAll(back).count() shouldBe 0L
    }
  }

  test("partitioned writes give partition-pruned reads (PartitionFilters, not data filters)") {
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    SparkEntry.withTempRoot(spark, "graft_part") { root =>
      val dir = root + "/out"
      src.write.mode("overwrite").partitionBy("lang").parquet(dir)
      val q = spark.read.parquet(dir).filter(col("lang") === "en")
      val plan = q.queryExecution.executedPlan.toString()
      // the lang predicate prunes DIRECTORIES — it must appear as a
      // PartitionFilter, and no data-filter on lang should remain
      plan should include("PartitionFilters: [isnotnull(lang")
      // the pruned read returns exactly the partition's rows
      val langs = src.select(col("lang")).distinct().count()
      langs should be > 1L // the fixture really has multiple partitions
      q.collect().length shouldBe src.filter(col("lang") === "en").count()
      // pruning proof by SCAN METRIC, not plan text: the executed scan must
      // have read fewer files than an unpruned full read touches
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numFiles")).map(_.value).sum
      }
      val full = spark.read.parquet(dir)
      val prunedFiles = filesRead(spark.read.parquet(dir).filter(col("lang") === "en"))
      val allFiles = filesRead(full)
      prunedFiles should be < allFiles
    }
  }

  test("schema evolution: mergeSchema unions old and new file schemas; old rows read null for added columns") {
    SparkEntry.withTempRoot(spark, "graft_evolve") { root =>
      val dir = root + "/out"
      // v1 files: (doc_id, text); v2 adds lang
      Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/part=v1")
      Seq((3L, "three", "en"), (4L, "vier", "de")).toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$dir/part=v2")
      val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      merged.columns.toSet shouldBe Set("doc_id", "text", "lang", "part")
      val rows = merged.orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), Option(r.getAs[String]("lang"))))
      rows shouldBe Array((1L, None), (2L, None), (3L, Some("en")), (4L, Some("de")))
      // predicates on the ADDED column stay correct across old files
      merged.filter(col("lang") === "de").count() shouldBe 1L
      merged.filter(col("lang").isNull).count() shouldBe 2L
      // and without mergeSchema the first-listed footer wins - the trap
      // the option exists to avoid is documented by this read being
      // schema-dependent, not data-lossy
      val plain = spark.read.parquet(dir)
      plain.count() shouldBe 4L
    }
  }

  test("CSV round-trip survives embedded newlines, quotes, and delimiters") {
    val nasty = Seq(
      (1L, "plain text"),
      (2L, "line one\nline two"),
      (3L, "says \"hello\", twice"),
      (4L, "trailing,comma,fields"),
      (5L, "")).toDF("id", "text")
    SparkEntry.withTempRoot(spark, "graft_csv") { root =>
      val dir = root + "/out"
      nasty.write.mode("overwrite").option("header", "true").csv(dir)
      val back = spark.read
        .schema("id LONG, text STRING")
        .option("header", "true")
        .option("multiLine", "true") // quoted newlines span lines
        .csv(dir)
      val got = back.collect().map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
      val want = nasty.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got shouldBe want
    }
  }
}
