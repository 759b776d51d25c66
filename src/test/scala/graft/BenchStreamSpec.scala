package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** Pins `Bench.fileStream`, the harness of the `stream_*` bench lines:
  * four triggers of one file each, in part order for a partitioned
  * input, the guard run after the drain, and nothing left running or on
  * disk when the body throws. */
class BenchStreamSpec extends SparkSpec {

  private def memory(src: org.apache.spark.sql.DataFrame, name: String,
                     tmp: String): StreamingQuery =
    src.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", s"$tmp/ck").start()

  test("a partitioned input streams one trigger per part, in part order") {
    // part p carries p rows, so the per-trigger row counts show the order
    val input = spark.range(10).select(col("id"),
      org.apache.spark.sql.functions.expr(
        "CASE WHEN id < 1 THEN 1 WHEN id < 3 THEN 2 WHEN id < 6 THEN 3 ELSE 4 END")
        .as("part"))
    var rows = Seq.empty[Long]
    var guarded = false
    Bench.fileStream(spark, input, partitioned = true) { (s2, src, tmp) =>
      val q = memory(src.select(col("id")), "harness_parts", tmp)
      () => {
        q.isActive shouldBe false
        rows = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
        s2.sql("SELECT count(*) FROM harness_parts").head().getLong(0) shouldBe 10L
        guarded = true
      }
    }
    guarded shouldBe true
    rows shouldBe Seq(1L, 2L, 3L, 4L)
  }

  test("an unpartitioned input streams as four triggers") {
    var triggers = -1
    Bench.fileStream(spark, spark.range(40).toDF("id")) { (_, src, tmp) =>
      val q = memory(src, "harness_slices", tmp)
      () => triggers = q.recentProgress.count(_.numInputRows > 0)
    }
    triggers shouldBe 4
  }

  test("a body whose second start throws leaves no query running and no temp root") {
    var session: SparkSession = null
    var root = ""
    var guarded = false
    intercept[org.apache.spark.sql.AnalysisException] {
      Bench.fileStream(spark, spark.range(8).toDF("id")) { (s2, src, tmp) =>
        session = s2
        root = tmp
        memory(src, "harness_release", tmp)
        session.streams.active should have size 1
        // the same query name while the first is active: start() throws
        memory(src, "harness_release", tmp)
        () => guarded = true
      }
    }
    guarded shouldBe false
    session.streams.active shouldBe empty
    spark.streams.active shouldBe empty
    new java.io.File(root).exists() shouldBe false
  }
}
