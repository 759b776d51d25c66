package graft

import org.apache.spark.sql.functions._

/** Pins the schema-adaptive events reader (SparkEntry.events): the
  * generator has shipped events.parquet as TIMESTAMP(NANOS) (read as
  * long nanos) and as TIMESTAMP(MICROS) (timestamp/timestamp_ntz), and
  * both layouts must land on the same canonical `tus` BIGINT epoch-
  * micros column. The regenerated testdata only exercises the micros
  * branch, so the integral-ts branch is pinned here on a synthetic
  * nanos-as-long layout — without this, a future testdata flip back to
  * NANOS would hit an untested path. */
class EventsReaderSpec extends SparkSpec {
  import spark.implicits._

  test("integral ts (nanos-as-long layout) becomes tus via div 1000") {
    SparkEntry.withTempRoot(spark, "events_reader_spec") { dir =>
      // 1.5 us worth of nanos truncates toward zero like the original
      // `ts div 1000` reading path
      Seq((1L, 1500L, 10L), (2L, 999L, 20L), (3L, 2000000L, 30L))
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = SparkEntry.events(spark, dir)
        .select(col("event_id"), col("tus")).orderBy(col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      out.toSeq shouldBe Seq((1L, 1L), (2L, 0L), (3L, 2000L))
    }
  }

  test("timestamp ts (micros layout) becomes tus via unix_micros, UTC-exact") {
    SparkEntry.withTempRoot(spark, "events_reader_spec") { dir =>
      Seq((1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(3600L, 123456000L)), 10L),
          (2L, java.sql.Timestamp.from(java.time.Instant.EPOCH), 20L))
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = SparkEntry.events(spark, dir)
        .select(col("event_id"), col("tus")).orderBy(col("event_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      out.toSeq shouldBe Seq((1L, 3600L * 1000000L + 123456L), (2L, 0L))
    }
  }

  test("an unknown third ts layout fails loudly, not via a fall-through cast") {
    SparkEntry.withTempRoot(spark, "events_reader_spec") { dir =>
      // the generator has shipped NANOS and MICROS; a string layout stands
      // in for "any third thing" — the reader must name the observed type
      Seq((1L, "2024-01-01 00:00:00", 10L))
        .toDF("event_id", "ts", "user_id")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val e = intercept[IllegalStateException] { SparkEntry.events(spark, dir) }
      e.getMessage should include("unsupported type")
      e.getMessage should include("STRING")
    }
  }

  test("reader drops ts, keeps every other column, and matches the real testdata") {
    val df = SparkEntry.events(spark, "/root/testdata/sf0.001")
    df.columns should contain("tus")
    (df.columns should not).contain("ts")
    df.schema("tus").dataType shouldBe org.apache.spark.sql.types.LongType
    // cross-check against an independent read of the same file
    val expected = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("m"))
      .agg(sum("m"), count(lit(1))).head()
    val got = df.agg(sum("tus"), count(lit(1))).head()
    got shouldBe expected
  }
}
