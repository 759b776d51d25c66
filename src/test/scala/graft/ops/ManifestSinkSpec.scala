package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class ManifestSinkSpec extends SparkSpec {
  import spark.implicits._

  test("publish/read round-trip; a republish swaps atomically; orphans are invisible") {
    SparkEntry.withTempRoot(spark, "graft_manifest") { root =>
      val dir = root + "/tbl"
      val v0 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      ManifestSink.publishAt(v0, dir, 0L)
      ManifestSink.read(spark, dir).orderBy("id").collect().map(_.getLong(0)) shouldBe Array(1L, 2L)
      // plant an ORPHAN parquet file in the live data dir (a failed later
      // job's leftovers) — the manifest read must not see it
      Seq((99L, "orphan")).toDF("id", "s").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/orphan_stage")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val orphanSrc = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/orphan_stage"))
        .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
      fs.rename(orphanSrc, new org.apache.hadoop.fs.Path(s"$dir/data-v0/zz-orphan.parquet"))
      ManifestSink.read(spark, dir).count() shouldBe 2L // manifest-listed files only
      spark.read.parquet(s"$dir/data-v0").count() shouldBe 3L // the dir listing WOULD see it
      // republish: readers of the new version see only the new data
      val v1 = Seq((10L, "x"), (11L, "y"), (12L, "z")).toDF("id", "s")
      ManifestSink.publishAt(v1, dir, 1L)
      ManifestSink.committedVersions(spark, dir) shouldBe Seq(0L, 1L)
      ManifestSink.read(spark, dir).orderBy("id").collect().map(_.getLong(0)) shouldBe
        Array(10L, 11L, 12L)
    }
  }

  test("an uncommitted data directory (crashed publish) is invisible") {
    SparkEntry.withTempRoot(spark, "graft_manifest") { root =>
      val dir = root + "/tbl"
      ManifestSink.publishAt(Seq((1L, "a")).toDF("id", "s"), dir, 0L)
      // simulate a publish that wrote data but died before its manifest
      Seq((50L, "ghost")).toDF("id", "s").write.parquet(s"$dir/data-v1")
      ManifestSink.committedVersions(spark, dir) shouldBe Seq(0L)
      ManifestSink.read(spark, dir).collect().map(_.getLong(0)) shouldBe Array(1L)
      intercept[java.io.FileNotFoundException] {
        ManifestSink.readAt(spark, dir, 1L)
      }
    }
  }

  test("explicit-version surface: publishAt rewrites torn attempts, refuses committed versions, readAt time-travels") {
    SparkEntry.withTempRoot(spark, "graft_manifest") { root =>
      val dir = root + "/tbl"
      ManifestSink.publishAt(Seq((1L, "a")).toDF("id", "s"), dir, version = 5L)
      ManifestSink.committedVersions(spark, dir) shouldBe Seq(5L)
      // a torn LATER attempt (data written, manifest never renamed) is
      // invisible, then deleted and rewritten by a publishAt at its version
      Seq((66L, "torn")).toDF("id", "s").write.parquet(s"$dir/data-v9")
      ManifestSink.read(spark, dir).collect().map(_.getLong(0)) shouldBe Array(1L)
      ManifestSink.publishAt(Seq((2L, "b")).toDF("id", "s"), dir, version = 9L)
      ManifestSink.read(spark, dir).collect().map(_.getLong(0)) shouldBe Array(2L)
      // time travel reads a specific committed version
      ManifestSink.readAt(spark, dir, 5L).collect().map(_.getLong(0)) shouldBe Array(1L)
      // a committed version refuses a republish — replay must skip instead
      intercept[IllegalArgumentException] {
        ManifestSink.publishAt(Seq((3L, "c")).toDF("id", "s"), dir, version = 9L)
      }.getMessage should include("already committed")
    }
  }
}
