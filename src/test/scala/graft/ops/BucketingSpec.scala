package graft.ops

import graft.SparkSpec

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private def withConf(k: String, v: String)(body: => Unit): Unit = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None => spark.conf.unset(k)
    }
  }

  test("SCD2 merge over a bucketed history: the history-side exchange disappears (the scaladoc's 100 TB story, pinned)") {
    // ScdMerge.merge's scale claim: bucket the stored history by key and
    // the full-outer MERGE shuffles only the change batch. The per-key
    // window (open-row count) and the SMJ both need hashpartitioning(key)
    // — bucketing satisfies both, so exactly ONE exchange survives: the
    // change side's.
    val hist = (1L to 1000L).map(i =>
        (i, s"seg$i", 0L, Option.empty[Long], true))
      .toDF("key", "seg", "valid_from", "valid_to", "is_current")
    hist.write.mode("overwrite").bucketBy(4, "key").sortBy("key")
      .format("parquet").saveAsTable("bkt_scd_hist")
    try withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val changes = Seq((1L, "zz"), (5000L, "new")).toDF("key", "seg")
      val merged = ScdMerge.merge(
        spark.table("bkt_scd_hist"), changes,
        "key", Seq("seg"), version = 7L)
      val plan = merged.queryExecution.executedPlan.toString()
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
      plan should include("SortMergeJoin")
      merged.count() shouldBe 1002L // 999 pass + 1 close + 1 replace + 1 insert
    } finally spark.sql("DROP TABLE IF EXISTS bkt_scd_hist")
  }
}
