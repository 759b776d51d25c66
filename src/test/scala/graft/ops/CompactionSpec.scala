package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("plan: deterministic first-fit, target respected, oversize file stays a singleton") {
    val files = Seq(("b", 40L), ("a", 60L), ("c", 10L), ("d", 200L), ("e", 50L))
    val p = Compaction.plan(files, targetBytes = 100L)
    // name order: a60 b40 | c10 | d200 | e50 — c can't join (a+b+c=110)
    p shouldBe Seq(Seq("a", "b"), Seq("c"), Seq("d"), Seq("e"))
    // every file exactly once
    p.flatten.sorted shouldBe files.map(_._1).sorted
    // deterministic under input shuffling
    Compaction.plan(files.reverse, 100L) shouldBe p
    // a group never exceeds the target unless it is a single large file
    val sizes = files.toMap
    for (g <- p if g.size > 1) g.map(sizes).sum should be <= 100L
  }

  test("compact: a many-small-files directory collapses to few files, contents identical") {
    SparkEntry.withTempRoot(spark, "graft_compact") { dir =>
      val in = s"$dir/in"; val out = s"$dir/out"
      val df = (0 until 1000).map(i => (i.toLong, s"row $i")).toDF("id", "s")
      df.repartition(20).write.mode("overwrite").parquet(in) // 20 tiny files
      val files = Compaction.listParquet(spark, in)
      files.size shouldBe 20
      val total = files.map(_._2).sum
      val groups = Compaction.plan(files, targetBytes = total / 4 + 1)
      val nOut = Compaction.compact(spark, in, groups, out)
      nOut should be < files.size
      nOut shouldBe groups.size
      // contents survive exactly
      val back = spark.read.parquet(s"$out/g*")
      back.count() shouldBe 1000L
      back.orderBy(col("id")).collect().map(_.getLong(0)) shouldBe (0L until 1000L).toArray
      // and the rewrite really produced one file per group
      for (i <- groups.indices)
        Compaction.listParquet(spark, s"$out/g$i").size shouldBe 1
    }
  }
}
