package graft

import graft.analytics.Analytics
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `Cached.result` hands back exactly one cached frame, the forced
  * result, and a failed forcing job leaves nothing of its own cached;
  * one converted operator per module keeps that contract. */
class CachedSpec extends SparkSpec {

  private def cachedEntries: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  private def leavesOnlyItsResult(name: String)(op: => DataFrame): Unit =
    withClue(s"$name: ") {
      spark.catalog.clearCache()
      val out = op
      cachedEntries shouldBe 1
      out.storageLevel shouldBe StorageLevel.MEMORY_AND_DISK
      out.unpersist()
      spark.sharedState.cacheManager.isEmpty shouldBe true
    }

  test("result keeps exactly the returned frame and none of the released ones") {
    spark.catalog.clearCache()
    val a = Cached.keep(spark.range(100).toDF("id"))
    a.count()
    val b = Cached.keep(spark.range(50).toDF("x"))
    cachedEntries shouldBe 2
    val out = Cached.result(a.join(b, col("id") === col("x")), a, b)
    cachedEntries shouldBe 1
    out.storageLevel shouldBe StorageLevel.MEMORY_AND_DISK
    a.storageLevel shouldBe StorageLevel.NONE
    b.storageLevel shouldBe StorageLevel.NONE
    out.count() shouldBe 50
    out.unpersist()
  }

  test("a failing forcing job propagates and leaves the CacheManager empty") {
    spark.catalog.clearCache()
    val a = Cached.keep(spark.range(10).toDF("id"))
    a.count()
    val bad = a.select(
      when(col("id") === 7, raise_error(lit("forced failure"))).otherwise(col("id")).as("id"))
    val e = intercept[Exception](Cached.result(bad, a))
    e.getMessage should include("forced failure")
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }

  test("one converted operator per module leaves exactly its result cached") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    leavesOnlyItsResult("TextAnalysis.tokenGini")(TextAnalysis.tokenGini(docs))
    leavesOnlyItsResult("Dedup.minhashPairs")(Dedup.minhashPairs(docs, 0.5))
    leavesOnlyItsResult("Similarity.hammingRecall")(
      Similarity.hammingRecall(emb, Seq(0L, 1L, 2L), 5))
    leavesOnlyItsResult("Multimodal.frameNearDup")(
      Multimodal.frameNearDup(docs, "doc_id", "text", 2, 16L, 2L))
    leavesOnlyItsResult("Analytics.resampleHourly")(Analytics.resampleHourly(
      SparkEntry.events(spark, sf0001).select(col("event_type"), col("tus"), col("value"))))
  }
}
