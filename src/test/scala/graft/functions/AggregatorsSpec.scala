package graft.functions

import graft.SparkSpec

class AggregatorsSpec extends SparkSpec {
  test("TopKAgg equals the window row_number top-k on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queryIds = Seq(0L, 1L, 2L)
    // window formulation (the contract query path)
    val viaWindow = graft.llm.Similarity.bruteForceTopK(emb, queryIds, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // aggregator formulation: bounded-heap top-k per query, no window sort
    val viaAgg = graft.llm.Similarity.bruteForceTopKAgg(emb, queryIds, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    viaAgg shouldBe viaWindow
  }

  test("TopKAgg respects ordering and tie-breaks across merges") {
    val agg = new TopKAgg(3)
    val items = Seq((0.5, 7L), (0.9, 2L), (0.9, 1L), (0.1, 9L), (0.7, 4L))
    val (a, b) = items.splitAt(2)
    val merged = agg.merge(
      a.foldLeft(agg.zero)(agg.reduce),
      b.foldLeft(agg.zero)(agg.reduce))
    agg.finish(merged) shouldBe Seq((0.9, 1L), (0.9, 2L), (0.7, 4L))
  }
}
