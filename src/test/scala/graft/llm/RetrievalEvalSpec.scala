package graft.llm

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** retrievalEval: exact-grid IR metrics over any ranked frame. */
class RetrievalEvalSpec extends SparkSpec {
  import spark.implicits._

  private def rankedDF(rows: (Long, Long, Long)*) =
    rows.toDF("query_id", "neighbor_id", "rn")

  private def qrelsDF(rows: (Long, Long)*) =
    rows.toDF("query_id", "doc_id")

  test("hand fixture: hits at ranks 2, 5, 9 with R = 4 — the 2520-grid AP") {
    // P@2 = 1/2, P@5 = 2/5, P@9 = 3/9; AP = (sum) / min(4, 10)
    val ranked = rankedDF((1L to 10L).map(r => (7L, 100L + r, r)): _*)
    val rels = qrelsDF(Seq(102L, 105L, 109L, 999L).map(d => (7L, d)): _*)
    val got = Similarity.retrievalEval(ranked, rels, 10)
      .as[(Long, Long, Double, Double, Double)].head()
    val apNum = 1L * (2520 / 2) + 2L * (2520 / 5) + 3L * (2520 / 9)
    apNum shouldBe 3108L
    got shouldBe ((7L, 3L, 3.0 / 10.0, 1.0 / 2.0,
      3108.0 / (2520.0 * 4.0)))
  }

  test("cross-modality fusion: rrf top-2 surfaces each modality's winner, so fused precision beats both single arms on the disjoint fixture") {
    // lexical finds relevant 10 (rank 1), semantic finds relevant 20
    // (rank 1); neither sees the other's winner. Fusion puts both
    // modality winners in the top 2 (each carries the rank-1 rrf term,
    // the irrelevant tails only rank-2 terms), so fused P@2 = 1.0 while
    // each single arm reads 0.5 — the q_eval_hybrid claim in miniature.
    val lex = rankedDF((0L, 10L, 1L), (0L, 99L, 2L))
    val sem = rankedDF((0L, 20L, 1L), (0L, 98L, 2L))
    val rels = qrelsDF((0L, 10L), (0L, 20L))
    val fused = Similarity.rrfFuse(lex, sem, 60, 2)
      .select(col("query_id"), col("neighbor_id"), col("rn"))
    fused.orderBy(col("rn")).select(col("neighbor_id"))
      .as[Long].collect() shouldBe Array(10L, 20L)
    def prec(r: org.apache.spark.sql.DataFrame) =
      Similarity.retrievalEval(r, rels, 2).select(col("prec")).as[Double].head()
    prec(fused) shouldBe 1.0
    prec(lex) shouldBe 0.5
    prec(sem) shouldBe 0.5
  }

  test("no relevant in top-k vs no relevant AT ALL: both 0.0, never NaN") {
    val ranked = rankedDF((1L, 10L, 1L), (1L, 11L, 2L), (2L, 10L, 1L))
    // query 1 has a relevant doc that never ranked; query 2 has none
    val rels = qrelsDF((1L, 99L))
    val got = Similarity.retrievalEval(ranked, rels, 2)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    got shouldBe Seq((1L, 0L, 0.0, 0.0, 0.0), (2L, 0L, 0.0, 0.0, 0.0))
    got.foreach { r =>
      assert(!r._3.isNaN && !r._4.isNaN && !r._5.isNaN)
    }
  }

  test("perfect ranking: everything relevant gives prec 1, rr 1, ap 1") {
    val ranked = rankedDF((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
    val rels = qrelsDF((1L, 10L), (1L, 11L), (1L, 12L))
    Similarity.retrievalEval(ranked, rels, 3)
      .as[(Long, Long, Double, Double, Double)].head() shouldBe
      ((1L, 3L, 1.0, 1.0, 1.0))
  }

  test("duplicated judgment rows count once; rows past k ignored") {
    val ranked = rankedDF((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
    val rels = qrelsDF((1L, 10L), (1L, 10L), (1L, 12L))
    // k = 2: only ranks 1..2 graded; hit at rank 1 only; R = 2
    Similarity.retrievalEval(ranked, rels, 2)
      .as[(Long, Long, Double, Double, Double)].head() shouldBe
      ((1L, 1L, 1.0 / 2.0, 1.0, (1L * (2520 / 1)).toDouble / (2520.0 * 2.0)))
  }

  test("lcmTo: exact values and the k bound") {
    Similarity.lcmTo(10) shouldBe 2520L
    Similarity.lcmTo(1) shouldBe 1L
    Similarity.lcmTo(20) shouldBe 232792560L
    an[IllegalArgumentException] should be thrownBy Similarity.lcmTo(21)
    an[IllegalArgumentException] should be thrownBy Similarity.lcmTo(0)
  }

  test("labelQrels: same-label pairs, self excluded") {
    val e = Seq(
      (0L, Seq(1.0f), 1), (1L, Seq(1.0f), 1), (2L, Seq(1.0f), 2),
      (3L, Seq(1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    Similarity.labelQrels(e, Seq(0L, 2L))
      .as[(Long, Long)].collect().toSeq.sorted shouldBe
      Seq((0L, 1L), (0L, 3L)) // query 2's label has no other member
  }

  test("retriever comparison: refined-Hamming dominates raw Hamming on every metric (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qrels = Similarity.labelQrels(e, Seq(0L, 1L, 2L))
    def evalOf(ranked: org.apache.spark.sql.DataFrame) =
      Similarity.retrievalEval(
        ranked.select($"query_id", $"neighbor_id", $"rn"), qrels, 10)
        .as[(Long, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
    val ham = evalOf(Similarity.hammingTopK(e, Seq(0L, 1L, 2L), 10))
    val ref = evalOf(Similarity.hammingRefined(e, Seq(0L, 1L, 2L), 50, 10))
    // the refine stage re-ranks a 5x candidate superset by exact
    // distance — across the query set it must not lose relevant mass
    ref.values.map(_._2).sum should be >= ham.values.map(_._2).sum
    ham.keySet shouldBe Set(0L, 1L, 2L)
    ref.keySet shouldBe Set(0L, 1L, 2L)
  }

  test("as-of eval reproducibility: later ingests never move a snapshot's metrics; a later FORGET does (retroactive erasure)") {
    import graft.streaming.VecStoreIngest
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    SparkEntry.withTempRoot(spark, "graft_evalasof") { root =>
      try {
        def metricsAsOf(b: Long) =
          Similarity.retrievalEval(
            Similarity.bruteForceTopKRanked(
              VecStoreIngest.viewAsOf(spark, s"$root/vecs", b), Seq(0L, 1L, 2L), 5),
            Similarity.labelQrels(e.filter($"vec_id" % 3 <= b), Seq(0L, 1L, 2L)), 5)
            .as[(Long, Long, Double, Double, Double)].collect().toSeq
        for (b <- 0 until 2)
          VecStoreIngest.ingestBatch(
            e.filter($"vec_id" % 3 === b), s"$root/vecs", b.toLong)
        val before = metricsAsOf(1L)
        before should not be empty
        // batch 2 lands: the as-of-1 grade is bitwise unmoved — the
        // "evaluate on the frozen snapshot" reproducibility primitive
        VecStoreIngest.ingestBatch(
          e.filter($"vec_id" % 3 === 2), s"$root/vecs", 2L)
        metricsAsOf(1L) shouldBe before
        // a FORGET after the snapshot is retroactive by design (no
        // snapshot may resurrect erased vectors), so it MAY move the
        // as-of ranking; at minimum the erased id leaves it
        val victim = Similarity.bruteForceTopKRanked(
          VecStoreIngest.viewAsOf(spark, s"$root/vecs", 1L), Seq(0L), 1)
          .select($"neighbor_id").as[Long].head()
        VecStoreIngest.markDeleted(spark, s"$root/vecs", Seq(victim))
        Similarity.bruteForceTopKRanked(
            VecStoreIngest.viewAsOf(spark, s"$root/vecs", 1L), Seq(0L, 1L, 2L), 5)
          .select($"neighbor_id").as[Long].collect() should not contain victim
      } finally {
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      }
    }
  }

  test("corpus run agrees with a driver-side reference (sf0.001)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.retrievalEval(
        Similarity.bruteForceTopKRanked(e, Seq(0L, 1L, 2L), 10),
        Similarity.labelQrels(e, Seq(0L, 1L, 2L)), 10)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq

    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val ranked = Similarity.bruteForceTopKRanked(e, Seq(0L, 1L, 2L), 10)
      .as[(Long, Long, Long)].collect().toSeq
    val want = Seq(0L, 1L, 2L).map { q =>
      val hits = ranked.filter(_._1 == q).sortBy(_._3)
        .map { case (_, nid, rn) => (rn, labels(nid) == labels(q)) }
      val rTotal = labels.count { case (id, l) => id != q && l == labels(q) }
      val nRel = hits.count(_._2).toLong
      var soFar = 0L; var apNum = 0L
      hits.foreach { case (rn, h) =>
        if (h) { soFar += 1; apNum += soFar * (2520L / rn) } }
      val frr = hits.find(_._2).map(_._1)
      (q, nRel, nRel.toDouble / 10.0,
        frr.map(1.0 / _.toDouble).getOrElse(0.0),
        if (rTotal == 0) 0.0
        else apNum.toDouble / (2520.0 * math.min(rTotal, 10).toDouble))
    }
    got shouldBe want
  }
}
