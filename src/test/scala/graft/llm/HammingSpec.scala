package graft.llm

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Binary (Hamming) ANN family + hard-negative mining.
  *
  * The driver-side references here recompute signatures / distances /
  * rankings with plain Scala ints over the collected corpus — same
  * packing, same popcount, same (distance, id) tie-break — so corpus
  * tests compare exact integers end to end.
  */
class HammingSpec extends SparkSpec {
  import spark.implicits._

  private def embDF(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  private def sigOf(v: Seq[Float]): Seq[Long] = {
    val words = new Array[Long]((v.length + 31) / 32)
    for (i <- v.indices if v(i) > 0.0f) words(i / 32) |= 1L << (i % 32)
    words.toSeq
  }

  private def hammingOf(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum

  test("signBits: hand fixture packs 32-bit words, strict > 0, bit 31 positive") {
    // dim 40: positives at 0, 31 (the word-0 top bit), 33; zero, -0.0
    // and negatives all clear
    val v = Array.fill[Float](40)(-1.0f)
    v(0) = 2.5f; v(31) = 0.125f; v(33) = 1e-30f
    v(5) = 0.0f; v(6) = -0.0f
    val got = Similarity.signSignature(embDF((7L, v.toSeq)))
      .select($"sig").as[Seq[Long]].head()
    got shouldBe Seq(1L | (1L << 31), 1L << 1)
    got.foreach(w => assert(w >= 0L, "words must stay below 2^32"))
  }

  test("hamming distance: XOR popcount across words, bit-31 crossing") {
    val a = embDF((1L, Seq.fill(40)(1.0f)))
    val b0 = Array.fill[Float](40)(1.0f); b0(31) = -1.0f; b0(39) = -1.0f
    val both = Similarity.signSignature(a.union(embDF((2L, b0.toSeq))))
      .orderBy($"vec_id").select($"sig").as[Seq[Long]].collect()
    graft.functions.BitOps.hamming(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(both(0).toArray),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(both(1).toArray)
    ) shouldBe 2L
  }

  test("hammingTopK matches a driver-side integer reference on sf0.001") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queryIds = Seq(0L, 1L, 2L)
    val got = Similarity.hammingTopK(e, queryIds, 10)
      .select($"query_id", $"neighbor_id", $"hamming", $"rn")
      .as[(Long, Long, Long, Long)].collect().toSeq

    val sigs = e.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().map { case (id, v) => id -> sigOf(v) }
    val want = queryIds.flatMap { q =>
      val qs = sigs.find(_._1 == q).get._2
      sigs.filter(_._1 != q)
        .map { case (id, s) => (hammingOf(qs, s), id) }
        .sorted.take(10).zipWithIndex
        .map { case ((h, id), i) => (q, id, h, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._2))
    got shouldBe want
  }

  test("hammingTopK ties break to the lowest neighbor_id") {
    // query = all-positive; two candidates at distance 1 (different flipped
    // bit), one at distance 0 duplicate-signature candidate
    val q = Seq.fill(8)(1.0f)
    def flip(i: Int) = q.updated(i, -1.0f)
    val e = embDF((0L, q), (5L, flip(3)), (3L, flip(6)), (9L, q))
    val got = Similarity.hammingTopK(e, Seq(0L), 3)
      .select($"neighbor_id", $"hamming", $"rn")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._3)
    got shouldBe Seq((9L, 0L, 1L), (3L, 1L, 2L), (5L, 1L, 3L))
  }

  test("hammingRecall: per-query rows, exact counts, recall = found/exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = Similarity.hammingRecall(e, Seq(0L, 1L, 2L), 10)
      .select($"query_id", $"n_exact", $"n_found", $"recall")
      .as[(Long, Long, Long, Double)].collect().toSeq
    rows.map(_._1) shouldBe Seq(0L, 1L, 2L)
    rows.foreach { case (_, nExact, nFound, recall) =>
      nExact shouldBe 10L
      assert(nFound >= 0L && nFound <= 10L)
      assert(recall == nFound.toDouble / nExact.toDouble) // bitwise: one division
    }
    // the found set really is the intersection of the two pools
    val exact = Similarity.bruteForceTopKRanked(e, Seq(0L), 10)
      .select($"neighbor_id").as[Long].collect().toSet
    val ham = Similarity.hammingTopK(e, Seq(0L), 10)
      .select($"neighbor_id").as[Long].collect().toSet
    rows.head._3 shouldBe (exact & ham).size.toLong
  }

  test("hammingRecall is 1.0 when k spans the whole corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = Similarity.hammingRecall(e, Seq(0L), 499)
      .select($"n_exact", $"n_found", $"recall")
      .as[(Long, Long, Double)].collect().toSeq
    rows shouldBe Seq((499L, 499L, 1.0))
  }

  test("hammingProbe over the vec store's liveView composes forget") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    SparkEntry.withTempRoot(spark, "graft_ham_store") { root =>
      try {
        for (b <- 0 until 3)
          graft.streaming.VecStoreIngest.ingestBatch(
            e.filter($"vec_id" % 3 === b), s"$root/vecs", b.toLong)
        val forget = Seq(5L, 18L, 42L, 999999L)
        graft.streaming.VecStoreIngest.markDeleted(spark, s"$root/vecs", forget)
        val stored = Similarity.hammingProbe(
          Similarity.signSignature(
            graft.streaming.VecStoreIngest.view(spark, s"$root/vecs")),
          Seq(0L, 1L, 2L), 10)
          .select($"query_id", $"neighbor_id", $"hamming", $"rn")
          .as[(Long, Long, Long, Long)].collect().toSeq
        val oneShot = Similarity.hammingTopK(
          e.filter(!$"vec_id".isin(forget: _*)), Seq(0L, 1L, 2L), 10)
          .select($"query_id", $"neighbor_id", $"hamming", $"rn")
          .as[(Long, Long, Long, Long)].collect().toSeq
        stored shouldBe oneShot
        stored.map(_._2).toSet.intersect(forget.toSet) shouldBe empty
      } finally {
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      }
    }
  }

  test("hammingRefined: exact-L2² rerank of the hamming candidate set, driver-mirrored") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.hammingRefined(e, Seq(0L, 1L, 2L), 20, 5)
      .select($"query_id", $"neighbor_id", $"d2", $"rn")
      .as[(Long, Long, Double, Long)].collect().toSeq.sortBy(t => (t._1, t._4))

    val vecs = e.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    val sigs = e.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().map { case (id, v) => id -> sigOf(v) }
    def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val want = Seq(0L, 1L, 2L).flatMap { q =>
      val qs = sigs.find(_._1 == q).get._2
      val cand = sigs.filter(_._1 != q)
        .map { case (id, s) => (hammingOf(qs, s), id) }.sorted.take(20).map(_._2)
      cand.map(id => (l2sq(vecs(q), vecs(id)), id)).sorted.take(5).zipWithIndex
        .map { case ((d2, id), i) =>
          (q, id, BigDecimal(d2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            (i + 1).toLong) }
    }
    got shouldBe want
  }

  test("hammingRefined: the propose budget strictly helps on this corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // exact-L2² reference top-10 per query
    val exact = Similarity.hammingRefined(e, Seq(0L, 1L, 2L), 499, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val plain = Similarity.hammingTopK(e, Seq(0L, 1L, 2L), 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val refined = Similarity.hammingRefined(e, Seq(0L, 1L, 2L), 50, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert((refined & exact).size > (plain & exact).size,
      s"refine budget should recover exact neighbors: refined=${(refined & exact).size} plain=${(plain & exact).size}")
  }

  test("store-complete binary pair: sig-store propose + vec-store refine, forget on both, compact keeps it bitwise") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    SparkEntry.withTempRoot(spark, "graft_sig_store") { root =>
      try {
        for (b <- 0 until 3) {
          val part = e.filter($"vec_id" % 3 === b)
          graft.streaming.SigStoreIngest.ingestBatch(part, s"$root/sigs", b.toLong)
          graft.streaming.VecStoreIngest.ingestBatch(part, s"$root/vecs", b.toLong)
        }
        // the store holds ONLY (vec_id, sig) — the 32x-narrower layout
        graft.streaming.SigStoreIngest.view(spark, s"$root/sigs")
          .columns.toSeq shouldBe Seq("vec_id", "sig")

        // pre-forget: stored pair == one-shot hammingRefined bitwise
        def key(df: org.apache.spark.sql.DataFrame) =
          df.orderBy($"query_id", $"rn").collect().map(r => (r.getLong(0),
            r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
            r.getLong(3))).toSeq
        def stored() = Similarity.hammingRefinedStored(
          graft.streaming.SigStoreIngest.view(spark, s"$root/sigs"),
          graft.streaming.VecStoreIngest.view(spark, s"$root/vecs"),
          Seq(0L, 1L, 2L), 20, 5)
        key(stored()) shouldBe key(Similarity.hammingRefined(e, Seq(0L, 1L, 2L), 20, 5))

        // forget on BOTH stores: == one-shot over the surviving corpus,
        // and the forgotten ids leave both stages
        val forget = Seq(5L, 18L, 42L, 999999L)
        graft.streaming.SigStoreIngest.markDeleted(spark, s"$root/sigs", forget)
        graft.streaming.VecStoreIngest.markDeleted(spark, s"$root/vecs", forget)
        val surviving = e.filter(!$"vec_id".isin(forget: _*))
        val postForget = key(stored())
        postForget shouldBe key(Similarity.hammingRefined(surviving, Seq(0L, 1L, 2L), 20, 5))
        postForget.map(_._2).toSet.intersect(forget.toSet) shouldBe empty

        // the as-of signature frame travels (retroactive forget composed)
        graft.streaming.StoreCompaction.liveViewAsOf(spark, s"$root/sigs", "vec_id", 1L)
          .select($"vec_id").as[Long].collect().toSet shouldBe
          e.filter($"vec_id" % 3 <= 1 && !$"vec_id".isin(forget: _*))
            .select($"vec_id").as[Long].collect().toSet

        // physical apply: compact both, probe bitwise unchanged
        for (store <- Seq(s"$root/sigs", s"$root/vecs"))
          graft.streaming.StoreCompaction.compact(spark, store, Nil,
            sortCols = Seq("vec_id"), deleteIdCol = Some("vec_id"))
        graft.streaming.StoreCompaction.vacuum(spark, s"$root/sigs")
        graft.streaming.StoreCompaction.vacuum(spark, s"$root/vecs")
        key(stored()) shouldBe postForget
        // ...and the sig-store probe alone serves the Hamming ranking
        Similarity.hammingProbe(
            graft.streaming.SigStoreIngest.view(spark, s"$root/sigs"), Seq(0L), 5)
          .select($"neighbor_id").as[Long].collect().toSeq shouldBe
          Similarity.hammingTopK(surviving, Seq(0L), 5)
            .select($"neighbor_id").as[Long].collect().toSeq
      } finally {
        val p = new org.apache.hadoop.fs.Path(root)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        ()
      }
    }
  }

  test("hardNegatives: hand fixture excludes same-label, ranks by cosine") {
    // query 0 label 1. Candidate 1: same label, nearly identical (would be
    // rank 1 if admitted). Candidates 2,3: different label, 2 closer.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 1),
      (1L, Seq(0.99f, 0.01f, 0.0f), 1),
      (2L, Seq(0.9f, 0.1f, 0.0f), 2),
      (3L, Seq(0.0f, 1.0f, 0.0f), 3)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(e, Seq(0L), 2)
      .select($"neighbor_id", $"label", $"rn")
      .as[(Long, Int, Long)].collect().toSeq.sortBy(_._3)
    got shouldBe Seq((2L, 2, 1L), (3L, 3, 2L))
  }

  test("hardNegatives on sf0.001: only different labels, full k, ranked by sim") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qLabels = e.filter($"vec_id".isin(0L, 1L, 2L))
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val rows = Similarity.hardNegatives(e, Seq(0L, 1L, 2L), 10)
      .select($"query_id", $"neighbor_id", $"label", $"sim", $"rn")
      .as[(Long, Long, Int, Double, Long)].collect().toSeq
    rows.groupBy(_._1).foreach { case (q, g) =>
      g.size shouldBe 10
      g.foreach { case (_, nid, lab, _, _) =>
        lab should not be qLabels(q)
        nid should not be q
      }
      // ranks follow (sim DESC, neighbor_id)
      val byRank = g.sortBy(_._5)
      byRank.sliding(2).foreach { case Seq(a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 && a._2 < b._2))
      case _ => () }
    }
  }
}
