package graft.streaming

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** exportAsOf (snapshot clone) + describe (DESCRIBE DETAIL) over the
  * ingest-built store lifecycle. */
class StoreLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def corpus =
    (0L until 30L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")

  private def build(root: String, batches: Int = 3): Unit =
    for (b <- 0 until batches)
      DocStoreIngest.ingestBatch(
        corpus.filter($"doc_id" % batches === b), s"$root/docs", b.toLong)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq

  test("LexIngest.describe: per-component commit state, forget backlog counts requests, corpus_n tracks the stats live count across maintenance") {
    SparkEntry.withTempRoot(spark, "graft_lifecycle") { root =>
      val lexDocs = (0L until 30L)
        .map(i => (i, s"doc $i body" + (" pad" * (i % 3).toInt)))
        .toDF("doc_id", "text")
      for (b <- 0 until 3)
        LexIngest.ingestBatch(
          lexDocs.filter($"doc_id" % 3 === b), s"$root/lex", b.toLong)
      // 2 real ids + 1 ghost: the backlog counts REQUESTS (3), the live
      // counts subtract only what the corpus holds (2)
      LexIngest.markDeleted(spark, s"$root/lex", Seq(4L, 9L, 999L))
      def desc() = LexIngest.describe(spark, s"$root/lex")
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
            r.getLong(9))).toMap
      val before = desc()
      before.keySet shouldBe Set("postings", "stats")
      val (_, _, parts, liveB, pend, nComStats, nLiveStats, corpusN, corpusDl) =
        before("stats")
      (parts, liveB, pend) shouldBe ((3L, 3L, 3L))
      nComStats shouldBe 30L
      nLiveStats shouldBe 28L
      corpusN shouldBe 28L // the cache-coherence invariant: == stats n_live
      // postings committed = distinct (doc, token) pairs: every doc has
      // {doc, <i>, body}, docs with i%3 != 0 add one distinct "pad" →
      // 30*3 + 20 = 110; live drops doc 4's 4 pairs and doc 9's 3
      before("postings")._6 shouldBe 110L
      before("postings")._7 shouldBe 103L
      val expectedDl = lexDocs.filter(!$"doc_id".isin(4L, 9L))
        .select(sum(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split($"text", " ")).cast("long")))
        .as[Long].head()
      corpusDl shouldBe expectedDl
      // maintenance: compact applies the deletes physically, vacuum
      // collapses partitions — committed falls to the survivors, the
      // backlog clears, and the SERVED corpus constants do not move
      LexIngest.compact(spark, s"$root/lex")
      LexIngest.vacuum(spark, s"$root/lex")
      val after = desc()
      after("stats")._5 shouldBe 0L // pending cleared
      after("stats")._6 shouldBe 28L // committed = survivors now
      after("stats")._8 shouldBe 28L
      after("stats")._9 shouldBe expectedDl
      after("postings")._3 shouldBe 1L // one generation dir
    }
  }

  test("exportAsOf: clone == liveViewAsOf, survives source compaction past retention") {
    SparkEntry.withTempRoot(spark, "graft_lifecycle") { root =>
      build(root)
      DocStoreIngest.markDeleted(spark, s"$root/docs", Seq(6L, 7L))
      val want = rowsOf(DocStoreIngest.viewAsOf(spark, s"$root/docs", 1L))
      StoreCompaction.exportAsOf(
        spark, s"$root/docs", "doc_id", 1L, s"$root/snap")
      rowsOf(StoreCompaction.committedView(spark, s"$root/snap")) shouldBe want
      // forgotten ids never exported (retroactive subtraction)
      want.map(_._1) should contain noneOf (6L, 7L)

      // the source moves on: compact (watershed 2 > snapshot batch 1),
      // vacuum, and forget MORE ids — the source can no longer
      // reconstruct batch 1, the clone is bit-for-bit unmoved
      DocStoreIngest.compact(spark, s"$root/docs")
      StoreCompaction.vacuum(spark, s"$root/docs")
      DocStoreIngest.markDeleted(spark, s"$root/docs", Seq(3L))
      an[IllegalArgumentException] should be thrownBy
        DocStoreIngest.viewAsOf(spark, s"$root/docs", 1L).collect()
      rowsOf(StoreCompaction.committedView(spark, s"$root/snap")) shouldBe want

      // the clone is a real store with its OWN lifecycle starting empty
      StoreCompaction.hasPendingDeletes(spark, s"$root/snap") shouldBe false
      DocStoreIngest.markDeleted(spark, s"$root/snap", Seq(0L))
      rowsOf(DocStoreIngest.view(spark, s"$root/snap")) shouldBe
        want.filterNot(_._1 == 0L)
      // ...and clone-side forget never leaks back to the source
      rowsOf(DocStoreIngest.view(spark, s"$root/docs"))
        .map(_._1) should contain(0L)
    }
  }

  test("exportAsOf refuses an existing destination; a torn staging dir retries clean") {
    SparkEntry.withTempRoot(spark, "graft_lifecycle") { root =>
      build(root)
      // torn prior attempt: stale staging content must not leak into the export
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/snap.staging/garbage"))
      StoreCompaction.exportAsOf(spark, s"$root/docs", "doc_id", 2L, s"$root/snap")
      rowsOf(StoreCompaction.committedView(spark, s"$root/snap")) shouldBe
        rowsOf(corpus)
      an[IllegalArgumentException] should be thrownBy
        StoreCompaction.exportAsOf(spark, s"$root/docs", "doc_id", 2L, s"$root/snap")
    }
  }

  test("LexIngest.exportAsOf: frozen BM25 snapshot — clone probe bitwise the as-of ranking, immune to source compact/vacuum/forget") {
    val terms = Seq("doc", "body", "5")
    SparkEntry.withTempRoot(spark, "graft_lifecycle") { root =>
      val lexDocs = (0L until 30L)
        .map(i => (i, s"doc $i body" + (" filler" * (i % 4).toInt)))
        .toDF("doc_id", "text")
      for (b <- 0 until 3)
        LexIngest.ingestBatch(
          lexDocs.filter($"doc_id" % 3 === b), s"$root/lex", b.toLong)
      LexIngest.markDeleted(spark, s"$root/lex", Seq(6L, 7L))
      // the as-of truth: a FRESH store holding exactly batches 0-1
      // minus the forget set (construction equality — no shared code
      // path with the export under test)
      for (b <- 0 until 2)
        LexIngest.ingestBatch(
          lexDocs.filter($"doc_id" % 3 === b && !$"doc_id".isin(6L, 7L)),
          s"$root/truth", b.toLong)
      val want = LexIngest.probe(spark, s"$root/truth", terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

      LexIngest.exportAsOf(spark, s"$root/lex", 1L, s"$root/snap")
      def snapProbe() = LexIngest.probe(spark, s"$root/snap", terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      snapProbe() shouldBe want
      // the clone serves its corpus constants from the rebuilt agg
      // cache: 20 batch-0/1 docs minus the 2 forgotten
      LexIngest.corpusStats(spark, s"$root/snap")._1 shouldBe 18L

      // source moves on: compact past the snapshot batch, vacuum,
      // forget MORE — the clone is bit-for-bit unmoved and the source
      // can no longer reconstruct the batch
      LexIngest.compact(spark, s"$root/lex")
      LexIngest.vacuum(spark, s"$root/lex")
      LexIngest.markDeleted(spark, s"$root/lex", Seq(3L))
      an[IllegalArgumentException] should be thrownBy
        StoreCompaction.committedViewAsOf(spark, s"$root/lex/postings", 1L).collect()
      snapProbe() shouldBe want

      // the clone is a REAL lex store: its own forget lifecycle works
      // and never leaks back to the source
      LexIngest.markDeleted(spark, s"$root/snap", Seq(0L))
      LexIngest.probe(spark, s"$root/snap", terms, 10)
        .collect().map(_.getLong(0)) should not contain 0L
      LexIngest.probe(spark, s"$root/lex", terms, 30)
        .collect().map(_.getLong(0)) should contain(0L)

      // immutability + empty-snapshot refusals (the single-store rules)
      an[IllegalArgumentException] should be thrownBy
        LexIngest.exportAsOf(spark, s"$root/lex", 2L, s"$root/snap")
    }
  }

  test("VectorIndexIngest.exportAsOf: frozen ANN snapshot — clone probes through ITS OWN quantizer, immune to source compact/vacuum/forget; codes-only source refused") {
    import graft.llm.Similarity
    SparkEntry.withTempRoot(spark, "graft_lifecycle") { root =>
      val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val quant = Similarity.trainIvfPqQuantizer(
        e, Seq(11L, 57L, 201L, 401L), Seq(3L, 29L, 118L, 222L), 4)
      for (b <- 0 until 3)
        VectorIndexIngest.ingestBatch(
          e.filter($"vec_id" % 3 === b), s"$root/idx", quant, b.toLong)
      StoreCompaction.markDeleted(spark, s"$root/idx", Seq(5L, 18L))
      // as-of truth: a FRESH store holding exactly batches 0-1 minus the
      // forget set (construction equality, no shared path with export)
      for (b <- 0 until 2)
        VectorIndexIngest.ingestBatch(
          e.filter($"vec_id" % 3 === b && !$"vec_id".isin(5L, 18L)),
          s"$root/truth", quant, b.toLong)
      def probeOf(path: String) = Similarity.ivfPqProbe(
          VectorIndexIngest.index(spark, path),
          VectorIndexIngest.quantizer(spark, path),
          Similarity.collectVectors(e, Seq(0L, 1L, 2L)), nprobe = 2, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
      val want = probeOf(s"$root/truth")

      VectorIndexIngest.exportAsOf(spark, s"$root/idx", 1L, s"$root/snap")
      probeOf(s"$root/snap") shouldBe want
      // source moves on; the clone is bit-for-bit unmoved and needs
      // NOTHING from the source (its own model artifact answers)
      StoreCompaction.compact(spark, s"$root/idx", Seq("cell_id"),
        deleteIdCol = Some("vec_id"))
      StoreCompaction.vacuum(spark, s"$root/idx")
      StoreCompaction.markDeleted(spark, s"$root/idx", Seq(7L))
      probeOf(s"$root/snap") shouldBe want
      // the clone is a real index store: its own forget works and never
      // leaks back
      val victim = want.map(_._2)
        .find(id => !Seq(5L, 18L, 7L).contains(id)).get
      StoreCompaction.markDeleted(spark, s"$root/snap", Seq(victim))
      probeOf(s"$root/snap").map(_._2) should not contain victim
      StoreCompaction.deletedIds(spark, s"$root/idx")
        .as[Long].collect() should not contain victim
      // refusals: immutable destination; a codes-only dir (no published
      // _quantizer) is not a servable index store
      an[IllegalArgumentException] should be thrownBy
        VectorIndexIngest.exportAsOf(spark, s"$root/idx", 1L, s"$root/snap")
      e.limit(5).select($"vec_id").withColumn("ingest_batch", lit(0L))
        .write.partitionBy("ingest_batch").parquet(s"$root/bare")
      an[IllegalArgumentException] should be thrownBy
        VectorIndexIngest.exportAsOf(spark, s"$root/bare", 0L, s"$root/snap2")
    }
  }

  test("exportAsOf refuses an EMPTY as-of view (every row deletion-vectored)") {
    SparkEntry.withTempRoot(spark, "graft_lifecycle") { root =>
      build(root)
      // forget the whole corpus: the retroactive subtraction empties
      // every historical snapshot, and exporting one would publish a
      // clone holding only _SUCCESS that later reads can't schema-infer
      DocStoreIngest.markDeleted(spark, s"$root/docs", 0L until 30L)
      an[IllegalArgumentException] should be thrownBy
        StoreCompaction.exportAsOf(spark, s"$root/docs", "doc_id", 1L, s"$root/snap")
      // the refusal is pre-publish: neither dest nor staging appears
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/snap")) shouldBe false
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/snap.staging")) shouldBe false
    }
  }

  test("describe: fresh store values, then post-compact convergence") {
    SparkEntry.withTempRoot(spark, "graft_lifecycle") { root =>
      build(root)
      DocStoreIngest.markDeleted(spark, s"$root/docs", Seq(6L, 7L, 999L)) // 999 = ghost
      val before = StoreCompaction.describe(spark, s"$root/docs", "doc_id")
        .as[(Long, Long, Long, Long, Long, Long, Long)].head()
      before shouldBe ((0L, -1L, 3L, 3L, 3L, 30L, 28L))

      DocStoreIngest.compact(spark, s"$root/docs")
      StoreCompaction.vacuum(spark, s"$root/docs")
      val after = StoreCompaction.describe(spark, s"$root/docs", "doc_id")
        .as[(Long, Long, Long, Long, Long, Long, Long)].head()
      after shouldBe ((1L, 2L, 1L, 0L, 0L, 28L, 28L))
    }
  }

  test("describe: no-deletes path reports n_live == n_committed; new batches count as live") {
    SparkEntry.withTempRoot(spark, "graft_lifecycle") { root =>
      build(root)
      DocStoreIngest.compact(spark, s"$root/docs")
      // one fresh batch lands ABOVE the watershed
      DocStoreIngest.ingestBatch(
        Seq((100L, "late doc")).toDF("doc_id", "text"), s"$root/docs", 3L)
      val d = StoreCompaction.describe(spark, s"$root/docs", "doc_id")
        .as[(Long, Long, Long, Long, Long, Long, Long)].head()
      // generation 1 covering <=2; dirs: batches 0,1,2 (unvacuumed), gen -1,
      // batch 3 => 5 parts, 1 live batch; 31 rows committed and live
      d shouldBe ((1L, 2L, 5L, 1L, 0L, 31L, 31L))
    }
  }
}
