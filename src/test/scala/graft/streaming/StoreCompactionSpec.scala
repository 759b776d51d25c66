package graft.streaming

import graft.{SparkEntry, SparkSpec}
import graft.llm.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.JobCount

/** OPTIMIZE over ingest-built stores: probes and incremental cleans
  * must be BITWISE identical before and after compaction + vacuum, the
  * per-batch small files must collapse, covered replays must skip, and
  * a torn compaction must be invisible (the ManifestSink commit
  * discipline). */
class StoreCompactionSpec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      // skip `_`-metadata subtrees (_deletes, _compaction, _quantizer):
      // this helper counts the store's DATA partitions
      if (f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.toString.split('/').exists(_.startsWith("_")))
        out += f.getPath.toString
    }
    out.result().sorted
  }

  test("vector index: probe bitwise across compact+vacuum, one file per cell, covered replay skips, ingest resumes above the watershed") {
    SparkEntry.withTempRoot(spark, "cmpvec") { dir =>
      val idx = s"$dir/idx"
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      val queries = Similarity.collectVectors(emb, Seq(0L, 1L, 2L))
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rn").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      def probe() = key(Similarity.ivfPqProbe(
        VectorIndexIngest.index(spark, idx), quant, queries, nprobe = 2, k = 10))
      val expected = key(
        Similarity.ivfPqSearch(emb, coarseIds, cbIds, 4, Seq(0L, 1L, 2L), nprobe = 2, k = 10))

      def batchOf(b: Int) = emb.filter(col("vec_id") % 3 === b)
      // two ingested batches, then OPTIMIZE, then a third above the watershed
      VectorIndexIngest.ingestBatch(batchOf(0), idx, quant, 0L)
      VectorIndexIngest.ingestBatch(batchOf(1), idx, quant, 1L)
      val pre = key(Similarity.ivfPqProbe(
        VectorIndexIngest.index(spark, idx), quant, queries, nprobe = 2, k = 10))
      val filesPre = parquetFiles(idx).size

      val ws = StoreCompaction.compact(spark, idx, Seq("cell_id"))
      ws shouldBe StoreCompaction.Watershed(1L, 1L)
      probe() shouldBe pre // bitwise, before vacuum (covered dirs still on disk)
      StoreCompaction.vacuum(spark, idx) should be > 0
      probe() shouldBe pre // bitwise, after vacuum

      // every surviving partition is the generation's: exactly one file per cell
      val files = parquetFiles(idx)
      files.size should be < filesPre
      all(files) should include("ingest_batch=-1")
      files.map(_.replaceAll("/ingest_batch=.*", "")).distinct.size shouldBe files.size

      // the probe plan still partition-prunes on cell_id over the compacted store
      val plan = Similarity.ivfPqProbe(VectorIndexIngest.index(spark, idx),
          quant, queries, nprobe = 2, k = 10)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      plan should include regex "PartitionFilters: \\[[^\\]]*cell_id"

      // covered replay: batch 1 <= watershed SKIPS — the store is byte-unchanged
      VectorIndexIngest.ingestBatch(batchOf(1), idx, quant, 1L)
      parquetFiles(idx) shouldBe files
      probe() shouldBe pre

      // ingest resumes above the watershed; the full index equals the
      // whole-corpus batch encode and the one-shot search, bitwise
      VectorIndexIngest.ingestBatch(batchOf(2), idx, quant, 2L)
      val all3 = VectorIndexIngest.index(spark, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).sortBy(_._1)
      all3 shouldBe Similarity.ivfPqIndexRows(emb, quant).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).sortBy(_._1)
      probe() shouldBe expected
      // a second-generation compaction folds the new batch too
      StoreCompaction.compact(spark, idx, Seq("cell_id")) shouldBe
        StoreCompaction.Watershed(2L, 2L)
      StoreCompaction.vacuum(spark, idx) should be > 0
      probe() shouldBe expected
    }
  }

  test("span ingest: post-compaction batches clean identically to an uncompacted twin; covered replay skips") {
    import spark.implicits._
    SparkEntry.withTempRoot(spark, "cmpspan") { dir =>
      val n = 3
      val batches = Seq(
        Seq((1L, "w1 w2 w3 w4 w5"), (2L, "p1 p2 p3 p4")),
        Seq((3L, "x w1 w2 w3 w4 y"), (4L, "q1 q2 q3 q4 q5 q6")),
        Seq((5L, "w3 w4 w5 z q1 q2 q3"), (6L, "fresh tokens only here")))
      def ingest(root: String, b: Int): Unit =
        SpanIngest.ingestBatch(batches(b).toDF("doc_id", "text"),
          s"$root/corpus", s"$root/index", b.toLong, n)
      def corpus(root: String) =
        StoreCompaction.committedView(spark, s"$root/corpus")
          .select("doc_id", "text").orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getString(1)))

      ingest(s"$dir/a", 0); ingest(s"$dir/a", 1)
      ingest(s"$dir/b", 0); ingest(s"$dir/b", 1)
      // OPTIMIZE store A (corpus and index together, same watershed)
      StoreCompaction.compact(spark, s"$dir/a/corpus", Nil) shouldBe
        StoreCompaction.Watershed(1L, 1L)
      StoreCompaction.compact(spark, s"$dir/a/index", Nil) shouldBe
        StoreCompaction.Watershed(1L, 1L)
      StoreCompaction.vacuum(spark, s"$dir/a/corpus") should be > 0
      StoreCompaction.vacuum(spark, s"$dir/a/index") should be > 0
      corpus(s"$dir/a") shouldBe corpus(s"$dir/b")
      // the compacted index is ONE partition directory
      parquetFiles(s"$dir/a/index")
        .map(_.replaceAll(".*/(ingest_batch=[^/]*)/.*", "$1"))
        .distinct shouldBe Seq("ingest_batch=-1")

      // covered replay: batch 0 skips on A (byte-unchanged), rewrites on B
      val filesA = parquetFiles(s"$dir/a/corpus")
      SpanIngest.ingestBatch(batches(0).toDF("doc_id", "text"),
        s"$dir/a/corpus", s"$dir/a/index", 0L, n)
      parquetFiles(s"$dir/a/corpus") shouldBe filesA

      // the NEXT batch cleans against the committed view — identical docs
      // on the compacted store and the untouched twin
      ingest(s"$dir/a", 2); ingest(s"$dir/b", 2)
      corpus(s"$dir/a") shouldBe corpus(s"$dir/b")
      // sanity on content: doc 5's corpus-duplicated runs were stripped on both
      corpus(s"$dir/a").find(_._1 == 5L).get._2 should not include "w3 w4 w5"
    }
  }

  test("indexed ingest (band index): post-compaction batches dedup identically to an uncompacted twin; covered replay skips") {
    import spark.implicits._
    SparkEntry.withTempRoot(spark, "cmpband") { dir =>
      // batch 1 near-duplicates batch 0's doc 1 (one token differs) and
      // batch 2 near-duplicates a batch-1 survivor — exercising the
      // committed-view prior read both before and after compaction
      val batches = Seq(
        Seq((1L, "one two three four five six seven eight"),
          (2L, "alpha beta gamma delta epsilon zeta eta theta")),
        Seq((10L, "one two three four five six seven nine"),
          (11L, "totally different content with fresh words here")),
        Seq((20L, "totally different content with fresh words there"),
          (21L, "yet another brand new document body entirely")))
      def ingest(root: String, b: Int): Unit =
        IndexedIngest.ingestBatch(batches(b).toDF("doc_id", "text"),
          s"$root/corpus", s"$root/index", b.toLong, threshold = 0.5)
      def corpus(root: String) =
        StoreCompaction.committedView(spark, s"$root/corpus")
          .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      ingest(s"$dir/a", 0); ingest(s"$dir/a", 1)
      ingest(s"$dir/b", 0); ingest(s"$dir/b", 1)
      StoreCompaction.compact(spark, s"$dir/a/corpus", Nil)
      StoreCompaction.compact(spark, s"$dir/a/index", Nil)
      StoreCompaction.vacuum(spark, s"$dir/a/corpus") should be > 0
      StoreCompaction.vacuum(spark, s"$dir/a/index") should be > 0
      corpus(s"$dir/a") shouldBe corpus(s"$dir/b")
      // covered replay skips on the compacted store
      val files = parquetFiles(s"$dir/a/corpus")
      IndexedIngest.ingestBatch(batches(1).toDF("doc_id", "text"),
        s"$dir/a/corpus", s"$dir/a/index", 1L, threshold = 0.5)
      parquetFiles(s"$dir/a/corpus") shouldBe files
      // the next batch dedups against the committed view identically
      ingest(s"$dir/a", 2); ingest(s"$dir/b", 2)
      corpus(s"$dir/a") shouldBe corpus(s"$dir/b")
      corpus(s"$dir/a") should not contain 10L // near-dup of doc 1 dropped
      corpus(s"$dir/a") should not contain 20L // near-dup of survivor 11
    }
  }

  test("lex ingest compaction: term-sorted consolidation keeps the probe bitwise; per-batch files collapse; covered replay skips") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "cmplex") { dir =>
      val idx = s"$dir/idx"
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val terms = Seq("spark", "window", "customer", "filter")
      def key() = LexIngest.probe(spark, idx, terms, 10)
        .orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
      for (b <- 0 until 4)
        LexIngest.ingestBatch(rows.filter(_._1 % 4 == b).toSeq.toDF("doc_id", "text"),
          idx, b.toLong)
      val expected = key()
      expected shouldBe TextAnalysis.bm25TopDocs(d, terms, 10)
        .orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))

      // OPTIMIZE both stores; postings re-cluster on term (the locality
      // per-batch files fragment), stats fold to one tiny partition
      StoreCompaction.compact(spark, s"$idx/postings", Nil,
        targetFiles = 1, sortCols = Seq("term")) shouldBe
        StoreCompaction.Watershed(1L, 3L)
      StoreCompaction.compact(spark, s"$idx/stats", Nil) shouldBe
        StoreCompaction.Watershed(1L, 3L)
      StoreCompaction.vacuum(spark, s"$idx/postings") should be > 0
      StoreCompaction.vacuum(spark, s"$idx/stats") should be > 0
      key() shouldBe expected
      parquetFiles(s"$idx/postings").size shouldBe 1
      // the consolidated file is term-sorted: row-group min/max skipping
      // has its locality back (verified on the data, not just the plan)
      val termsRead = spark.read
        .parquet(parquetFiles(s"$idx/postings").head.replaceAll("file:", ""))
        .select("term").collect().map(_.getString(0))
      termsRead shouldBe termsRead.sorted
      // covered replay skips byte-identically
      val files = parquetFiles(s"$idx/postings")
      LexIngest.ingestBatch(rows.filter(_._1 % 4 == 2).toSeq.toDF("doc_id", "text"),
        idx, batchId = 2L)
      parquetFiles(s"$idx/postings") shouldBe files
      // ingest resumes above the watershed (a disjoint doc set appends):
      // a term unique to the new doc ranks exactly it
      LexIngest.ingestBatch(Seq((900001L, "zzzuniqueterm appears here once"))
        .toDF("doc_id", "text"), idx, batchId = 4L)
      val after = LexIngest.probe(spark, idx, Seq("zzzuniqueterm"), 10).collect()
        .map(r => r.getLong(0))
      after shouldBe Array(900001L)
      // and the standing ranking is unchanged by the tiny append's stats
      // only in membership terms (avgdl moved, scores may differ): the
      // original top-10 pool is still served from both generations+batch 4
      LexIngest.probe(spark, idx, terms, 10).count() shouldBe 10L
    }
  }

  test("ann_compacted contract query is bitwise the one-shot q_ivf_pq search (same nprobe/k)") {
    val dir = "/root/testdata/sf0.001"
    def key(name: String) =
      graft.SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
    key("ann_compacted") shouldBe key("q_ivf_pq")
  }

  test("deletion vectors (vector index): forgotten ids vanish from probes immediately, physically at compact; compact refuses without the id column") {
    SparkEntry.withTempRoot(spark, "delvec") { dir =>
      val idx = s"$dir/idx"
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      val queries = Similarity.collectVectors(emb, Seq(0L, 1L, 2L))
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      def probe() = key(Similarity.ivfPqProbe(
        VectorIndexIngest.index(spark, idx), quant, queries, nprobe = 2, k = 10))
      for (b <- 0 until 3)
        VectorIndexIngest.ingestBatch(
          emb.filter(col("vec_id") % 3 === b), idx, quant, b.toLong)
      // forget the top-1 neighbor of query 0 (so the effect is visible)
      // plus an id that never existed (idempotent no-op)
      val victim = probe().head._2
      VectorIndexIngest.index(spark, idx)
        .filter(col("vec_id") === victim).count() shouldBe 1L
      StoreCompaction.markDeleted(spark, idx, Seq(victim, 999999L))
      val forgotten = key(Similarity.ivfPqSearch(
        emb.filter(!col("vec_id").isin(victim)), coarseIds, cbIds, 4,
        Seq(0L, 1L, 2L), nprobe = 2, k = 10))
      probe() shouldBe forgotten // logical delete, bitwise vs surviving corpus
      probe().map(_._2) should not contain victim
      // re-marking is a set union: nothing changes
      StoreCompaction.markDeleted(spark, idx, Seq(victim))
      probe() shouldBe forgotten
      // compact without the id column refuses while deletes are pending
      val ex = intercept[IllegalArgumentException] {
        StoreCompaction.compact(spark, idx, Seq("cell_id"))
      }
      ex.getMessage should include("deleteIdCol")
      // compact WITH it applies physically and clears the vector files
      StoreCompaction.compact(spark, idx, Seq("cell_id"),
        deleteIdCol = Some("vec_id"))
      StoreCompaction.vacuum(spark, idx) should be > 0
      probe() shouldBe forgotten
      StoreCompaction.deletedIds(spark, idx).count() shouldBe 0L
      // physically gone: even the raw committed view has no trace
      StoreCompaction.committedView(spark, idx)
        .filter(col("vec_id") === victim).count() shouldBe 0L
    }
  }

  test("deletion vectors (lexical index): post-forget ranking is bitwise the one-shot scorer over the SURVIVING corpus, before and after compaction") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "dellex") { dir =>
      val idx = s"$dir/idx"
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val terms = Seq("spark", "window", "customer", "filter")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
      for (b <- 0 until 3)
        LexIngest.ingestBatch(rows.filter(_._1 % 3 == b).toSeq.toDF("doc_id", "text"),
          idx, b.toLong)
      // forget the current top-2 docs — N and Σdl must shift exactly
      val victims = key(LexIngest.probe(spark, idx, terms, 10)).take(2).map(_._1)
      LexIngest.markDeleted(spark, idx, victims)
      val surviving = key(TextAnalysis.bm25TopDocs(
        d.filter(!col("doc_id").isin(victims: _*)), terms, 10))
      key(LexIngest.probe(spark, idx, terms, 10)) shouldBe surviving
      // with deletes PENDING the probe carries the anti-join, but the term
      // IN filter still pushes through it to the postings scan
      val pendingPlan = LexIngest.probe(spark, idx, terms, 10)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      pendingPlan should include regex "PushedFilters: \\[[^\\]]*In\\(term"
      // physical apply at OPTIMIZE, ranking unchanged
      StoreCompaction.compact(spark, s"$idx/postings", Nil,
        targetFiles = 1, sortCols = Seq("term"), deleteIdCol = Some("doc_id"))
      StoreCompaction.compact(spark, s"$idx/stats", Nil,
        deleteIdCol = Some("doc_id"))
      StoreCompaction.vacuum(spark, s"$idx/postings")
      StoreCompaction.vacuum(spark, s"$idx/stats")
      key(LexIngest.probe(spark, idx, terms, 10)) shouldBe surviving
      StoreCompaction.committedView(spark, s"$idx/postings")
        .filter(col("doc_id").isin(victims: _*)).count() shouldBe 0L
    }
  }

  test("forget end-to-end: deleteCascade verdicts (requested + near-dups) flow into the index deletion vectors; the content stops serving") {
    import spark.implicits._
    import graft.llm.{Dedup, TextAnalysis}
    SparkEntry.withTempRoot(spark, "cascadeidx") { dir =>
      val idx = s"$dir/idx"
      // doc 2 near-duplicates doc 1 (one token differs); docs 3/4 disjoint
      val corpus = Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta iota"),
        (3L, "totally different content with fresh words here"),
        (4L, "yet another unrelated document body entirely"))
      LexIngest.ingestBatch(corpus.toDF("doc_id", "text"), idx, 0L)
      // the removal request names doc 1; the cascade adds its near-dup 2
      val verdicts = Dedup.deleteCascade(corpus.toDF("doc_id", "text"),
          Seq(1L).toDF("doc_id"), threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      verdicts shouldBe Array((1L, "requested"), (2L, "near_dup"))
      LexIngest.markDeleted(spark, idx, verdicts.map(_._1))
      // the forgotten CONTENT stops serving: its distinguishing terms rank
      // nothing, and the ranking over surviving terms equals the one-shot
      // scorer over the surviving corpus, bitwise
      LexIngest.probe(spark, idx, Seq("alpha"), 5).count() shouldBe 0L
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      key(LexIngest.probe(spark, idx, Seq("content", "document"), 5)) shouldBe
        key(TextAnalysis.bm25TopDocs(
          corpus.filter(_._1 > 2L).toDF("doc_id", "text"),
          Seq("content", "document"), 5))
      // and the physical apply leaves no trace
      StoreCompaction.compact(spark, s"$idx/postings", Nil,
        targetFiles = 1, sortCols = Seq("term"), deleteIdCol = Some("doc_id"))
      StoreCompaction.compact(spark, s"$idx/stats", Nil, deleteIdCol = Some("doc_id"))
      StoreCompaction.committedView(spark, s"$idx/postings")
        .filter(col("term") === "alpha").count() shouldBe 0L
    }
  }

  test("generative: random batch splits with compaction at a random mid-stream point always probe bitwise (vector) and rank bitwise (lexical)") {
    import spark.implicits._
    import graft.llm.{Similarity, TextAnalysis}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val quant = Similarity.trainIvfPqQuantizer(
      emb, Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), m = 4)
    val queries = Similarity.collectVectors(emb, Seq(0L, 1L, 2L))
    val terms = Seq("spark", "window", "customer", "filter")
    def vkey(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
    def lkey(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rn").collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
    val vExpected = vkey(Similarity.ivfPqSearch(
      emb, Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), 4,
      Seq(0L, 1L, 2L), nprobe = 2, k = 10))
    val lExpected = lkey(TextAnalysis.bm25TopDocs(docs, terms, 10))
    val embRows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val docRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    for (seed <- Seq(3, 77)) {
      val rnd = new scala.util.Random(seed)
      val nBatches = 2 + rnd.nextInt(4)            // 2..5 batches
      val compactAfter = 1 + rnd.nextInt(nBatches) // compact after 1..n
      val assign = embRows.map(_ => rnd.nextInt(nBatches))
      SparkEntry.withTempRoot(spark, s"cmpgen$seed") { dir =>
        def vBatch(b: Int) = embRows.zip(assign).collect { case (r, a) if a == b => r }
          .toSeq.toDF("vec_id", "embedding")
        def lBatch(b: Int) = docRows.zip(assign).collect { case (r, a) if a == b => r }
          .toSeq.toDF("doc_id", "text")
        for (b <- 0 until nBatches) {
          VectorIndexIngest.ingestBatch(vBatch(b), s"$dir/v", quant, b.toLong)
          LexIngest.ingestBatch(lBatch(b), s"$dir/l", b.toLong)
          if (b + 1 == compactAfter) {
            StoreCompaction.compact(spark, s"$dir/v", Seq("cell_id"))
            StoreCompaction.vacuum(spark, s"$dir/v")
            StoreCompaction.compact(spark, s"$dir/l/postings", Nil,
              targetFiles = 1, sortCols = Seq("term"))
            StoreCompaction.compact(spark, s"$dir/l/stats", Nil)
            StoreCompaction.vacuum(spark, s"$dir/l/postings")
            StoreCompaction.vacuum(spark, s"$dir/l/stats")
          }
        }
        withClue(s"seed $seed ($nBatches batches, compact after $compactAfter): ") {
          vkey(Similarity.ivfPqProbe(VectorIndexIngest.index(spark, s"$dir/v"),
            quant, queries, nprobe = 2, k = 10)) shouldBe vExpected
          lkey(LexIngest.probe(spark, s"$dir/l", terms, 10)) shouldBe lExpected
        }
      }
    }
  }

  test("torn compaction is invisible: generation data without a marker reads as the raw store; retry commits the same generation") {
    SparkEntry.withTempRoot(spark, "cmptorn") { dir =>
      val idx = s"$dir/idx"
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val quant = Similarity.trainIvfPqQuantizer(
        emb, Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), m = 4)
      VectorIndexIngest.ingestBatch(emb.filter(col("vec_id") % 2 === 0), idx, quant, 0L)
      VectorIndexIngest.ingestBatch(emb.filter(col("vec_id") % 2 === 1), idx, quant, 1L)
      def rows() = VectorIndexIngest.index(spark, idx).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).sortBy(_._1)
      val pre = rows()

      StoreCompaction.compact(spark, idx, Seq("cell_id"))
      // tear the commit: generation partitions exist, marker gone
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_compaction/gen-1"), false) shouldBe true
      StoreCompaction.watershed(spark, idx) shouldBe None
      StoreCompaction.coveredThrough(spark, idx) shouldBe -1L
      rows() shouldBe pre // the orphaned -1 partitions are invisible
      // retry: same generation id, dynamic overwrite rewrites it, commit lands
      StoreCompaction.compact(spark, idx, Seq("cell_id")) shouldBe
        StoreCompaction.Watershed(1L, 1L)
      StoreCompaction.vacuum(spark, idx) should be > 0
      rows() shouldBe pre
    }
  }

  test("lexical corpus constants serve from the per-batch aggregates: never the per-doc rows without deletes, exact under forget, rebuilt at compact, per-doc fallback on a torn rebuild") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "cmplexagg") { dir =>
      val idx = s"$dir/idx"
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val terms = Seq("spark", "window", "customer", "filter")
      def key() = LexIngest.probe(spark, idx, terms, 10)
        .orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      def oneShot(docs: org.apache.spark.sql.DataFrame) =
        TextAnalysis.bm25TopDocs(docs, terms, 10)
          .orderBy("rn").collect().map(r => (r.getLong(0),
            java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
      for (b <- 0 until 4)
        LexIngest.ingestBatch(rows.filter(_._1 % 4 == b).toSeq.toDF("doc_id", "text"),
          idx, b.toLong)
      // the folded per-batch aggregates ARE the corpus totals (associative
      // BIGINT addition) and the probe stays bitwise the one-shot scorer
      val st = TextAnalysis.lexStats(d).head()
      LexIngest.corpusStats(spark, idx) shouldBe ((st.getLong(0), st.getLong(1)))
      key() shouldBe oneShot(d)
      // forget: pending deletes subtract exactly (totals minus the deleted
      // docs' count and lengths — still bitwise the surviving one-shot)
      val forget = Seq(87L, 102L)
      LexIngest.markDeleted(spark, idx, forget)
      val surviving = d.filter(!col("doc_id").isin(forget: _*))
      val stS = TextAnalysis.lexStats(surviving).head()
      LexIngest.corpusStats(spark, idx) shouldBe ((stS.getLong(0), stS.getLong(1)))
      key() shouldBe oneShot(surviving)
      // OPTIMIZE the whole store: physical apply + stats_agg rebuild for
      // the generation; probe bitwise; vacuum sweeps the covered agg rows
      val ws = LexIngest.compact(spark, idx)
      ws shouldBe StoreCompaction.Watershed(1L, 3L)
      LexIngest.corpusStats(spark, idx) shouldBe ((stS.getLong(0), stS.getLong(1)))
      key() shouldBe oneShot(surviving)
      LexIngest.vacuum(spark, idx) should be > 0
      parquetFiles(s"$idx/stats_agg")
        .map(_.replaceAll(".*/(ingest_batch=[^/]*)/.*", "$1"))
        .distinct shouldBe Seq("ingest_batch=-1")
      key() shouldBe oneShot(surviving)
      // covered replay skips the agg store too — byte-unchanged
      val aggFiles = parquetFiles(s"$idx/stats_agg")
      LexIngest.ingestBatch(rows.filter(_._1 % 4 == 2).toSeq.toDF("doc_id", "text"),
        idx, batchId = 2L)
      parquetFiles(s"$idx/stats_agg") shouldBe aggFiles
      // torn rebuild: the generation's agg row missing -> the per-doc
      // fallback serves the same exact totals (never wrong, only slower)
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$idx/stats_agg/ingest_batch=-1"), true)
      LexIngest.corpusStats(spark, idx) shouldBe ((stS.getLong(0), stS.getLong(1)))
      key() shouldBe oneShot(surviving)
      // PROOF the no-deletes path reads ONLY the aggregates: a fresh store
      // whose per-doc stats rows are REMOVED from disk still probes
      // correctly (the per-doc table is a forget/compact-time structure,
      // not a probe-time one)
      val idx2 = s"$dir/idx2"
      for (b <- 0 until 2)
        LexIngest.ingestBatch(rows.filter(_._1 % 2 == b).toSeq.toDF("doc_id", "text"),
          idx2, b.toLong)
      fs.delete(new org.apache.hadoop.fs.Path(s"$idx2/stats"), true) shouldBe true
      LexIngest.corpusStats(spark, idx2) shouldBe ((st.getLong(0), st.getLong(1)))
      LexIngest.probe(spark, idx2, terms, 10)
        .orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2))) shouldBe oneShot(d)
    }
  }

  test("corpusStats coverage guard: a pre-round-17 store taking its first new batch falls back to the per-doc fold — the partial agg cache never underreports") {
    import spark.implicits._
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "cmplexpre") { dir =>
      val idx = s"$dir/idx"
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
      for (b <- 0 until 2)
        LexIngest.ingestBatch(rows.filter(_._1 % 3 == b).toSeq.toDF("doc_id", "text"),
          idx, b.toLong)
      // simulate a pre-round-17 store: the agg cache never existed
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$idx/stats_agg"), true) shouldBe true
      // the first round-17 batch creates stats_agg with ONLY its own row;
      // the coverage guard must detect batches 0-1 are uncovered and fall
      // back — the corpus constants stay exact, never partial
      LexIngest.ingestBatch(rows.filter(_._1 % 3 == 2).toSeq.toDF("doc_id", "text"),
        idx, 2L)
      val st = TextAnalysis.lexStats(d).head()
      LexIngest.corpusStats(spark, idx) shouldBe ((st.getLong(0), st.getLong(1)))
      // a whole-store OPTIMIZE rebuilds full coverage: the agg path serves
      LexIngest.compact(spark, idx)
      LexIngest.vacuum(spark, idx)
      LexIngest.corpusStats(spark, idx) shouldBe ((st.getLong(0), st.getLong(1)))
      parquetFiles(s"$idx/stats_agg")
        .map(_.replaceAll(".*/(ingest_batch=[^/]*)/.*", "$1"))
        .distinct shouldBe Seq("ingest_batch=-1")
    }
  }

  test("forget marked BEFORE the first ingest: ingests survive the _deletes-only store and the pre-marked ids never serve") {
    import spark.implicits._
    import graft.llm.Similarity
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "premark") { dir =>
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      // lexical: the forget request lands first (creates stats/_deletes and
      // postings/_deletes with no data files anywhere)
      LexIngest.markDeleted(spark, s"$dir/lex", Seq(87L))
      LexIngest.ingestBatch(d, s"$dir/lex", 0L)
      val terms = Seq("spark", "window", "customer", "filter")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      key(LexIngest.probe(spark, s"$dir/lex", terms, 10)) shouldBe
        key(TextAnalysis.bm25TopDocs(d.filter(col("doc_id") =!= 87L), terms, 10))
      // vector twin: _deletes under the index root before any batch
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val quant = Similarity.trainIvfPqQuantizer(
        emb, Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), m = 4)
      StoreCompaction.markDeleted(spark, s"$dir/vec", Seq(42L))
      VectorIndexIngest.ingestBatch(emb, s"$dir/vec", quant, 0L)
      val idx = VectorIndexIngest.index(spark, s"$dir/vec")
      idx.filter(col("vec_id") === 42L).count() shouldBe 0L
      idx.count() shouldBe emb.count() - 1L
    }
  }

  test("deletedIds reads back the union of every mark, with the same jobs for 2 delete files as for 33") {
    import spark.implicits._
    SparkEntry.withTempRoot(spark, "delread") { dir =>
      def local(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
      // 33 root paths is one past Spark's parallel-listing threshold
      val jobs = Seq(2, 33).map { n =>
        val store = s"$dir/store$n"
        (0 until n).foreach(k => StoreCompaction.markDeleted(spark, store, Seq(k.toLong, k + 1L)))
        val deletes = new org.apache.hadoop.fs.Path(s"$store/_deletes")
        val fs = deletes.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val listed = fs.globStatus(new org.apache.hadoop.fs.Path(deletes, "*.parquet"))
          .map(s => local(s.getPath.toString)).toSet
        listed should have size n.toLong
        // the known schema: building the frame runs no inference job
        JobCount.of(spark.sparkContext)(StoreCompaction.deletedIds(spark, store))._2 shouldBe 0
        val (ids, nJobs) = JobCount.of(spark.sparkContext) {
          StoreCompaction.deletedIds(spark, store).as[Long].collect().sorted
        }
        ids shouldBe (0L to n.toLong).toArray
        StoreCompaction.deletedIds(spark, store).inputFiles.map(local).toSet shouldBe listed
        nJobs
      }
      jobs(1) shouldBe jobs(0)
    }
  }

  test("torn clustered retry cannot resurrect forgotten rows: a cluster emptied by deletes between the torn attempt and the retry leaves no stale -g partition") {
    import spark.implicits._
    SparkEntry.withTempRoot(spark, "cmptornclu") { dir =>
      val store = s"$dir/store"
      Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("id", "cell")
        .withColumn("ingest_batch", lit(0L))
        .write.partitionBy("cell", "ingest_batch").parquet(store)
      // first attempt writes generation 1 (clusters A and B), then TEARS
      StoreCompaction.compact(spark, store, Seq("cell"))
      val fs = new org.apache.hadoop.fs.Path(store)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$store/_compaction/gen-1"), false) shouldBe true
      fs.exists(new org.apache.hadoop.fs.Path(s"$store/cell=B/ingest_batch=-1")) shouldBe true
      // id 3 (the ONLY row of cluster B) is forgotten between attempts
      StoreCompaction.markDeleted(spark, store, Seq(3L))
      // retry: its data has no cluster-B rows, so a bare dynamic overwrite
      // would leave the torn attempt's cell=B/ingest_batch=-1 on disk and
      // the marker commit would resurrect the forgotten row — the
      // pre-write sweep of uncommitted -g directories prevents exactly that
      StoreCompaction.compact(spark, store, Seq("cell"),
        deleteIdCol = Some("id")) shouldBe StoreCompaction.Watershed(1L, 0L)
      fs.exists(new org.apache.hadoop.fs.Path(s"$store/cell=B/ingest_batch=-1")) shouldBe false
      StoreCompaction.committedView(spark, store)
        .select("id").orderBy("id").collect().map(_.getLong(0)) shouldBe Array(1L, 2L)
      StoreCompaction.vacuum(spark, store)
      StoreCompaction.committedView(spark, store)
        .select("id").orderBy("id").collect().map(_.getLong(0)) shouldBe Array(1L, 2L)
      all(parquetFiles(store)) should not include "cell=B"
    }
  }

  test("time travel: as-of B equals the B-batch store, survives compaction at the watershed, refuses below retention, and forget applies RETROACTIVELY to every snapshot") {
    SparkEntry.withTempRoot(spark, "asof") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      for (b <- 0 until 3)
        DocStoreIngest.ingestBatch(
          docs.filter(col("doc_id") % 3 === b), s"$dir/a", b.toLong)
      // as-of B ≡ a store that only ever ingested batches <= B
      for (b <- 0 until 3)
        DocStoreIngest.ingestBatch(
          docs.filter(col("doc_id") % 3 === b && b <= 1), s"$dir/only01", b.toLong)
      rows(DocStoreIngest.viewAsOf(spark, s"$dir/a", 1L)) shouldBe
        rows(DocStoreIngest.view(spark, s"$dir/only01"))
      rows(DocStoreIngest.viewAsOf(spark, s"$dir/a", 2L)) shouldBe
        rows(DocStoreIngest.view(spark, s"$dir/a"))
      // retroactive forget: NO snapshot resurrects an erased row
      val gone = Seq(87L)
      DocStoreIngest.markDeleted(spark, s"$dir/a", gone)
      for (b <- 0L to 2L)
        DocStoreIngest.viewAsOf(spark, s"$dir/a", b)
          .filter(col("doc_id").isin(gone: _*)).count() shouldBe 0L
      // compaction: the generation covers <= 2, so as-of 2 still serves
      // (bitwise) and as-of below the watershed fails LOUDLY (retention)
      val expected2 = rows(DocStoreIngest.view(spark, s"$dir/a"))
      DocStoreIngest.compact(spark, s"$dir/a")
      StoreCompaction.vacuum(spark, s"$dir/a")
      rows(DocStoreIngest.viewAsOf(spark, s"$dir/a", 2L)) shouldBe expected2
      val ex = intercept[IllegalArgumentException] {
        DocStoreIngest.viewAsOf(spark, s"$dir/a", 1L)
      }
      ex.getMessage should include("watershed")
      // post-watershed batches time-travel again: a new batch 3 lands,
      // as-of 2 stays the compacted snapshot, as-of 3 sees it
      DocStoreIngest.ingestBatch(
        docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id") + 1000000L as "doc_id", col("text")),
        s"$dir/a", 3L)
      rows(DocStoreIngest.viewAsOf(spark, s"$dir/a", 2L)) shouldBe expected2
      DocStoreIngest.viewAsOf(spark, s"$dir/a", 3L).count() shouldBe
        expected2.size.toLong + docs.filter(col("doc_id") % 3 === 0).count()
    }
  }
}
