package graft.streaming

import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum, window}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $s")

  test("streaming ingest dedup: near-dups of earlier batches never reach the corpus") {
    implicit val ctx = spark.sqlContext
    SparkEntry.withTempRoot(spark, "ingest") { dir =>
      val corpusPath = s"$dir/corpus"
      val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val mem = MemoryStream[(Long, String)]
      val q = IngestDedup.start(mem.toDF.toDF("doc_id", "text"),
        corpusPath, s"$dir/ck", threshold = 0.5)
      try {
        mem.addData((1L, a), (2L, "one two three four five six seven"))
        q.processAllAvailable()
        // batch 2: 10 dups batch 1's doc 1; 11/12 duplicate each other
        mem.addData((10L, a),
          (11L, "red green blue cyan magenta yellow black white"),
          (12L, "red green blue cyan magenta yellow black white"))
        q.processAllAvailable()
        val corpus = spark.read.parquet(corpusPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        corpus shouldBe Set(1L, 2L, 11L) // 10 dropped vs corpus, 12 within batch
        // idempotent sink: replaying a batch overwrites its partition, not appends
        IngestDedup.ingestBatch(Seq((11L, "red green blue cyan magenta yellow black white"),
          (12L, "red green blue cyan magenta yellow black white"))
          .toDF("doc_id", "text"), corpusPath, batchId = 1L, threshold = 0.5)
        val again = spark.read.parquet(corpusPath)
          .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
        again shouldBe Seq(1L, 2L, 11L) // same rows — no duplicate 11
      } finally q.stop()
    }
  }

  test("quality gate: failing batch quarantined whole, passing accepted, replay idempotent") {
    implicit val ctx = spark.sqlContext
    SparkEntry.withTempRoot(spark, "qgate") { dir =>
      val (acc, quar, ver) = (s"$dir/accepted", s"$dir/quarantine", s"$dir/verdicts")
      val rules = Seq[(String, org.apache.spark.sql.Column)](
        "nonneg_value" -> (col("value") < 0))
      val mem = MemoryStream[(Long, Double)]
      val q = QualityGate.start(mem.toDF.toDF("doc_id", "value"),
        rules, acc, quar, ver, s"$dir/ck")
      try {
        mem.addData((1L, 5.0), (2L, 3.0))   // clean batch -> accepted
        q.processAllAvailable()
        mem.addData((3L, 7.0), (4L, -1.0))  // one bad row -> batch quarantined WHOLE
        q.processAllAvailable()
        spark.read.parquet(acc).select("doc_id").collect()
          .map(_.getLong(0)).toSet shouldBe Set(1L, 2L)
        spark.read.parquet(quar).select("doc_id").collect()
          .map(_.getLong(0)).toSet shouldBe Set(3L, 4L) // clean row 3 NOT admitted
        // verdict log carries both batches' check results
        // gate_batch comes back from the partition directory as an int
        val v = spark.read.parquet(ver)
          .select(col("gate_batch").cast("long"), col("n_violations"), col("passed"))
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
        v(0L) shouldBe ((0L, true))
        v(1L) shouldBe ((1L, false))
        // replay of the failing batch overwrites its own partitions: same verdict,
        // same quarantine rows, nothing lands in accepted
        QualityGate.gateBatch(Seq((3L, 7.0), (4L, -1.0)).toDF("doc_id", "value"),
          rules, acc, quar, ver, batchId = 1L)
        spark.read.parquet(quar).select("doc_id").collect()
          .map(_.getLong(0)).toSeq.sorted shouldBe Seq(3L, 4L)
        spark.read.parquet(acc).select("doc_id").collect()
          .map(_.getLong(0)).toSet shouldBe Set(1L, 2L)
      } finally q.stop()
    }
  }

  test("indexed ingest: same corpus as the re-banding loop, index maintained, replay idempotent") {
    implicit val ctx = spark.sqlContext
    SparkEntry.withTempRoot(spark, "idxingest") { dir =>
      val corpusPath = s"$dir/corpus"; val indexPath = s"$dir/index"
      val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val b2 = Seq((10L, a),
        (11L, "red green blue cyan magenta yellow black white"),
        (12L, "red green blue cyan magenta yellow black white"))
      val mem = MemoryStream[(Long, String)]
      val q = IndexedIngest.start(mem.toDF.toDF("doc_id", "text"),
        corpusPath, indexPath, s"$dir/ck", threshold = 0.5)
      try {
        mem.addData((1L, a), (2L, "one two three four five six seven"))
        q.processAllAvailable()
        mem.addData(b2: _*)
        q.processAllAvailable()
        // identical POLICY outcome to IngestDedup's fixture: 10 dups the
        // corpus, 12 dups 11 within the batch
        spark.read.parquet(corpusPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 11L)
        // the index holds band rows for exactly the survivors, per batch
        val idx = spark.read.parquet(indexPath)
        idx.select("doc_id").distinct().collect().map(_.getLong(0)).toSet shouldBe
          Set(1L, 2L, 11L)
        idx.filter(col("ingest_batch") === 1L)
          .select("doc_id").distinct().collect().map(_.getLong(0)).toSet shouldBe Set(11L)
        // replay batch 1: both stores overwrite their own partitions
        val before = idx.orderBy("doc_id", "band").collect().toSeq
        IndexedIngest.ingestBatch(b2.toDF("doc_id", "text"),
          corpusPath, indexPath, batchId = 1L, threshold = 0.5)
        spark.read.parquet(corpusPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 11L)
        spark.read.parquet(indexPath).orderBy("doc_id", "band").collect().toSeq shouldBe before
      } finally q.stop()
    }
  }

  test("indexed ingest: torn first batch (corpus written, index missing) replays instead of wedging") {
    // crash window between the two sinks: ingest_batch=0 exists under
    // corpusPath but indexPath was never created — the prior branch used
    // to read indexPath unconditionally and throw PATH_NOT_FOUND on
    // every replay, wedging the stream permanently
    SparkEntry.withTempRoot(spark, "tornidx") { dir =>
      val corpusPath = s"$dir/corpus"; val indexPath = s"$dir/index"
      val b0 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
      IndexedIngest.ingestBatch(b0, corpusPath, indexPath, batchId = 0L, threshold = 0.5)
      // simulate the torn state: corpus partition present, index gone
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(indexPath), true) shouldBe true
      // replay of batch 0 must succeed and rebuild both stores
      noException should be thrownBy
        IndexedIngest.ingestBatch(b0, corpusPath, indexPath, batchId = 0L, threshold = 0.5)
      spark.read.parquet(corpusPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L)
      spark.read.parquet(indexPath)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L)
      // and the stream continues normally afterwards
      IndexedIngest.ingestBatch(
        Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
          (11L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
          .toDF("doc_id", "text"),
        corpusPath, indexPath, batchId = 1L, threshold = 0.5)
      spark.read.parquet(corpusPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 11L)
    }
  }

  test("indexed ingest: index lost beside PRIOR corpus batches raises instead of degrading") {
    // the empty-index substitute is scoped to the torn-first-batch
    // replay; if real prior batches exist and the index vanished
    // (external deletion, partial restore), silently proceeding would
    // degrade cross-batch near-dup to within-batch-only — must raise
    SparkEntry.withTempRoot(spark, "lostidx") { dir =>
      val corpusPath = s"$dir/corpus"; val indexPath = s"$dir/index"
      val b0 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
        .toDF("doc_id", "text")
      IndexedIngest.ingestBatch(b0, corpusPath, indexPath, batchId = 0L, threshold = 0.5)
      val fs = new org.apache.hadoop.fs.Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(indexPath), true) shouldBe true
      val ex = intercept[IllegalArgumentException] {
        IndexedIngest.ingestBatch(
          Seq((10L, "nine ten eleven twelve thirteen fourteen"))
            .toDF("doc_id", "text"),
          corpusPath, indexPath, batchId = 1L, threshold = 0.5)
      }
      ex.getMessage should include("band index missing")
      ex.getMessage should include("prior batches 0")
    }
  }

  test("ingest failure paths release their caches: a store path that is a regular file leaves nothing cached") {
    // each write throws (the store path cannot become a directory); the
    // frames an ingest persisted on the way must not outlive the call
    SparkEntry.withTempRoot(spark, "ingestfail") { dir =>
      val file = java.nio.file.Files.createFile(
        java.nio.file.Paths.get(dir, "not-a-dir")).toString
      val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
      val ingests: Seq[(String, () => Unit)] = Seq(
        "IngestDedup" -> (() =>
          IngestDedup.ingestBatch(docs, file, batchId = 0L, threshold = 0.5)),
        "IndexedIngest" -> (() =>
          IndexedIngest.ingestBatch(docs, s"$dir/idx-corpus", file,
            batchId = 0L, threshold = 0.5)),
        "SpanIngest" -> (() =>
          SpanIngest.ingestBatch(docs, s"$dir/span-corpus", file,
            batchId = 0L, n = 3)))
      for ((name, ingest) <- ingests) withClue(s"$name: ") {
        spark.catalog.clearCache()
        an[Exception] should be thrownBy ingest()
        spark.sharedState.cacheManager.isEmpty shouldBe true
      }
    }
  }

  test("corpusCard: the complete-mode table equals the batch datasheet's additive integers at every trigger") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, String)]
    val q = QualityGate.corpusCard(
        mem.toDF.toDF("doc_id", "text", "source", "lang"),
        minWords = 2, maxWords = 100, minAvgLen = 1.0, maxAvgLen = 10.0,
        minStopHits = 0, minAlphaFrac = 0.5)
      .writeStream.format("memory").queryName("card")
      .outputMode("complete").start()
    val b1 = Seq((1L, "the cat sat on the mat", "web", "en"),
      (2L, "x", "web", "en")) // 1 word: fails minWords
    val b2 = Seq((3L, "more words arrive here", "books", "en"),
      (4L, "the 99 of 42", "web", "en")) // alpha_frac 0.5: passes at >= 0.5
    def streamed() = spark.sql("SELECT * FROM card ORDER BY source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    def batchCard(rows: Seq[(Long, String, String, String)]) =
      graft.llm.TextAnalysis.datasheet(
          rows.toDF("doc_id", "text", "source", "lang"),
          2, 100, 1.0, 10.0, 0, 0.5)
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(6))).toSeq
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      streamed() shouldBe batchCard(b1)
      streamed() shouldBe Seq(("web", 2L, 7L, 1L))
      mem.addData(b2: _*)
      q.processAllAvailable()
      streamed() shouldBe batchCard(b1 ++ b2)
      streamed() shouldBe Seq(("books", 1L, 4L, 1L), ("web", 3L, 11L, 2L))
    } finally q.stop()
  }

  test("corpusCardDiffStream: per-trigger drift vs the committed release card; equals the batch corpusCardDiff card columns on the release pair") {
    implicit val ctx = spark.sqlContext
    SparkEntry.withTempRoot(spark, "carddiff") { dir =>
      val thr = (2, 100, 1.0, 10.0, 0, 0.5)
      // the committed release: web-only, two docs
      val release = Seq((1L, "the cat sat on the mat", "web", "en"),
        (2L, "x", "web", "en"))
      val releaseCard = graft.llm.TextAnalysis.datasheet(
          release.toDF("doc_id", "text", "source", "lang"),
          thr._1, thr._2, thr._3, thr._4, thr._5, thr._6)
        .select("source", "n_docs", "n_tokens", "n_gopher_pass")
      val mem = MemoryStream[(Long, String, String, String)]
      val q = QualityGate.corpusCardDiffStream(
        mem.toDF.toDF("doc_id", "text", "source", "lang"), releaseCard,
        s"$dir/out", s"$dir/ck", thr._1, thr._2, thr._3, thr._4, thr._5, thr._6)
      def latest() = {
        val all = spark.read.parquet(s"$dir/out")
        // monitor_batch is a partition column: round-trips as INT
        val last = all.agg(org.apache.spark.sql.functions.max(
          col("monitor_batch").cast("long"))).head().getLong(0)
        all.filter(col("monitor_batch") === last).orderBy("source").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
            r.getLong(8), r.getLong(9))).toSeq
      }
      val b1 = Seq((1L, "the cat sat on the mat", "web", "en")) // re-ingest of release doc 1
      val b2 = Seq((3L, "more words arrive here", "books", "en"),
        (4L, "the 99 of 42", "web", "en"))
      try {
        mem.addData(b1: _*)
        q.processAllAvailable()
        // live: web(1 doc, 6 tok, 1 pass); release: web(2, 7, 1)
        latest() shouldBe Seq(("web", 2L, 1L, -1L, 7L, 6L, -1L, 1L, 1L, 0L))
        mem.addData(b2: _*)
        q.processAllAvailable()
        // books is live-only -> release side coalesces to 0
        latest() shouldBe Seq(
          ("books", 0L, 1L, 1L, 0L, 4L, 4L, 0L, 1L, 1L),
          ("web", 2L, 2L, 0L, 7L, 10L, 3L, 1L, 2L, 1L))
      } finally q.stop()
      // the monitor's final row set equals the BATCH corpusCardDiff's card
      // columns over the same (release, live) snapshot pair
      val batchDiff = graft.analytics.DataQuality.corpusCardDiff(
          release.toDF("doc_id", "text", "source", "lang"),
          (b1 ++ b2).toDF("doc_id", "text", "source", "lang"),
          thr._1, thr._2, thr._3, thr._4, thr._5, thr._6)
        .orderBy("source").collect()
        .map(r => (r.getString(0),
          r.getAs[Long]("docs_old"), r.getAs[Long]("docs_new"),
          r.getAs[Long]("tokens_old"), r.getAs[Long]("tokens_new"),
          r.getAs[Long]("token_delta"),
          r.getAs[Long]("pass_old"), r.getAs[Long]("pass_new"))).toSeq
      latest().map(t => (t._1, t._2, t._3, t._5, t._6, t._7, t._8, t._9)) shouldBe batchDiff
    }
  }

  test("span ingest: batches clean against the stored corpus, index follows the CLEANED text; replay rewrites identically; index loss raises") {
    implicit val ctx = spark.sqlContext
    SparkEntry.withTempRoot(spark, "spaningest") { dir =>
      val (c, i) = (s"$dir/c", s"$dir/i")
      def corpus(): Seq[(Long, Long, String)] =
        spark.read.parquet(c).select("doc_id", "n_dropped", "text")
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      val mem = MemoryStream[(Long, String)]
      val q = SpanIngest.start(mem.toDF.toDF("doc_id", "text"), c, i, s"$dir/ck", n = 3)
      try {
        mem.addData((1L, "a b c d"), (2L, "p q r"))
        q.processAllAvailable()
        mem.addData((10L, "x a b c y"), (11L, "m n o m n o"), (12L, "p q r"))
        q.processAllAvailable()
        corpus() shouldBe Seq(
          (1L, 0L, "a b c d"), (2L, 0L, "p q r"),
          (10L, 3L, "x y"),            // 'a b c' owned by batch 0
          (11L, 0L, "m n o m n o"),    // batch-internal repeat: kept
          (12L, 3L, ""))               // fully owned: empties, row kept
        // the index follows CLEANED text: doc 10 contributed no 3-grams
        // ("x y" is too short), doc 11 contributed its m/n/o grams — a new
        // arrival repeating doc 11's content cleans against the STORE
        mem.addData((20L, "m n o z"))
        q.processAllAvailable()
        corpus().last shouldBe ((20L, 3L, "z"))
      } finally q.stop()
      // replay of batch 1 (same input, same prior view) rewrites its own
      // partitions byte-identically — corpus unchanged
      val before = corpus()
      SpanIngest.ingestBatch(
        Seq((10L, "x a b c y"), (11L, "m n o m n o"), (12L, "p q r"))
          .toDF("doc_id", "text"), c, i, batchId = 1L, n = 3)
      corpus() shouldBe before
      // index lost beside prior corpus batches: raise, never degrade
      val fs = new org.apache.hadoop.fs.Path(i)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(i), true) shouldBe true
      val ex = intercept[IllegalArgumentException] {
        SpanIngest.ingestBatch(Seq((30L, "z z z")).toDF("doc_id", "text"),
          c, i, batchId = 3L, n = 3)
      }
      ex.getMessage should include("span index missing")
    }
  }

  test("span ingest: torn first batch (corpus written, index missing) replays instead of wedging") {
    // the IndexedIngest crash window on the span stores: batch 0's
    // corpus partition landed, its gram index never did
    SparkEntry.withTempRoot(spark, "tornspan") { dir =>
      val (c, i) = (s"$dir/c", s"$dir/i")
      val b0 = Seq((1L, "a b c d"), (2L, "p q r")).toDF("doc_id", "text")
      SpanIngest.ingestBatch(b0, c, i, batchId = 0L, n = 3)
      val fs = new org.apache.hadoop.fs.Path(i)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(i), true) shouldBe true
      // replay of batch 0 must succeed and rebuild both stores
      noException should be thrownBy SpanIngest.ingestBatch(b0, c, i, batchId = 0L, n = 3)
      def corpus(): Seq[(Long, Long, String)] =
        spark.read.parquet(c).select("doc_id", "n_dropped", "text")
          .orderBy("doc_id").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      corpus() shouldBe Seq((1L, 0L, "a b c d"), (2L, 0L, "p q r"))
      def grams(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.select(col("g").cast("string")).collect().map(_.getString(0)).toSet
      grams(spark.read.parquet(i)) shouldBe grams(graft.llm.Dedup.spanIndexRows(b0, 3))
      // and the stream continues normally: batch 1 cleans against the
      // rebuilt index
      SpanIngest.ingestBatch(Seq((10L, "x a b c y")).toDF("doc_id", "text"),
        c, i, batchId = 1L, n = 3)
      corpus().last shouldBe ((10L, 3L, "x y"))
    }
  }

  test("scd ingest: versioned SCD2 history per micro-batch; completed replay skips, torn replay rewrites identically") {
    implicit val ctx = spark.sqlContext
    SparkEntry.withTempRoot(spark, "scdingest") { dir =>
      val hist = s"$dir/hist"
      val mem = MemoryStream[(Long, String)]
      val q = ScdIngest.start(mem.toDF.toDF("key", "seg"), hist, "key", Seq("seg"), s"$dir/ck")
      def snapshot(): Array[(Long, String, Long, Long, Boolean)] =
        ScdIngest.currentHistory(spark, hist).orderBy("key", "valid_from").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      try {
        mem.addData((1L, "a"), (2L, "x"))
        q.processAllAvailable()
        mem.addData((1L, "b"), (3L, "n"))
        q.processAllAvailable()
        val cur = snapshot()
        cur shouldBe Array(
          (1L, "a", 0L, 1L, false), (1L, "b", 1L, -1L, true),
          (2L, "x", 0L, -1L, true), (3L, "n", 1L, -1L, true))
        graft.ops.ManifestSink.committedVersions(spark, hist) shouldBe Seq(0L, 1L)
        // time travel: version 0 is the pre-merge snapshot, still readable
        graft.ops.ManifestSink.readAt(spark, hist, 0L).count() shouldBe 2L
        // completed replay: manifest-1 is durable, the batch skips whole
        ScdIngest.ingestBatch(Seq((1L, "b"), (3L, "n")).toDF("key", "seg"),
          hist, "key", Seq("seg"), batchId = 1L)
        graft.ops.ManifestSink.committedVersions(spark, hist) shouldBe Seq(0L, 1L)
        snapshot() shouldBe cur
        // torn replay: manifest-1 gone, data-v1 still on disk — the batch
        // re-merges against version 0 and rewrites an identical snapshot
        val fs = new org.apache.hadoop.fs.Path(hist)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(s"$hist/manifest-1"), false) shouldBe true
        ScdIngest.ingestBatch(Seq((1L, "b"), (3L, "n")).toDF("key", "seg"),
          hist, "key", Seq("seg"), batchId = 1L)
        graft.ops.ManifestSink.committedVersions(spark, hist) shouldBe Seq(0L, 1L)
        snapshot() shouldBe cur
      } finally q.stop()
    }
  }

  test("scd ingest: a multi-change-per-key batch fails loudly and publishes nothing") {
    SparkEntry.withTempRoot(spark, "scdmulti") { dir =>
      val hist = s"$dir/hist"
      ScdIngest.ingestBatch(Seq((1L, "a"), (2L, "x")).toDF("key", "seg"),
        hist, "key", Seq("seg"), batchId = 0L)
      // two change rows for one key have no defensible winner: the batch
      // fails loudly (a task-level assert_true riding the merge's own key
      // exchange — no extra pre-check job) instead of fanning out through
      // the merge join and corrupting history
      val ex = intercept[Exception] {
        ScdIngest.ingestBatch(
          Seq((3L, "m"), (3L, "n")).toDF("key", "seg"),
          hist, "key", Seq("seg"), batchId = 1L)
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      messages(ex).mkString("\n") should include("change rows for key")
      // and the failed batch published nothing
      graft.ops.ManifestSink.committedVersions(spark, hist) shouldBe Seq(0L)
    }
  }

  test("scd enrichStream: streamed point-in-time enrichment equals the batch PIT; replay overwrites its own partition") {
    implicit val ctx = spark.sqlContext
    SparkEntry.withTempRoot(spark, "scdenrich") { dir =>
      // a committed two-version history: key 1 re-segments at version 5
      val hist = Seq(
        (1L, "a", 0L, Option(5L), false), (1L, "b", 5L, Option.empty[Long], true),
        (2L, "z", 3L, Option.empty[Long], true))
        .toDF("key", "seg", "valid_from", "valid_to", "is_current")
      graft.ops.ManifestSink.publishAt(hist, s"$dir/hist", 0L)
      val facts = Seq((1L, 0L), (1L, 7L), (2L, 1L), (3L, 9L))
      val mem = MemoryStream[(Long, Long)]
      val q = ScdIngest.enrichStream(mem.toDF.toDF("key", "t"),
        s"$dir/hist", s"$dir/out", "key", "t", Seq("seg"), s"$dir/ck")
      try {
        mem.addData(facts.take(2): _*)
        q.processAllAvailable()
        mem.addData(facts.drop(2): _*)
        q.processAllAvailable()
      } finally q.stop()
      def out() = spark.read.parquet(s"$dir/out")
        .orderBy("key", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      val batchPit = graft.ops.ScdMerge.pointInTime(hist,
          facts.toDF("key", "t"), "key", "t", Seq("seg"))
        .orderBy("key", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
      out() shouldBe batchPit
      batchPit shouldBe Array(
        (1L, 0L, Some("a")), (1L, 7L, Some("b")), // historical vs current attrs
        (2L, 1L, None), (3L, 9L, None))
      // replay of batch 1 overwrites its own partition, never appends
      graft.ops.ScdMerge.pointInTime(hist,
          facts.drop(2).toDF("key", "t"), "key", "t", Seq("seg"))
        .withColumn("enrich_batch", lit(1L))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("enrich_batch").parquet(s"$dir/out")
      out() shouldBe batchPit
    }
  }

  test("bloom ingest: exact streaming dedup, replay idempotent, restart restores the bloom") {
    implicit val ctx = spark.sqlContext
    SparkEntry.withTempRoot(spark, "bloomingest") { dir =>
      val corpusPath = s"$dir/corpus"
      val ck = s"$dir/ck"
      val mem = MemoryStream[(Long, String)]
      val bi = new BloomIngest(expectedItems = 1000L, numBits = 8000L)
      val q = bi.start(mem.toDF.toDF("doc_id", "text"), corpusPath, ck)
      val b2 = Seq((10L, "alpha one"), (12L, "gamma three"), (11L, "gamma three"), (13L, "delta four"))
      try {
        mem.addData((1L, "alpha one"), (2L, "beta two"))
        q.processAllAvailable()
        // batch 1: 10 dups batch 0's "alpha one"; 11/12 duplicate each
        // other within the batch (lowest id kept); 13 is new
        mem.addData(b2: _*)
        q.processAllAvailable()
        val corpus = spark.read.parquet(corpusPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        corpus shouldBe Set(1L, 2L, 11L, 13L)
        // replay batch 1 directly: partition overwrite + bloom bit-OR are
        // both idempotent — the store must not change
        bi.ingestBatch(b2.toDF("doc_id", "text"), corpusPath, batchId = 1L)
        spark.read.parquet(corpusPath)
          .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 11L, 13L)
      } finally q.stop()
      // restart: a FRESH driver restores the committed bloom and still
      // catches a duplicate of the pre-restart corpus (without restore it
      // would re-admit "alpha one" as a bloom miss)
      val bi2 = new BloomIngest(expectedItems = 1000L, numBits = 8000L)
      bi2.restore(ck, spark.sparkContext.hadoopConfiguration)
      bi2.ingestBatch(Seq((20L, "alpha one"), (21L, "zeta six")).toDF("doc_id", "text"),
        corpusPath, batchId = 2L)
      spark.read.parquet(corpusPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 2L, 11L, 13L, 21L)
    }
  }

  test("streaming CMS: batch-wise build + merge equals the one-shot batch sketch") {
    implicit val ctx = spark.sqlContext
    val b1 = Seq((1L, "a a a b c"), (2L, "a b d"))
    val b2 = Seq((3L, "c c e a"), (4L, "b b b f"))
    SparkEntry.withTempRoot(spark, "cms_stream") { dir =>
      val mem = MemoryStream[(Long, String)]
      val sk = new StreamingSketch(eps = 0.01, confidence = 0.99, seed = 42)
      val q = sk.start(mem.toDF.toDF("doc_id", "text"), s"$dir/ck")
      try {
        mem.addData(b1: _*); q.processAllAvailable()
        mem.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      // the one-shot batch sketch over everything, same eps/conf/seed
      val batch = (b1 ++ b2).toDF("doc_id", "text")
        .selectExpr("explode(split(text, ' ')) AS w")
        .stat.countMinSketch("w", 0.01, 0.99, 42)
      val merged = sk.snapshot
      merged.totalCount shouldBe batch.totalCount
      for (w <- Seq("a", "b", "c", "d", "e", "f", "zz"))
        withClue(s"$w: ") {
          merged.estimateCount(w) shouldBe batch.estimateCount(w)
        }
      // and the estimates bound the true counts from above (a=5,b=5)
      merged.estimateCount("a") should be >= 5L
      merged.estimateCount("b") should be >= 5L
    }
  }

  test("streaming CMS survives a restart: committed batches are never lost") {
    // a restarted query resumes PAST committed batches without replay;
    // the snapshot/restore path must carry their counts or the sketch
    // silently undercounts (inverting the one-sided CMS guarantee)
    SparkEntry.withTempRoot(spark, "cms_restart") { dir =>
      val b1 = Seq((1L, "a a a b c"), (2L, "a b d"))
      val b2 = Seq((3L, "c c e a"), (4L, "b b b f"))
      val schema = b1.toDF("doc_id", "text").schema
      b1.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in")
      val sk1 = new StreamingSketch(eps = 0.01, confidence = 0.99, seed = 42)
      val q1 = sk1.start(
        spark.readStream.schema(schema).parquet(s"$dir/in"), s"$dir/ck")
      try { q1.processAllAvailable() } finally q1.stop()
      // process crashes; a FRESH instance resumes from the same checkpoint
      b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(s"$dir/in")
      val sk2 = new StreamingSketch(eps = 0.01, confidence = 0.99, seed = 42)
      val q2 = sk2.start(
        spark.readStream.schema(schema).parquet(s"$dir/in"), s"$dir/ck")
      try { q2.processAllAvailable() } finally q2.stop()
      val batch = (b1 ++ b2).toDF("doc_id", "text")
        .selectExpr("explode(split(text, ' ')) AS w")
        .stat.countMinSketch("w", 0.01, 0.99, 42)
      sk2.snapshot.totalCount shouldBe batch.totalCount
      for (w <- Seq("a", "b", "c", "d", "e", "f"))
        withClue(s"$w: ") {
          sk2.snapshot.estimateCount(w) shouldBe batch.estimateCount(w)
        }
    }
  }

  test("stream-static join: a stream enriches against a static dimension") {
    // the standard enrichment shape: unbounded fact stream, bounded
    // dimension table — Spark broadcasts/probes the static side per
    // micro-batch with no state store at all
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Double)]
    val joined = mem.toDF.toDF("user_id", "value").join(dim, Seq("user_id"))
    val q = joined.writeStream.format("memory").queryName("enrich")
      .outputMode("append").start()
    try {
      mem.addData((1L, 10.0), (2L, 20.0), (3L, 30.0)) // 3 has no dim row
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM enrich").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      rows shouldBe Set((1L, 10.0, "gold"), (2L, 20.0, "basic"))
    } finally q.stop()
  }

  test("resampleHourly: dense spine with explicit zero rows on gap hours") {
    val us = 3600L * 1000 * 1000
    val ev = Seq(
      ("click", 0L * us + 5, 1.0), ("click", 2L * us + 5, 2.0),
      ("view", 1L * us, 4.0)).toDF("event_type", "tus", "value")
    val out = graft.analytics.Analytics.resampleHourly(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    out.toSeq shouldBe Seq(
      ("click", 0L, 1L, 1.0), ("click", 1L, 0L, 0.0), ("click", 2L, 1L, 2.0),
      ("view", 0L, 0L, 0.0), ("view", 1L, 1L, 4.0), ("view", 2L, 0L, 0.0))
  }

  test("quality/language gate runs unchanged on a stream (stateless filter)") {
    // the pipelineFilter GATE (lang + quality expressions) is pure
    // per-row compute, so the same Column expressions drive a streaming
    // ingest filter with no watermark/state; only the dedup aggregate
    // stays batch-side (Spark's dropDuplicatesWithinWatermark is its
    // streaming form)
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import graft.llm.TextAnalysis
    val en = ("the cat and the dog is in that house it is a fine day " * 4).trim
    val rows = Seq((1L, en), (2L, "der hund und das brot ist nicht da"), (3L, "x"))
    def gate(df: org.apache.spark.sql.DataFrame) =
      df.filter(TextAnalysis.langPred(col("text")) === "en" &&
        TextAnalysis.qualityScore(TextAnalysis.tokens(col("text"))) >= 0.5)
    val mem = MemoryStream[(Long, String)]
    val q = gate(mem.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qgate").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id FROM qgate").collect().map(_.getLong(0)).toSet
      val batch = gate(rows.toDF("doc_id", "text"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      streamed shouldBe batch
      streamed shouldBe Set(1L)
    } finally q.stop()
  }

  test("sessionize: splits on >30min gaps, keeps multi-event sessions together") {
    // user 1: events at 0s, 60s (same session), then +40min (new session)
    // user 2: single event
    val us = 1000L * 1000
    val ev = Seq(
      (1L, 10L, 0L * us), (1L, 11L, 60L * us), (1L, 12L, (60L + 2400L) * us),
      (2L, 20L, 5L * us)
    ).toDF("user_id", "event_id", "tus")
    val out = EventStream.sessionize(ev)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    out.toSeq shouldBe Seq(
      (1L, 1L, 2L, 0L, 60L * us),                        // first session: 2 events
      (1L, 2L, 1L, 2460L * us, 2460L * us),              // after the 40min gap
      (2L, 1L, 1L, 5L * us, 5L * us))
  }

  test("clickAttribution: stream-stream interval join pairs clicks with in-horizon views") {
    implicit val ctx = spark.sqlContext
    val vm = MemoryStream[(Long, Timestamp, Long)]
    val cm = MemoryStream[(Long, Timestamp, Long)]
    val q = EventStream.clickAttribution(
      vm.toDF.toDF("user_id", "ts", "event_id"),
      cm.toDF.toDF("user_id", "ts", "event_id"),
      horizonSec = 1800)
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      vm.addData((1L, ts("10:00:00"), 100L), (1L, ts("11:30:00"), 101L), (2L, ts("10:05:00"), 102L))
      cm.addData((1L, ts("10:20:00"), 200L), // within 30min of view 100
        (1L, ts("11:00:00"), 201L),          // >30min after view 100, before view 101
        (2L, ts("09:00:00"), 202L))          // click BEFORE the view: no match
      q.processAllAvailable()
      val pairs = spark.sql("SELECT view_id, click_id FROM attr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs shouldBe Set((100L, 200L))
    } finally q.stop()
  }

  test("clickAttribution over FILE streams equals the batch interval join") {
    // synthetic corpus: 20 users x 30 interleaved events; the file-stream
    // run must produce EXACTLY the batch join's pair set (clickAttribution
    // on batch frames is the same plan with the watermark a no-op)
    val base = ts("08:00:00").getTime
    val events = for (u <- 0L until 20L; i <- 0L until 30L)
      yield (u, new Timestamp(base + (i * 7 + u) * 60000L), u * 1000 + i,
        if ((i + u) % 3 == 0) "click" else "view")
    val df = events.toDF("user_id", "ts", "event_id", "event_type")
    val views = df.filter($"event_type" === "view").drop("event_type")
    val clicks = df.filter($"event_type" === "click").drop("event_type")
    SparkEntry.withTempRoot(spark, "attrstream") { dir =>
      views.write.mode("overwrite").parquet(s"$dir/v")
      clicks.write.mode("overwrite").parquet(s"$dir/c")
      val vs = spark.readStream.schema(views.schema).parquet(s"$dir/v")
      val cs = spark.readStream.schema(clicks.schema).parquet(s"$dir/c")
      val q = EventStream.clickAttribution(vs, cs, horizonSec = 1800)
        .writeStream.format("memory").queryName("fattr").outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = spark.sql("SELECT view_id, click_id FROM fattr").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val batch = EventStream.clickAttribution(views, clicks, horizonSec = 1800)
          .select($"view_id", $"click_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        streamed should not be empty
        streamed shouldBe batch
      } finally q.stop()
    }
  }

  test("sessionWindowStats: exact-gap event MERGES (end-inclusive), one tick past splits") {
    val gapUs = 1800L * 1000 * 1000
    val m = 60L * 1000 * 1000
    val ev = Seq(
      (1L, 0L), (1L, m),          // one session: 60s apart
      (1L, m + gapUs),            // EXACTLY gap after: merges (end-inclusive)
      (1L, m + 2 * gapUs + 1L),   // one microsecond PAST the gap: new session
      (2L, 5L)
    ).toDF("user_id", "tus")
    val out = EventStream.sessionWindowStats(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    out.toSeq shouldBe Seq(
      (1L, 0L, m + gapUs, 3L),
      (1L, m + 2 * gapUs + 1L, m + 2 * gapUs + 1L, 1L),
      (2L, 5L, 5L, 1L))
  }

  test("sessionWindowStats over a memory STREAM equals the batch result") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val rows = Seq((1L, 1000L), (1L, 2000L), (2L, 5000L), (1L, 7_000_000_000L))
    val q = EventStream.sessionWindowStats(
      mem.toDF.toDF("user_id", "tus"), watermark = Some("10 minutes"))
      .writeStream.format("memory").queryName("swin").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM swin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = EventStream.sessionWindowStats(rows.toDF("user_id", "tus"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      streamed shouldBe batch
      streamed should not be empty
    } finally q.stop()
  }

  test("debounceEvents: chain suppression keeps one event per burst, keys independent, ties drop the higher id") {
    val ev = Seq(
      (1L, 1L, "a", 0L), (2L, 1L, "a", 5L),   // 5-0 <= 10: joins chain
      (3L, 1L, "a", 11L),                      // 11-5 <= 10: still the SAME
      // chain even though 11-0 > 10 — chain semantics, not last-kept
      (4L, 1L, "a", 30L),                      // 30-11 > 10: new chain
      (5L, 1L, "b", 3L),                       // different type: own key
      (6L, 2L, "a", 4L), (7L, 2L, "a", 4L))    // same instant: id ties,
      // the lower event_id opens the chain and the higher one drops
      .toDF("event_id", "user_id", "event_type", "tus")
    val kept = graft.analytics.Analytics.debounceEvents(ev, gapUs = 10L)
      .orderBy("event_id").collect().map(_.getLong(0))
    kept shouldBe Array(1L, 4L, 5L, 6L)
    // output carries the input columns untouched, helpers dropped
    graft.analytics.Analytics.debounceEvents(ev, 10L).columns shouldBe
      Array("event_id", "user_id", "event_type", "tus")
  }

  test("debounceUpdates: single-trigger stream equals the batch debounce bitwise; chains survive trigger boundaries") {
    implicit val ctx = spark.sqlContext
    // real corpus, one trigger: the streamed kept set must equal the
    // batch operator row-for-row
    val ev = graft.SparkEntry.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"), col("tus"))
    val gap = 86400L * 1000000L
    val batch = graft.analytics.Analytics.debounceEvents(ev, gap)
      .orderBy("event_id").collect().map(_.getLong(0))
    val rows = ev.collect().map(r => DebounceStream.Ev(
      r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val mem = MemoryStream[DebounceStream.Ev]
    val q = DebounceStream.debounceUpdates(mem.toDS(), gap)
      .writeStream.format("memory").queryName("deb").outputMode("append").start()
    try {
      mem.addData(rows.toIndexedSeq: _*)
      q.processAllAvailable()
      spark.table("deb").orderBy("event_id").collect()
        .map(_.getLong(0)) shouldBe batch
    } finally q.stop()

    // chain state survives the trigger boundary: an in-gap arrival in a
    // LATER trigger is still suppressed, a past-gap one opens a chain
    val mem2 = MemoryStream[DebounceStream.Ev]
    val q2 = DebounceStream.debounceUpdates(mem2.toDS(), 10L)
      .writeStream.format("memory").queryName("deb2").outputMode("append").start()
    try {
      mem2.addData(DebounceStream.Ev(1L, 1L, "a", 0L))
      q2.processAllAvailable()
      mem2.addData(DebounceStream.Ev(2L, 1L, "a", 5L),  // in-gap: dropped
        DebounceStream.Ev(3L, 1L, "a", 30L))            // past gap: kept
      q2.processAllAvailable()
      spark.table("deb2").orderBy("event_id").collect()
        .map(_.getLong(0)) shouldBe Array(1L, 3L)
    } finally q2.stop()
  }

  test("transitionMatrix: per-user consecutive pairs, per-prev probabilities, firsts drop") {
    val ev = Seq(
      (1L, 1L, "A", 10L), (1L, 2L, "B", 20L), (1L, 3L, "A", 30L), // A->B, B->A
      (2L, 4L, "A", 5L), (2L, 5L, "B", 6L),                       // A->B
      (3L, 6L, "A", 1L), (3L, 7L, "C", 2L),                       // A->C
      (4L, 8L, "Z", 9L)                                           // single event: no pair
    ).toDF("user_id", "event_id", "event_type", "tus")
    val out = graft.analytics.Analytics.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    out.keySet shouldBe Set(("A", "B"), ("A", "C"), ("B", "A"))
    out(("A", "B")) shouldBe ((2L, 2.0 / 3.0))
    out(("A", "C")) shouldBe ((1L, 1.0 / 3.0))
    out(("B", "A")) shouldBe ((1L, 1.0))
  }

  test("funnel: ordered stages — out-of-order or missing stages stop the user") {
    val ev = Seq(
      // u1 completes the funnel in order
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // u2 clicks BEFORE viewing: stops at stage 0
      (2L, "click", 5L), (2L, "view", 10L),
      // u3 views and clicks, never purchases: stops at stage 1
      (3L, "view", 1L), (3L, "click", 2L), (3L, "error", 3L),
      // u4 never views: counted nowhere
      (4L, "purchase", 9L)
    ).toDF("user_id", "event_type", "tus")
    val out = graft.analytics.Analytics.funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1)
    out.toSeq shouldBe Seq((0L, "view", 3L), (1L, "click", 2L), (2L, "purchase", 1L))
  }

  test("retention: cohort = first-seen hour, offsets count comeback hours once") {
    val h = 3600L * 1000 * 1000
    val ev = Seq(
      // u1 first in hour 0, back in hours 1 and 2 (twice in hour 1)
      (1L, 0L), (1L, h + 5L), (1L, h + 6L), (1L, 2 * h),
      // u2 first in hour 1 only
      (2L, h + 1L)
    ).toDF("user_id", "tus")
    val out = graft.analytics.Analytics.retention(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    out.toSeq shouldBe Seq((0L, 0L, 1L), (0L, 1L, 1L), (0L, 2L, 1L), (1L, 0L, 1L))
  }

  test("checkpoint recovery: a restarted windowed aggregation neither loses nor duplicates") {
    // exactly-once across restart: run the file-stream agg with a real
    // checkpointLocation, stop it, add MORE input files, restart from
    // the same checkpoint — the final state must equal a one-shot batch
    // aggregation over all files (no double counting of batch 1)
    SparkEntry.withTempRoot(spark, "ckpt") { root =>
      val inDir = s"$root/in"
      val ckpt = s"$root/ckpt"
      val first = Seq((ts("10:05:00"), "click", 1.0), (ts("10:40:00"), "click", 2.0))
        .toDF("ts", "event_type", "value")
      first.write.mode("append").parquet(inDir)
      val schema = first.schema
      def start() = spark.readStream.schema(schema).parquet(inDir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
        .select(col("window.start"), col("event_type"), col("n"), col("total_value"))
        .writeStream.format("memory").queryName("ckwin").outputMode("complete")
        .option("checkpointLocation", ckpt).start()
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // more data arrives while the query is DOWN
      Seq((ts("10:50:00"), "click", 4.0), (ts("11:10:00"), "view", 8.0))
        .toDF("ts", "event_type", "value").write.mode("append").parquet(inDir)
      val q2 = start()
      try {
        q2.processAllAvailable()
        val got = spark.sql("SELECT * FROM ckwin").collect()
          .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
          .toMap
        got(("2024-01-01 10:00:00.0", "click")) shouldBe ((3L, 7.0)) // 1+2+4 once each
        got(("2024-01-01 11:00:00.0", "view")) shouldBe ((1L, 8.0))
      } finally q2.stop()
    }
  }

  test("sourceDriftUpdates: streamed TV and KS match the direct computation; a flooded source's drift climbs") {
    implicit val ctx = spark.sqlContext
    // reference: a balanced 2-bin corpus (10 short, 10 long)
    val ref = Seq(10L, 10L)
    val mem = MemoryStream[DriftMonitor.BinnedDoc]
    val q = DriftMonitor.sourceDriftUpdates(mem.toDS(), ref)
      .writeStream.format("memory").queryName("drift").outputMode("update").start()
    def lastTv(): Map[String, (Long, Long, Double, Long, Double)] =
      spark.sql("SELECT * FROM drift").collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    try {
      // trigger 1: source A balanced (matches the reference), B all-short
      mem.addData(
        DriftMonitor.BinnedDoc(0L, "A", 0), DriftMonitor.BinnedDoc(1L, "A", 1),
        DriftMonitor.BinnedDoc(2L, "B", 0), DriftMonitor.BinnedDoc(3L, "B", 0))
      q.processAllAvailable()
      val t1 = lastTv()
      t1("A") shouldBe ((2L, 0L, 0.0, 0L, 0.0)) // |1*20-10*2| = 0 in both bins
      // B: TV |2*20-10*2| + |0*20-10*2| = 40 -> 40/(2*2*20) = 0.5;
      // KS gaps |2*20-10*2| = 20, |2*20-20*2| = 0 -> 20/(2*20) = 0.5
      t1("B") shouldBe ((2L, 40L, 0.5, 20L, 0.5))
      // trigger 2: B floods with more short docs — cumulative TV/KS stay
      // pinned at the all-short maximum; A rebalances to zero again
      mem.addData(
        DriftMonitor.BinnedDoc(4L, "B", 0), DriftMonitor.BinnedDoc(5L, "B", 0),
        DriftMonitor.BinnedDoc(6L, "A", 0), DriftMonitor.BinnedDoc(7L, "A", 1))
      q.processAllAvailable()
      val t2 = lastTv()
      t2("A") shouldBe ((4L, 0L, 0.0, 0L, 0.0))
      // B: 4 short: TV |4*20-10*4| + |0-10*4| = 80 -> 80/(2*4*20) = 0.5;
      // KS gaps |4*20-10*4| = 40, |80-80| = 0 -> 40/(4*20) = 0.5
      t2("B") shouldBe ((4L, 80L, 0.5, 40L, 0.5))
      // direct recomputation of BOTH statistics from the same cumulative
      // histograms agrees exactly (the streamed-KS ≡ direct pin)
      val counts = Map("A" -> Seq(2L, 2L), "B" -> Seq(4L, 0L))
      for ((s, c) <- counts) {
        val n = c.sum
        val l1 = c.indices.map(b => math.abs(c(b) * 20L - ref(b) * n)).sum
        val ksNum = c.indices.map { b =>
          math.abs(c.take(b + 1).sum * 20L - ref.take(b + 1).sum * n)
        }.max
        t2(s) shouldBe ((n, l1, l1.toDouble / (2.0 * n * 20L),
          ksNum, ksNum.toDouble / (n.toDouble * 20L)))
      }
    } finally q.stop()
  }

  test("vector index ingest: streamed IVF-PQ index probes bitwise-equal to ivfPqSearch; replay rewrites identically") {
    implicit val ctx = spark.sqlContext
    import graft.llm.Similarity
    SparkEntry.withTempRoot(spark, "vecidx") { dir =>
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val queryIds = Seq(0L, 1L, 2L)
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      val queries = Similarity.collectVectors(emb, queryIds)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rn").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      val expected = key(
        Similarity.ivfPqSearch(emb, coarseIds, cbIds, 4, queryIds, nprobe = 2, k = 10))

      // three arrival batches (vec_id mod 3) against the FROZEN quantizer
      val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val mem = MemoryStream[(Long, Seq[Double])]
      val q = VectorIndexIngest.start(
        mem.toDF.toDF("vec_id", "embedding"), s"$dir/idx", quant, s"$dir/ck")
      try {
        for (b <- 0 until 3) {
          mem.addData(rows.filter(_._1 % 3 == b).toIndexedSeq: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      // the appended index IS the batch encode of the whole corpus
      val idx = VectorIndexIngest.index(spark, s"$dir/idx")
      val batchEncode = Similarity.ivfPqIndexRows(emb, quant).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).sortBy(_._1)
      idx.collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .sortBy(_._1) shouldBe batchEncode
      // probing the stored rows is bitwise the one-shot search
      key(Similarity.ivfPqProbe(idx, quant, queries, nprobe = 2, k = 10)) shouldBe expected
      // replay of batch 1: encode is deterministic, dynamic overwrite
      // rewrites exactly its own (cell, batch) partitions — nothing changes
      VectorIndexIngest.ingestBatch(
        rows.filter(_._1 % 3 == 1).toSeq.toDF("vec_id", "embedding"),
        s"$dir/idx", quant, batchId = 1L)
      val replayed = VectorIndexIngest.index(spark, s"$dir/idx")
      replayed.count() shouldBe rows.length.toLong
      key(Similarity.ivfPqProbe(replayed, quant, queries, nprobe = 2, k = 10)) shouldBe expected
    }
  }

  test("chunk-level streamed index: ragChunks batches through LexIngest probe bitwise the one-shot chunk retrieval") {
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "chunkidx") { dir =>
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val terms = Seq("spark", "window", "customer", "filter")
      // the retrieval units: chunk rows with the synthetic composite key
      def chunksOf(docs: org.apache.spark.sql.DataFrame) =
        TextAnalysis.ragChunks(docs, 30, 10)
          .select((col("doc_id") * 100000L + col("chunk_id")).as("doc_id"),
            col("chunk").as("text"))
      // chunks arrive with their documents, three ingest batches
      for (b <- 0 until 3)
        LexIngest.ingestBatch(chunksOf(d.filter(col("doc_id") % 3 === b)),
          dir, b.toLong)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      key(LexIngest.probe(spark, dir, terms, 10)) shouldBe
        key(TextAnalysis.bm25TopDocs(chunksOf(d), terms, 10))
    }
  }

  test("lex ingest: streamed BM25 index probes bitwise-equal to the one-shot scorer and the batch store; replay rewrites identically") {
    implicit val ctx = spark.sqlContext
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "lexingest") { dir =>
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val terms = Seq("spark", "window", "customer", "filter")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      val expected = key(TextAnalysis.bm25TopDocs(d, terms, 10))

      val rows = d.collect().map(r => (r.getLong(0), r.getString(1)))
      val mem = MemoryStream[(Long, String)]
      val q = LexIngest.start(mem.toDF.toDF("doc_id", "text"),
        s"$dir/idx", s"$dir/ck")
      try {
        for (b <- 0 until 3) {
          mem.addData(rows.filter(_._1 % 3 == b).toIndexedSeq: _*)
          q.processAllAvailable()
        }
      } finally q.stop()
      key(LexIngest.probe(spark, s"$dir/idx", terms, 10)) shouldBe expected
      // and bitwise the batch-written store's probe
      TextAnalysis.writeLexIndex(d, s"$dir/batchidx")
      key(TextAnalysis.bm25Probe(spark, s"$dir/batchidx", terms, 10)) shouldBe expected
      // replay of batch 1: the projection is batch-local and deterministic,
      // dynamic overwrite rewrites exactly its own partitions
      LexIngest.ingestBatch(
        rows.filter(_._1 % 3 == 1).toSeq.toDF("doc_id", "text"),
        s"$dir/idx", batchId = 1L)
      key(LexIngest.probe(spark, s"$dir/idx", terms, 10)) shouldBe expected
      // stats stayed additive: the per-doc rows aggregate to the corpus totals
      val st = spark.read.parquet(s"$dir/idx/stats")
        .agg(count(lit(1)), sum(col("dl"))).head()
      val bt = TextAnalysis.lexStats(d).head()
      (st.getLong(0), st.getLong(1)) shouldBe ((bt.getLong(0), bt.getLong(1)))
    }
  }

  test("streamed hybrid retrieval: both stores fed by live foreachBatch queries fuse bitwise to the one-shot hybrid; forget composes through both") {
    // q_hybrid_indexed builds its stores with direct ingestBatch calls;
    // this pins the SAME composition when both stores are written by
    // real streaming queries (engine-assigned batch ids, checkpoints) —
    // the production ingestion path end-to-end through the fused ranking
    implicit val ctx = spark.sqlContext
    import graft.llm.{Similarity, TextAnalysis}
    SparkEntry.withTempRoot(spark, "hybstream") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val terms = Seq("spark", "window", "customer", "filter")
      val qid = 0L
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      val docRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      val vecRows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val dmem = MemoryStream[(Long, String)]
      val vmem = MemoryStream[(Long, Seq[Double])]
      val dq = LexIngest.start(dmem.toDF.toDF("doc_id", "text"),
        s"$dir/lex", s"$dir/dck")
      val vq = VectorIndexIngest.start(vmem.toDF.toDF("vec_id", "embedding"),
        s"$dir/vec", quant, s"$dir/vck")
      try {
        for (b <- 0 until 3) {
          dmem.addData(docRows.filter(_._1 % 3 == b).toIndexedSeq: _*)
          vmem.addData(vecRows.filter(_._1 % 3 == b).toIndexedSeq: _*)
          dq.processAllAvailable(); vq.processAllAvailable()
        }
      } finally { dq.stop(); vq.stop() }
      def fused() = Similarity.rrfFuse(
        LexIngest.probe(spark, s"$dir/lex", terms, 10)
          .select(lit(qid).as("query_id"), col("doc_id").as("neighbor_id"), col("rn")),
        Similarity.ivfPqProbe(VectorIndexIngest.index(spark, s"$dir/vec"),
            quant, Similarity.collectVectors(emb, Seq(qid)), nprobe = 3, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rn")),
        60, 5)
      def oneShot(d: org.apache.spark.sql.DataFrame,
                  e: org.apache.spark.sql.DataFrame) = Similarity.rrfFuse(
        TextAnalysis.bm25TopDocs(d, terms, 10)
          .select(lit(qid).as("query_id"), col("doc_id").as("neighbor_id"), col("rn")),
        Similarity.ivfPqSearch(e, coarseIds, cbIds, 4, Seq(qid), nprobe = 3, k = 10)
          .select(col("query_id"), col("neighbor_id"), col("rn")),
        60, 5)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      key(fused()) shouldBe key(oneShot(docs, emb))
      val forget = Seq(87L, 102L)
      LexIngest.markDeleted(spark, s"$dir/lex", forget)
      StoreCompaction.markDeleted(spark, s"$dir/vec", forget)
      key(fused()) shouldBe key(oneShot(
        docs.filter(!col("doc_id").isin(forget: _*)),
        emb.filter(!col("vec_id").isin(forget: _*))))
    }
  }

  test("prfProbe: the store-served PRF loop is bitwise the one-shot bm25Prf; forget composes through every stage") {
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "prfprobe") { dir =>
      val d = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val seed = Seq("spark", "window", "customer", "filter")
      for (b <- 0 until 3)
        LexIngest.ingestBatch(d.filter(col("doc_id") % 3 === b), s"$dir/lex", b.toLong)
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      key(LexIngest.prfProbe(spark, s"$dir/lex", seed, 5, 3, 10)) shouldBe
        key(TextAnalysis.bm25Prf(d, seed, 5, 3, 10))
      // forget: deleted docs leave the feedback ranking, the vote, the df
      // counts AND the constants — the loop equals the one-shot PRF over
      // the surviving corpus
      val forget = Seq(87L, 102L)
      LexIngest.markDeleted(spark, s"$dir/lex", forget)
      key(LexIngest.prfProbe(spark, s"$dir/lex", seed, 5, 3, 10)) shouldBe
        key(TextAnalysis.bm25Prf(
          d.filter(!col("doc_id").isin(forget: _*)), seed, 5, 3, 10))
    }
  }

  test("vec store + stored quantizer: the store-complete tail (MMR + refine) is bitwise the one-shot; forget composes — an erased id cannot be fetched even as a rerank candidate") {
    import graft.llm.Similarity
    SparkEntry.withTempRoot(spark, "vecstore") { dir =>
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      for (b <- 0 until 3) {
        val part = emb.filter(col("vec_id") % 3 === b)
        VectorIndexIngest.ingestBatch(part, s"$dir/idx", quant, b.toLong)
        VecStoreIngest.ingestBatch(part, s"$dir/vecs", b.toLong)
      }
      // the view round-trips the corpus bit-exactly (drop-in emb frame)
      def vbits(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("embedding").cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)
            .map(java.lang.Double.doubleToRawLongBits).toSeq)).sortBy(_._1)
      val vecs = VecStoreIngest.view(spark, s"$dir/vecs")
      vbits(vecs).toSeq shouldBe vbits(emb).toSeq
      val storedQ = VectorIndexIngest.quantizer(spark, s"$dir/idx")
      def mmrKey(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("sel_rank").collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      def refKey(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("query_id", "rn").collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
      // store-only MMR ≡ one-shot over the same quantizer and corpus
      val storeMmr = mmrKey(Similarity.mmrRerankStored(
        VectorIndexIngest.index(spark, s"$dir/idx"), storedQ, vecs,
        0L, nprobe = 2, poolR = 12, k = 5, lambda = 0.7))
      storeMmr shouldBe mmrKey(Similarity.mmrRerankStored(
        Similarity.ivfPqIndexRows(emb, quant), quant, emb,
        0L, nprobe = 2, poolR = 12, k = 5, lambda = 0.7))
      // store-only refined search ≡ one-shot ivfPqSearchRefined
      val queryIds = Seq(0L, 1L, 2L)
      def storeRefined() = {
        val cands = Similarity.ivfPqProbe(
            VectorIndexIngest.index(spark, s"$dir/idx"), storedQ,
            Similarity.collectVectors(vecs, queryIds), nprobe = 2, k = 20)
          .select(col("query_id"), col("neighbor_id"))
        Similarity.refineExact(vecs, cands, queryIds, k = 5)
      }
      refKey(storeRefined()) shouldBe refKey(Similarity.ivfPqSearchRefined(
        emb, coarseIds, cbIds, 4, queryIds, nprobe = 2, rerankR = 20, k = 5))
      // forget an id the un-forgotten MMR actually selected: it leaves the
      // candidate set (index liveView) AND becomes unfetchable (vec store
      // liveView) — the tail equals the one-shot over the surviving corpus
      val gone = storeMmr.map(_._2).filter(_ != 0L).head
      StoreCompaction.markDeleted(spark, s"$dir/idx", Seq(gone))
      VecStoreIngest.markDeleted(spark, s"$dir/vecs", Seq(gone))
      VecStoreIngest.view(spark, s"$dir/vecs")
        .filter(col("vec_id") === gone).count() shouldBe 0L
      val survivors = emb.filter(col("vec_id") =!= gone)
      mmrKey(Similarity.mmrRerankStored(
        VectorIndexIngest.index(spark, s"$dir/idx"), storedQ,
        VecStoreIngest.view(spark, s"$dir/vecs"),
        0L, nprobe = 2, poolR = 12, k = 5, lambda = 0.7)) shouldBe
        mmrKey(Similarity.mmrRerankStored(
          Similarity.ivfPqIndexRows(survivors, quant), quant, survivors,
          0L, nprobe = 2, poolR = 12, k = 5, lambda = 0.7))
      // compaction applies the delete physically; probes stay bitwise
      KeyedStoreCore.compact(spark, s"$dir/vecs", "vec_id")
      StoreCompaction.vacuum(spark, s"$dir/vecs")
      spark.read.parquet(s"$dir/vecs").filter(col("vec_id") === gone)
        .count() shouldBe 0L
      vbits(VecStoreIngest.view(spark, s"$dir/vecs")).toSeq shouldBe
        vbits(survivors).toSeq
    }
  }

  test("chunk-level persisted index: cascade forget removes EVERY chunk of a parent; the probe equals the one-shot chunk retrieval over surviving chunks") {
    import graft.llm.TextAnalysis
    SparkEntry.withTempRoot(spark, "chunkidx") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val chunks = TextAnalysis.ragChunks(docs, 30, 10)
        .select(col("doc_id").as("parent_id"),
          (col("doc_id") * 100000L + col("chunk_id")).as("doc_id"),
          col("chunk").as("text"))
      for (b <- 0 until 3)
        LexIngest.ingestBatch(
          chunks.filter(col("parent_id") % 3 === b).select(col("doc_id"), col("text")),
          s"$dir/lex", b.toLong)
      val terms = Seq("spark", "window", "customer", "filter")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      key(LexIngest.probe(spark, s"$dir/lex", terms, 10)) shouldBe
        key(TextAnalysis.bm25TopDocs(chunks.select(col("doc_id"), col("text")),
          terms, 10))
      // cascade: both parents have multiple chunks; the ghost id marks none
      val parents = Seq(87L, 102L, 999999L)
      val parentChunks = chunks
        .filter(col("parent_id").isin(parents: _*)).count()
      parentChunks should be >= 4L
      LexIngest.markDeletedCascade(spark, s"$dir/lex", parents, keyDiv = 100000L)
      StoreCompaction.liveView(spark, s"$dir/lex/stats", "doc_id")
        .filter(org.apache.spark.sql.functions.expr("doc_id div 100000")
          .isin(parents: _*)).count() shouldBe 0L
      // post-forget probe ≡ one-shot over the SURVIVING chunk corpus (the
      // constants re-derive over surviving chunks)
      val surviving = chunks.filter(!col("parent_id").isin(parents: _*))
        .select(col("doc_id"), col("text"))
      key(LexIngest.probe(spark, s"$dir/lex", terms, 10)) shouldBe
        key(TextAnalysis.bm25TopDocs(surviving, terms, 10))
      // idempotent: cascading again marks nothing new and changes nothing
      LexIngest.markDeletedCascade(spark, s"$dir/lex", parents, keyDiv = 100000L)
      key(LexIngest.probe(spark, s"$dir/lex", terms, 10)) shouldBe
        key(TextAnalysis.bm25TopDocs(surviving, terms, 10))
    }
  }

  test("vector index ingest refuses a quantizer that differs from the store's published model — mixed-model codes can never land silently") {
    import graft.llm.Similarity
    SparkEntry.withTempRoot(spark, "quantguard") { dir =>
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val quant = Similarity.trainIvfPqQuantizer(
        emb, Seq(7L, 123L, 247L, 331L, 433L), Seq(11L, 57L, 201L, 401L), 4)
      VectorIndexIngest.ingestBatch(
        emb.filter(col("vec_id") % 2 === 0), s"$dir/idx", quant, 0L)
      // the same (bitwise-equal) model ingests on: write-once is an
      // equality contract, not an identity one
      VectorIndexIngest.ingestBatch(
        emb.filter(col("vec_id") % 2 === 1), s"$dir/idx",
        Similarity.readIvfPqQuantizer(spark, s"$dir/idx/_quantizer"), 1L)
      VectorIndexIngest.index(spark, s"$dir/idx").count() shouldBe emb.count()
      // a DIFFERENT model (retrained pipeline against an old path) fails
      // loudly before any row lands — probes would otherwise decode its
      // codes with the published model and rank silently wrong
      val other = Similarity.trainIvfPqQuantizer(
        emb, Seq(3L, 17L, 29L, 101L, 211L), Seq(11L, 57L, 201L, 401L), 4)
      val ex = intercept[IllegalStateException] {
        VectorIndexIngest.ingestBatch(emb, s"$dir/idx", other, 2L)
      }
      ex.getMessage should include("quantizer mismatch")
      VectorIndexIngest.index(spark, s"$dir/idx").count() shouldBe emb.count()
    }
  }

  test("doc-text store: verbatim round-trip, forgotten text unreturnable from the fetch view, replay skip, physical apply at compact") {
    SparkEntry.withTempRoot(spark, "docstore") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      for (b <- 0 until 3)
        DocStoreIngest.ingestBatch(
          docs.filter(col("doc_id") % 3 === b), s"$dir/docs", b.toLong)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      // byte-verbatim round-trip of the whole corpus
      rows(DocStoreIngest.view(spark, s"$dir/docs")) shouldBe rows(docs)
      // replay of batch 1 rewrites its own partition byte-identically
      DocStoreIngest.ingestBatch(
        docs.filter(col("doc_id") % 3 === 1), s"$dir/docs", 1L)
      rows(DocStoreIngest.view(spark, s"$dir/docs")) shouldBe rows(docs)
      // forget: the TEXT stops being returnable from the fetch view
      // immediately (a stale candidate id point-joining the view gets
      // nothing), and compact removes the bytes physically
      val forget = Seq(87L, 102L, 999999L)
      DocStoreIngest.markDeleted(spark, s"$dir/docs", forget)
      DocStoreIngest.view(spark, s"$dir/docs")
        .filter(col("doc_id").isin(forget: _*)).count() shouldBe 0L
      val survivors = docs.filter(!col("doc_id").isin(forget: _*))
      rows(DocStoreIngest.view(spark, s"$dir/docs")) shouldBe rows(survivors)
      DocStoreIngest.compact(spark, s"$dir/docs")
      StoreCompaction.vacuum(spark, s"$dir/docs")
      spark.read.parquet(s"$dir/docs")
        .filter(col("doc_id").isin(forget: _*)).count() shouldBe 0L
      rows(DocStoreIngest.view(spark, s"$dir/docs")) shouldBe rows(survivors)
    }
  }

  test("streamed serving twin: a foreachBatch-maintained store pair answers prfProbe and mmrRerankStored bitwise the one-shot at EVERY trigger") {
    implicit val ctx = spark.sqlContext
    import graft.llm.{Similarity, TextAnalysis}
    SparkEntry.withTempRoot(spark, "ragserve") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
      val coarseIds = Seq(7L, 123L, 247L, 331L, 433L)
      val cbIds = Seq(11L, 57L, 201L, 401L)
      val quant = Similarity.trainIvfPqQuantizer(emb, coarseIds, cbIds, m = 4)
      val seed = Seq("spark", "window", "customer", "filter")
      val docRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      val vecRows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val dmem = MemoryStream[(Long, String)]
      val vmem = MemoryStream[(Long, Seq[Double])]
      val lexQ = LexIngest.start(
        dmem.toDF.toDF("doc_id", "text"), s"$dir/lex", s"$dir/ck1")
      val idxQ = VectorIndexIngest.start(
        vmem.toDF.toDF("vec_id", "embedding"), s"$dir/idx", quant, s"$dir/ck2")
      val vecQ = VecStoreIngest.start(
        vmem.toDF.toDF("vec_id", "embedding"), s"$dir/vecs", s"$dir/ck3")
      val docQ = KeyedStoreCore.start(
        dmem.toDF.toDF("doc_id", "text"), s"$dir/docs", s"$dir/ck4", "doc_id", "text")
      val sigQ = KeyedStoreCore.start(
        Similarity.signSignature(vmem.toDF.toDF("vec_id", "embedding")),
        s"$dir/sigs", s"$dir/ck5", "vec_id", "sig")
      def prfKey(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("rn").collect().map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), r.getLong(2)))
      def mmrKey(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("sel_rank").collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          java.lang.Double.doubleToRawLongBits(r.getDouble(3))))
      try {
        for (b <- 0 until 3) {
          dmem.addData(docRows.filter(_._1 % 3 == b).toIndexedSeq: _*)
          vmem.addData(vecRows.filter(_._1 % 3 == b).toIndexedSeq: _*)
          lexQ.processAllAvailable()
          idxQ.processAllAvailable()
          vecQ.processAllAvailable()
          docQ.processAllAvailable()
          sigQ.processAllAvailable()
          // the corpus SEEN so far (query id 0 arrives in trigger 0)
          val seenDocs = docs.filter(col("doc_id") % 3 <= b)
          val seenEmb = emb.filter(col("vec_id") % 3 <= b)
          prfKey(LexIngest.prfProbe(spark, s"$dir/lex", seed, 5, 3, 10)) shouldBe
            prfKey(TextAnalysis.bm25Prf(seenDocs, seed, 5, 3, 10))
          val servedSel = Similarity.mmrRerankStored(
            VectorIndexIngest.index(spark, s"$dir/idx"),
            VectorIndexIngest.quantizer(spark, s"$dir/idx"),
            VecStoreIngest.view(spark, s"$dir/vecs"),
            0L, nprobe = 2, poolR = 12, k = 5, lambda = 0.7)
          mmrKey(servedSel) shouldBe
            mmrKey(Similarity.mmrRerankStored(
              Similarity.ivfPqIndexRows(seenEmb, quant), quant, seenEmb,
              0L, nprobe = 2, poolR = 12, k = 5, lambda = 0.7))
          // …and the passage fetch: the doc store assembles the SAME
          // answer text the seen corpus would, at every trigger
          def answer(docsFrame: org.apache.spark.sql.DataFrame) = docsFrame
            .join(org.apache.spark.sql.functions.broadcast(servedSel),
              col("doc_id") === col("neighbor_id"))
            .select(col("sel_rank"), col("neighbor_id"), col("text"))
            .orderBy("sel_rank").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
          answer(DocStoreIngest.view(spark, s"$dir/docs")) shouldBe answer(seenDocs)
          // …and the binary proposer serves store-only: the STREAMED
          // signature store (2 BIGINT words per vector on disk — batches
          // signed at ingest) answers bitwise the one-shot over the seen
          // corpus at every trigger (all-integer rows)
          def hamKey(df: org.apache.spark.sql.DataFrame) = df.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          hamKey(Similarity.hammingProbe(
              SigStoreIngest.view(spark, s"$dir/sigs"), Seq(0L), 5)) shouldBe
            hamKey(Similarity.hammingTopK(seenEmb, Seq(0L), 5))
        }
      } finally { lexQ.stop(); idxQ.stop(); vecQ.stop(); docQ.stop(); sigQ.stop() }
    }
  }

  test("stepUpdates: the streamed K-Means step equals the batch step bitwise on every touched cell") {
    implicit val ctx = spark.sqlContext
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val cents = e.filter(col("vec_id").isin(11L, 57L, 201L, 401L))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2).toSeq
    val dim = cents.head.length
    val batch = graft.llm.VectorKMeans.step(e, "vec", cents)
    // the batch twin's assignment projection feeds the stream
    val assigned = e.select(
        graft.llm.VectorKMeans.cellOf(col("vec"), cents).as("cell"),
        col("vec"))
      .collect()
      .map(r => VectorKMeansStream.AssignedVec(r.getInt(0), r.getSeq[Double](1)))
    val touched = assigned.map(_.cell).toSet
    val mem = MemoryStream[VectorKMeansStream.AssignedVec]
    val q = VectorKMeansStream.stepUpdates(mem.toDS(), dim)
      .writeStream.format("memory").queryName("vkstep").outputMode("update").start()
    try {
      val (b1, b2) = assigned.splitAt(assigned.length / 2)
      mem.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("vkstep").collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Double](2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      streamed.keySet shouldBe touched
      for ((cell, (_, centroid)) <- streamed) withClue(s"cell $cell: ") {
        centroid.toArray shouldBe batch(cell) // bitwise: shared grid
      }
      // a cell the stream never saw is the batch keep-previous branch
      for (cell <- cents.indices.filterNot(touched))
        batch(cell) shouldBe cents(cell)
    } finally q.stop()
  }

  test("stepUpdates epoch roll: two streamed epochs reproduce two batch steps bitwise") {
    // the scaladoc's deployment contract: an epoch pins the centroids,
    // the driver collects the K emitted rows at epoch end and re-seeds
    // the next epoch — this must equal the batch loop's centroid handoff
    implicit val ctx = spark.sqlContext
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val seeds = e.filter(col("vec_id").isin(11L, 57L, 201L, 401L))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).map(_._2).toSeq
    val dim = seeds.head.length
    val batch1 = graft.llm.VectorKMeans.step(e, "vec", seeds)
    val batch2 = graft.llm.VectorKMeans.step(e, "vec", batch1)

    def streamEpoch(cents: Seq[Array[Double]], name: String): Seq[Array[Double]] = {
      val assigned = e.select(
          graft.llm.VectorKMeans.cellOf(col("vec"), cents).as("cell"), col("vec"))
        .collect()
        .map(r => VectorKMeansStream.AssignedVec(r.getInt(0), r.getSeq[Double](1)))
      val mem = MemoryStream[VectorKMeansStream.AssignedVec]
      val q = VectorKMeansStream.stepUpdates(mem.toDS(), dim)
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      try {
        mem.addData(assigned.toIndexedSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      val emitted = spark.table(name).collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Double](2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1)._2 }
      // the epoch roll: emitted cells take the streamed mean, silent
      // cells keep the epoch's centroid (the batch keep-previous branch)
      cents.indices.map(i => emitted.get(i).map(_.toArray).getOrElse(cents(i)))
    }

    val s1 = streamEpoch(seeds, "vk_epoch1")
    s1.zip(batch1).foreach { case (a, b) => a shouldBe b }
    val s2 = streamEpoch(s1, "vk_epoch2")
    s2.zip(batch2).foreach { case (a, b) => a shouldBe b }
  }

  test("labelDriftUpdates: streamed centroids equal the batch labelDrift bitwise with the batch global as reference") {
    implicit val ctx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the shared quantization projection — ONE definition with the batch
    val coded = graft.llm.Similarity.int8CodeRows(emb)
      .collect()
      .map(r => LabelDriftMonitor.CodedVec(
        r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    val dim = coded.head.codes.size
    // reference = the batch run's GLOBAL centroid sums (what labelDrift
    // compares each label against), derived from the same codes
    val reference = (0 until dim)
      .map(i => coded.map(_.codes(i)).sum).toSeq
    val batch = graft.llm.Similarity.labelDrift(emb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)))))
      .toMap
    val mem = MemoryStream[LabelDriftMonitor.CodedVec]
    val q = LabelDriftMonitor.labelDriftUpdates(mem.toDS(), reference)
      .writeStream.format("memory").queryName("ldrift").outputMode("update").start()
    try {
      // two triggers — the state must accumulate across them
      val (b1, b2) = coded.splitAt(coded.length / 2)
      mem.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM ldrift").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5)))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      streamed.keySet shouldBe batch.keySet
      // bitwise: integer sums are arrival-order-invariant and the cosine
      // is the batch twin's exact five-op sequence
      for ((label, row) <- streamed) withClue(s"label $label: ") {
        row shouldBe batch(label)
      }
    } finally q.stop()
  }

  test("labelDriftUpdates: an off-reference flood drops one label's cosine within its trigger") {
    implicit val ctx = spark.sqlContext
    // reference centroid points along (+1, 0)
    val reference = Seq(100L, 0L)
    val mem = MemoryStream[LabelDriftMonitor.CodedVec]
    val q = LabelDriftMonitor.labelDriftUpdates(mem.toDS(), reference)
      .writeStream.format("memory").queryName("ldrift2").outputMode("update").start()
    def last(): Map[Long, (Long, Option[Double])] =
      spark.sql("SELECT label, n_vecs, cos_drift FROM ldrift2").collect()
        .map(r => (r.getLong(0), (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
    try {
      mem.addData(
        LabelDriftMonitor.CodedVec(0L, 1L, Seq(50L, 0L)),
        LabelDriftMonitor.CodedVec(1L, 2L, Seq(40L, 0L)))
      q.processAllAvailable()
      last()(1L)._2.get shouldBe 1.0
      last()(2L)._2.get shouldBe 1.0
      // label 2 floods orthogonal to the reference: its cosine drops,
      // label 1 untouched; an all-zero state stays NULL, not NaN
      mem.addData(
        LabelDriftMonitor.CodedVec(2L, 2L, Seq(-40L, 80L)),
        LabelDriftMonitor.CodedVec(3L, 3L, Seq(0L, 0L)))
      q.processAllAvailable()
      val t2 = last()
      t2(1L) shouldBe ((1L, Some(1.0)))
      t2(2L)._1 shouldBe 2L
      t2(2L)._2.get shouldBe 0.0 // sums (0, 80) ⊥ (100, 0)
      t2(3L) shouldBe ((1L, None))
    } finally q.stop()
  }

  test("tokenBudgetUpdates: a single-batch stream reproduces the batch token-budget sampler") {
    implicit val ctx = spark.sqlContext
    val docsSeq = (0 until 12).map(i =>
      (i.toLong, s"s${i % 2}", Seq.fill(i % 5 + 1)("w").mkString(" ")))
    val docsDf = docsSeq.toDF("doc_id", "source", "text")
    val budgets = Map("s0" -> 8L)
    val default = 6L
    val batch = graft.llm.TextAnalysis.tokenBudgetSample(docsDf, budgets, default)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val mem = MemoryStream[(Long, String, String)]
    val in = mem.toDF.toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"),
        org.apache.spark.sql.functions.expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_toks"),
        graft.llm.TextAnalysis.fingerprint(col("text")).as("fp"))
      .as[BudgetIngest.BudgetDoc]
    val q = BudgetIngest.tokenBudgetUpdates(in, budgets, default)
      .writeStream.format("memory").queryName("budg1").outputMode("update").start()
    try {
      mem.addData(docsSeq: _*)
      q.processAllAvailable()
      val stream = spark.sql("SELECT * FROM budg1").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      stream shouldBe batch
    } finally q.stop()
  }

  test("tokenBudgetUpdates: decisions are immutable across triggers (first-come-first-kept)") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[BudgetIngest.BudgetDoc]
    val q = BudgetIngest.tokenBudgetUpdates(mem.toDS(), Map.empty, defaultBudget = 5L)
      .writeStream.format("memory").queryName("budg2").outputMode("update").start()
    try {
      // trigger 1: doc 10 (3 tokens, HIGH draw) admits under budget 5
      mem.addData(BudgetIngest.BudgetDoc(10L, "s", 3L, fp = 999L))
      q.processAllAvailable()
      // trigger 2: doc 1 (3 tokens, LOW draw) would OUTRANK doc 10 in a
      // batch recompute — the gate instead keeps doc 10's verdict and
      // rejects the newcomer (budget already 3/5)
      mem.addData(BudgetIngest.BudgetDoc(1L, "s", 3L, fp = 1L))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM budg2").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getBoolean(4)))
      got shouldBe Array((1L, 6L, false), (10L, 3L, true))
      // each doc decided exactly once — no revision rows in the sink
      spark.sql("SELECT count(*) FROM budg2").collect().head.getLong(0) shouldBe 2L
      // the batch twin on the union WOULD flip the keeps — the contrast
      val union = Seq((10L, "s", 3L, 999L), (1L, "s", 3L, 1L))
        .toDF("doc_id", "source", "n_toks", "fp")
      // (tokenBudgetSample takes raw text; emulate its window directly)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy(col("fp"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val rebatch = union.withColumn("cum", sum(col("n_toks")).over(w))
        .select(col("doc_id"), (col("cum") <= 5L).as("kept"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      rebatch(1L) shouldBe true
      rebatch(10L) shouldBe false
    } finally q.stop()
  }

  test("retentionCellUpdates: summed deltas equal the batch matrix, late event rebases") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[EventStream.HourEvent]
    val q = EventStream.retentionCellUpdates(mem.toDS())
      .writeStream.format("memory").queryName("retdelta").outputMode("update").start()
    try {
      mem.addData(EventStream.HourEvent(1L, 10L), EventStream.HourEvent(1L, 12L),
        EventStream.HourEvent(2L, 11L))
      q.processAllAvailable()
      // LATE hour 8 for user 1: rebases the cohort 10 -> 8 (retractions)
      mem.addData(EventStream.HourEvent(1L, 8L), EventStream.HourEvent(2L, 11L),
        EventStream.HourEvent(3L, 12L))
      q.processAllAvailable()
      val summed = spark.sql(
        "SELECT cohort_hour, offset_hours, sum(delta) AS n FROM retdelta " +
          "GROUP BY 1, 2 HAVING sum(delta) <> 0").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      summed shouldBe Map((8L, 0L) -> 1L, (8L, 2L) -> 1L, (8L, 4L) -> 1L,
        (11L, 0L) -> 1L, (12L, 0L) -> 1L)
      // equals the BATCH operator over the same events
      val hourUs = 3600L * 1000 * 1000
      val batch = graft.analytics.Analytics.retention(
        Seq((1L, 10L), (1L, 12L), (2L, 11L), (1L, 8L), (2L, 11L), (3L, 12L))
          .toDF("user_id", "hour")
          .selectExpr("user_id", s"hour * ${hourUs} AS tus"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      summed shouldBe batch
    } finally q.stop()
  }

  test("transitionCellUpdates: summed deltas equal the batch matrix at every trigger; a late middle event retracts the split pair") {
    implicit val ctx = spark.sqlContext
    import EventStream.SeqEvent
    val mem = MemoryStream[SeqEvent]
    val q = EventStream.transitionCellUpdates(mem.toDS())
      .writeStream.format("memory").queryName("trdelta").outputMode("update").start()
    def summed(): Map[(String, String), Long] = spark.sql(
      "SELECT prev_type, next_type, sum(delta) AS n FROM trdelta " +
        "GROUP BY 1, 2 HAVING sum(delta) <> 0").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def batchOf(evs: Seq[SeqEvent]): Map[(String, String), Long] =
      graft.analytics.Analytics.transitionMatrix(
          evs.map(e => (e.user_id, e.event_id, e.event_type, e.tus))
            .toDF("user_id", "event_id", "event_type", "tus"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    try {
      // trigger 1: user 1 view->click->buy, user 2 view->view; the group
      // iterator gets them DELIBERATELY out of time order
      val t1 = Seq(
        SeqEvent(1L, 3L, "buy", 30L), SeqEvent(1L, 1L, "view", 10L),
        SeqEvent(1L, 2L, "click", 20L),
        SeqEvent(2L, 5L, "view", 11L), SeqEvent(2L, 6L, "view", 21L))
      mem.addData(t1: _*)
      q.processAllAvailable()
      summed() shouldBe Map(("view", "click") -> 1L, ("click", "buy") -> 1L,
        ("view", "view") -> 1L)
      summed() shouldBe batchOf(t1)
      // trigger 2: a LATE event for user 1 lands BETWEEN click and buy —
      // the (click, buy) pair retracts, (click, cart) and (cart, buy)
      // assert; user 2 extends the tail normally
      val t2 = Seq(SeqEvent(1L, 9L, "cart", 25L), SeqEvent(2L, 7L, "click", 31L))
      mem.addData(t2: _*)
      q.processAllAvailable()
      summed() shouldBe batchOf(t1 ++ t2)
      summed() shouldBe Map(("view", "click") -> 2L, ("click", "cart") -> 1L,
        ("cart", "buy") -> 1L, ("view", "view") -> 1L)
    } finally q.stop()
  }

  test("streamingAsofWithin: per-trigger matches equal the batch lastBeforeWithin on event-time-ordered triggers; ties and stale views null out") {
    implicit val ctx = spark.sqlContext
    import EventStream.AsofEvent
    val tol = 100L
    // trigger boundaries respect event time; WITHIN a trigger the rows
    // arrive deliberately out of order
    val triggers = Seq(
      Seq( // user 1: view then click same trigger; user 2: click w/o view
        AsofEvent(1L, 2L, "click", 50L), AsofEvent(1L, 1L, "view", 10L),
        AsofEvent(2L, 3L, "click", 60L)),
      Seq( // user 1: tie — view at exactly the click time falls back to
           // the previous distinct view (10, stale at 200: 190 > tol → null);
           // user 2 gets a view for later
        AsofEvent(1L, 5L, "click", 200L), AsofEvent(1L, 4L, "view", 200L),
        AsofEvent(2L, 6L, "view", 210L)),
      Seq( // user 1: click matches the tie-view from last trigger (fresh);
           // user 2: cross-trigger match within tolerance
        AsofEvent(1L, 7L, "click", 250L), AsofEvent(2L, 8L, "click", 290L)))
    val mem = MemoryStream[AsofEvent]
    val q = EventStream.streamingAsofWithin(mem.toDS(), "click", "view", tol)
      .writeStream.format("memory").queryName("asofw").outputMode("update").start()
    try {
      triggers.foreach { t => mem.addData(t: _*); q.processAllAvailable() }
    } finally q.stop()
    val streamed = spark.table("asofw").collect()
      .map(r => (r.getLong(1), (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).sortBy(_._1)
    streamed.map(_._1) shouldBe Array(2L, 3L, 5L, 7L, 8L) // each click once
    // ≡ the batch operator over the full event set
    val all = triggers.flatten
    val clicks = all.filter(_.event_type == "click")
      .map(e => (e.event_id, e.user_id, e.tus)).toDF("event_id", "user_id", "tus")
    val views = all.filter(_.event_type == "view")
      .map(e => (e.user_id, e.tus, e.tus)).toDF("user_id", "tus", "vtus")
    val batch = graft.ops.AsofJoin.lastBeforeWithin(clicks, views,
        Seq("user_id"), "tus", Seq("vtus"), tol)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).sortBy(_._1)
    streamed shouldBe batch
    // spot semantics: tie falls back then nulls on staleness; the
    // tie-view itself matches the NEXT click
    streamed.toMap.apply(5L) shouldBe ((1L, 200L, None))
    streamed.toMap.apply(7L) shouldBe ((1L, 250L, Some(200L)))
    streamed.toMap.apply(3L) shouldBe ((2L, 60L, None))
    streamed.toMap.apply(8L) shouldBe ((2L, 290L, Some(210L)))
  }

  test("streamingAsofWithin: an out-of-contract late left fails safe to null, never a match from its own future") {
    implicit val ctx = spark.sqlContext
    import EventStream.AsofEvent
    val mem = MemoryStream[AsofEvent]
    val q = EventStream.streamingAsofWithin(mem.toDS(), "click", "view", 100L)
      .writeStream.format("memory").queryName("asoflate").outputMode("update").start()
    try {
      // two views fold into the two-long state (vLatest=200, vPrev=100)
      mem.addData(AsofEvent(1L, 1L, "view", 100L), AsofEvent(1L, 2L, "view", 200L))
      q.processAllAvailable()
      // a late left at t=50 violates the ordered-trigger contract: both
      // state values are in its FUTURE. The fallback arm (vPrev=100)
      // passes the tolerance bound alone (50-100 = -50 <= 100) — the
      // strict-before check must null it out, not emit view@100
      mem.addData(AsofEvent(1L, 3L, "click", 50L))
      q.processAllAvailable()
      // an in-contract left still matches through the fallback arm:
      // click@200 ties vLatest → falls back to view@100, which is
      // strictly before and within tolerance (200-100 = 100 <= 100)
      mem.addData(AsofEvent(1L, 4L, "click", 200L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("asoflate").collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    out(3L) shouldBe None       // fail-safe null, not Some(100L)
    out(4L) shouldBe Some(100L) // the legit fallback match is untouched
  }
}
