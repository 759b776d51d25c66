package graft.streaming

import graft.Cached
import graft.llm.TextAnalysis
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Index-maintaining streaming LEXICAL ingest — [[VectorIndexIngest]]'s
  * discipline on the BM25 family, closing the loop
  * `TextAnalysis.writeLexIndex` opened: each arriving micro-batch lands
  * its own postings rows (term, doc_id, tf, dl — all intra-document
  * quantities, so the projection is batch-local with NO cross-batch
  * read), a per-DOC stats partition (the forget-subtractable layout),
  * and a one-row per-batch aggregate; queries probe the stored rows
  * with the corpus constants SUMMED across batches (n and Σdl are
  * additive BIGINTs, served from the per-batch aggregates —
  * [[corpusStats]]), bitwise the one-shot `bm25TopDocs` over the same
  * corpus (spec-pinned — the shared `bm25ScoreSlice` kernel plus exact
  * integer round-trips leave nothing to drift).
  *
  * Exactly-once is [[VectorIndexIngest]]'s: postings and stats land in
  * `ingest_batch=` partitions with dynamic overwrite; the projection is
  * deterministic per batch, so a replay rewrites exactly its original
  * partitions byte-identically — no manifest, no listing decision, no
  * prior-view read at all. Documents must be batch-disjoint (each
  * doc_id ingested once — the vec_id contract), else its df would
  * double-count.
  *
  * Long-lived stores OPTIMIZE with [[compact]] (postings consolidate
  * with `sortCols = Seq("term")`: per-batch files each span the whole
  * term range, so consolidation is exactly where the row-group term
  * locality ([[graft.llm.TextAnalysis.lexPostings]]'s min/max skipping)
  * is restored — and the `stats_agg` cache rebuilds for the new
  * generation). Probes are bitwise unchanged; a replayed batch at or
  * below either watershed SKIPS. */
object LexIngest {

  def ingestBatch(batch: DataFrame, indexPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val raw = batch.select(col("doc_id"), col("text"))
    if (raw.isEmpty) return
    if (StoreCompaction.replayCovered(spark, batchId,
        s"$indexPath/postings", s"$indexPath/stats")) return
    // three writes read this plan (postings, stats, stats_agg) — persist
    // once or the batch source re-runs per consumer
    val batchDocs = Cached.keep(raw)
    try {
      // materialize the shared batch cache with ONE cheap job before the
      // fan-out, then land the three components CONCURRENTLY (guide
      // §2.6 driver-thread overlap): they are separate sub-stores of
      // the same single writer with no ordering dependency — a torn
      // ingest was already possible between the sequential writes and
      // is healed identically by the deterministic replay rewrite,
      // while the per-batch wall drops from the sum of three write
      // jobs to the slowest one (postings). Bytes per component are
      // unchanged.
      batchDocs.count()
      graft.Par.run(
        () => StoreCompaction.writeBatch(TextAnalysis.lexPostings(batchDocs),
          s"$indexPath/postings", batchId),
        // per-DOCUMENT stats (doc_id, dl): still additive across batches,
        // and subtractable per doc — a deletion-vector probe recomputes the
        // exact (n, Σdl) of the SURVIVING corpus, which is what keeps the
        // post-forget ranking bitwise-equal to the one-shot scorer over the
        // surviving documents
        () => StoreCompaction.writeBatch(TextAnalysis.lexDocStats(batchDocs),
          s"$indexPath/stats", batchId),
        // per-BATCH one-row aggregate (n, sumdl): the probe-side corpus
        // constants become O(committed batches) instead of a per-probe scan
        // of every per-doc row — BIGINT addition is associative, so the
        // folded totals are bit-identical to the per-doc sum. Same pure-
        // projection exactly-once story; the per-doc rows stay the source
        // of truth (forget subtraction and compaction rebuilds need them).
        () => StoreCompaction.writeBatch(TextAnalysis.lexStats(batchDocs),
          s"$indexPath/stats_agg", batchId))
      ()
    } finally batchDocs.unpersist(false)
  }

  /** Logically forget documents: postings AND stats mark the ids; every
    * [[probe]] from now on excludes them and re-derives the surviving
    * corpus constants; the next [[compact]] removes them physically. */
  def markDeleted(spark: SparkSession, indexPath: String, docIds: Seq[Long]): Unit = {
    StoreCompaction.markDeleted(spark, s"$indexPath/postings", docIds)
    StoreCompaction.markDeleted(spark, s"$indexPath/stats", docIds)
  }

  /** CASCADE forget for a store whose units are CHUNKS of parent
    * documents keyed `parent_id · keyDiv + chunk_id` (the ragChunks
    * synthetic key): forgetting a document must remove EVERY chunk of
    * it, or its text keeps serving probes piecewise — the
    * `Dedup.deleteCascade` composition at the retrieval-unit level.
    * The stored unit ids of the forgotten parents resolve from the
    * per-doc stats registry (one narrow committed-view scan; the
    * collect is bounded by |forgotten docs| × chunks-per-doc — a
    * forget request, never the corpus) and mark exactly like
    * [[markDeleted]]. Idempotent: deletes are a set union, and a
    * parent with no stored chunks marks nothing. */
  def markDeletedCascade(spark: SparkSession, indexPath: String,
                         parentIds: Seq[Long], keyDiv: Long): Unit = {
    if (parentIds.isEmpty) return
    val unitIds = StoreCompaction.committedView(spark, s"$indexPath/stats")
      .filter(expr(s"doc_id div $keyDiv").isin(parentIds: _*))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
    if (unitIds.nonEmpty) markDeleted(spark, indexPath, unitIds)
  }

  def start(docsStream: DataFrame, indexPath: String, checkpoint: String): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), indexPath, batchId)
      }
      .start()

  /** The live (N, Σdl) corpus constants — exact BIGINTs, served from the
    * per-batch one-row aggregates: total = Σ over committed `stats_agg`
    * rows (the stats store's watershed decides which are committed — the
    * agg cache mirrors the per-doc partitions one row each), minus the
    * DELETED docs' (count, Σdl) when forget requests are pending (one
    * broadcast-semi-joined narrow scan, skipped entirely on the common
    * no-deletes path). Probe-side stats cost is O(batches + deletes),
    * never O(corpus docs); BIGINT addition is associative, so every
    * value is bit-identical to the per-doc fold. Falls back to the exact
    * per-doc aggregate whenever the agg cache does not cover EVERY
    * committed stats partition — absent entirely (a pre-round-17
    * store), missing old batch rows (a pre-round-17 store that took a
    * new batch), or missing the generation row (a raw `StoreCompaction
    * .compact` without [[compact]]'s rebuild, or a torn rebuild) — so a
    * partial cache can never silently underreport the corpus. */
  def corpusStats(spark: SparkSession, indexPath: String): (Long, Long) = {
    val statsPath = s"$indexPath/stats"
    val aggPath = s"$indexPath/stats_agg"
    val ws = StoreCompaction.watershed(spark, statsPath)
    def perDocFallback(): (Long, Long) = {
      val st = StoreCompaction.liveView(spark, statsPath, "doc_id")
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      (st.getLong(0), st.getLong(1))
    }
    val fs = StoreCompaction.fsOf(spark, aggPath)
    if (!fs.exists(new org.apache.hadoop.fs.Path(aggPath)) ||
        StoreCompaction.batchDirs(spark, aggPath).isEmpty) return perDocFallback()
    val committed = spark.read.parquet(aggPath)
      .filter(ws match {
        case None => col("ingest_batch") >= 0L
        case Some(StoreCompaction.Watershed(g, w)) =>
          col("ingest_batch") === lit(-g) || col("ingest_batch") > lit(w)
      })
      // partition columns round-trip as INT from directory names
      .select(col("ingest_batch").cast("long"), col("n"), col("sumdl"))
      .collect() // one row per committed batch/generation, tiny
    // COVERAGE, not just generation presence: every committed stats
    // partition (old batches of a pre-round-17 store, the generation of
    // a torn rebuild) must have its agg row, else the fold silently
    // underreports the corpus — fall back to the exact per-doc path
    val aggBatches = committed.map(_.getLong(0)).toSet
    val statsCommitted = StoreCompaction.batchDirs(spark, statsPath)
      .map(_._2).distinct
      .filter(v => ws match {
        case None => v >= 0L
        case Some(StoreCompaction.Watershed(g, w)) => v == -g || v > w
      })
    if (ws.exists(x => !aggBatches.contains(-x.generation)) ||
        !statsCommitted.forall(aggBatches.contains))
      return perDocFallback()
    val totN = committed.map(_.getLong(1)).sum
    val totDl = committed.map(_.getLong(2)).sum
    if (!StoreCompaction.hasPendingDeletes(spark, statsPath)) (totN, totDl)
    else {
      val del = StoreCompaction.committedView(spark, statsPath)
        .join(broadcast(StoreCompaction.deletedIds(spark, statsPath)),
          col("doc_id") === col("_del_id"), "left_semi")
        .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      (totN - del.getLong(0), totDl - del.getLong(1))
    }
  }

  /** DESCRIBE DETAIL for the COMPOSITE lexical store —
    * [[StoreCompaction.describe]] extended to the three-part layout:
    * one row per physical component (`postings`, `stats`) with the
    * standard commit/maintenance columns (generation, covered
    * watershed, partition pressure, forget backlog, committed vs live
    * row counts), plus the SERVED corpus constants from [[corpusStats]]
    * — the O(1)-cache-or-exact-fallback values probes actually rank
    * with — repeated on every row. Invariant visible IN the output:
    * `corpus_n` equals the stats row's `n_live` (the agg cache serves
    * exactly the surviving membership), so the torn-rebuild /
    * partial-cache bug class surfaces as a column disagreement, not a
    * silent score shift. Eager audit call (each component row is a
    * handful of counts over the committed view), never a probe path. */
  def describe(spark: SparkSession, indexPath: String): DataFrame = {
    val (n, sumdl) = corpusStats(spark, indexPath)
    Seq("postings", "stats")
      .map { name =>
        StoreCompaction.describe(spark, s"$indexPath/$name", "doc_id")
          .withColumn("component", lit(name))
      }
      .reduce(_.unionByName(_))
      .withColumn("corpus_n", lit(n))
      .withColumn("corpus_sumdl", lit(sumdl))
      .select(col("component"), col("generation"), col("covered_through"),
        col("n_batch_parts"), col("n_live_batches"),
        col("n_pending_delete_ids"), col("n_committed"), col("n_live"),
        col("corpus_n"), col("corpus_sumdl"))
  }

  /** BM25 top-k over the streamed store: corpus constants from
    * [[corpusStats]] (exact additive BIGINTs, O(batches + deletes) —
    * never a per-probe scan of the per-doc rows), the term slice read
    * through the live postings view — the shared scoring kernel makes
    * this bitwise `bm25TopDocs`/`bm25Probe` over the surviving corpus. */
  def probe(spark: SparkSession, indexPath: String, queryTerms: Seq[String],
            k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (n, sumdl) = corpusStats(spark, indexPath)
    TextAnalysis.bm25ScoreSlice(
      StoreCompaction.liveView(spark, s"$indexPath/postings", "doc_id"),
      queryTerms, n, sumdl, k, k1, b)
  }

  /** The full PRF loop served from the persisted store — the documents
    * table is never read: the seed ranking is [[probe]]; the feedback
    * vote comes from the feedback docs' own POSTINGS rows (a posting's
    * tf IS the per-doc term count the expansion sums); candidate
    * document frequency is a term-IN-pushed slice count over the live
    * postings (bounded by the candidate set, never a whole-store
    * aggregate); corpus N comes from [[corpusStats]]. The weight and
    * guards are TextAnalysis.prfExpansionTerms' exact integers verbatim
    * — `(ftf·10⁶) div df`, seeds and in-every-doc terms excluded, ties
    * to the first term (driver-side over the bounded candidate set, the
    * ivfPqProbe probe-list pattern) — and the re-query is [[probe]]
    * with seed ∪ expansion. The whole loop is therefore bitwise
    * `TextAnalysis.bm25Prf` over the SURVIVING corpus (spec-pinned),
    * with forget composed end-to-end: deleted docs leave the feedback
    * ranking, the vote, the df counts, and the constants.
    *
    * The one non-term-clustered read is the feedback-postings fetch
    * (doc_id IN over a term-sorted store): fbDocs is interactive-sized,
    * so it is a columnar semi-join scan; the classic pairing — a
    * forward doc→terms index making it a point lookup — is the next
    * layout step if feedback depth ever grows. */
  def prfProbe(spark: SparkSession, indexPath: String,
               seedTerms: Seq[String], fbDocs: Int, fbTerms: Int, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(seedTerms.nonEmpty, "prfProbe: empty seed query")
    require(fbDocs >= 1 && fbTerms >= 1,
      s"need fbDocs, fbTerms >= 1, got $fbDocs, $fbTerms")
    val fb = probe(spark, indexPath, seedTerms, fbDocs, k1, b)
    val live = StoreCompaction.liveView(spark, s"$indexPath/postings", "doc_id")
    // the feedback docs' postings ARE the (term, tf) vote; the eager
    // feedback probe is spent once the vote is collected
    val ftf =
      try live.join(broadcast(fb.select(col("doc_id"))), Seq("doc_id"))
        .filter(!col("term").isin(seedTerms: _*))
        .groupBy(col("term")).agg(sum(col("tf")).as("ftf"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      finally { fb.unpersist(false); () }
    if (ftf.isEmpty) return probe(spark, indexPath, seedTerms, k, k1, b)
    // candidate df: one pushed-down slice, one row per (term, doc)
    val dfs = live.filter(col("term").isin(ftf.map(_._1): _*))
      .groupBy(col("term")).agg(count(lit(1)).as("cdf"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (n, _) = corpusStats(spark, indexPath)
    val expansion = ftf
      .filter { case (t, _) => dfs(t) < n }
      .map { case (t, f) => (t, (f * 1000000L) / dfs(t)) }
      .sortBy { case (t, w) => (-w, t) }
      .take(fbTerms)
      .map(_._1)
    probe(spark, indexPath, seedTerms ++ expansion, k, k1, b)
  }

  /** [[probe]] for a batch of queries — one live-view slice scan (the
    * UNION of every query's terms pushed down once) serves them all,
    * with the same [[corpusStats]] constants; each query's ranking is
    * bitwise its single-query probe (the shared multi-query kernel). */
  def probeMany(spark: SparkSession, indexPath: String,
                queries: Seq[(Long, Seq[String])], k: Int,
                k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (n, sumdl) = corpusStats(spark, indexPath)
    TextAnalysis.bm25ScoreSliceMany(
      StoreCompaction.liveView(spark, s"$indexPath/postings", "doc_id"),
      queries, n, sumdl, k, k1, b)
  }

  /** OPTIMIZE the whole lexical store: postings consolidate TERM-SORTED
    * (row-group term locality restored), per-doc stats compact, pending
    * deletes apply physically to both, and the `stats_agg` cache is
    * REBUILT for the new generation — one row holding the compacted
    * corpus's exact (n, Σdl), written BEFORE any covered agg partitions
    * are swept so a torn rebuild only ever leaves [[corpusStats]] on its
    * per-doc fallback, never wrong. Run [[vacuum]] after, at the
    * caller's retention policy. */
  def compact(spark: SparkSession, indexPath: String): StoreCompaction.Watershed = {
    StoreCompaction.compact(spark, s"$indexPath/postings", Nil,
      targetFiles = 1, sortCols = Seq("term"), deleteIdCol = Some("doc_id"))
    val sw = StoreCompaction.compact(spark, s"$indexPath/stats", Nil,
      deleteIdCol = Some("doc_id"))
    StoreCompaction.writeBatch(
      StoreCompaction.committedView(spark, s"$indexPath/stats")
        .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sumdl")),
      s"$indexPath/stats_agg", -sw.generation)
    sw
  }

  /** Materializes a time-travel snapshot of the WHOLE composite lexical
    * store as a new standalone store — [[StoreCompaction.exportAsOf]]
    * extended to the three-part layout: a lex store is postings + per-doc
    * stats + the `stats_agg` cache, so a frozen-corpus BM25 snapshot
    * ("the index exactly as batch B's readers ranked it, minus everything
    * since erased") needs all three rewritten together or the clone's
    * probes read constants from a corpus its postings don't hold.
    *
    * Semantics per part:
    *  - postings and stats rows are their [[StoreCompaction.liveViewAsOf]]
    *    views (committed batches ≤ maxBatch, deletion vectors subtracting
    *    RETROACTIVELY — no snapshot resurrects erased text), rewritten as
    *    the clone's single `ingest_batch = 0` generation; postings land
    *    TERM-SORTED (the [[compact]] row-group-locality discipline).
    *  - `stats_agg` REBUILDS from the staged snapshot stats — one exact
    *    (n, Σdl) row — so clone probes serve corpus constants from the
    *    O(1) cache immediately ([[corpusStats]] coverage holds by
    *    construction: one agg row covering the one stats partition).
    *
    * The clone IS a valid lex store: [[probe]]/[[prfProbe]]/[[compact]]/
    * [[markDeleted]]/[[ingestBatch]] all work on it and its own forget
    * lifecycle starts empty. Probing it is bitwise the as-of probe of
    * the source by construction (same postings bits, same additive
    * BIGINT constants), however far the source compacts, vacuums, or
    * forgets afterwards.
    *
    * Publish is atomic at the ROOT (the [[StoreCompaction.exportAsOf]]
    * discipline): all three parts land under `<dest>.staging`, then ONE
    * directory rename makes the clone visible — a torn export leaves
    * only staging, never a half-readable store. Refuses an existing
    * destination (snapshots are immutable) and an EMPTY snapshot (a
    * clone of only _SUCCESS files would fail schema inference at first
    * read instead of failing loudly here).
    *
    * Scale shape: two partition-pruned snapshot reads + two writes (the
    * compact shape) + one one-row aggregate — never a corpus collect. */
  def exportAsOf(spark: SparkSession, indexPath: String, maxBatch: Long,
                 dest: String): Unit = {
    val fs = StoreCompaction.fsOf(spark, dest)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    require(!fs.exists(destPath),
      s"export destination $dest already exists — snapshots are " +
        "immutable, pick a fresh path")
    val staging = new org.apache.hadoop.fs.Path(dest + ".staging")
    fs.delete(staging, true) // torn prior attempt
    val stats = StoreCompaction
      .liveViewAsOf(spark, s"$indexPath/stats", "doc_id", maxBatch)
      .withColumn("ingest_batch", lit(0L))
    require(!stats.isEmpty,
      s"as-of batch $maxBatch of $indexPath is empty after deletion-" +
        "vector subtraction — an exported snapshot must hold at least one document")
    stats.repartition(1)
      .write.mode("overwrite").partitionBy("ingest_batch")
      .parquet(s"$staging/stats")
    // guard EACH component, not just stats: a clone component holding
    // only _SUCCESS fails parquet schema inference at first read, and
    // the tokenizer makes empty postings-with-live-stats unreachable in
    // practice — but an unreachable-in-practice torn clone is exactly
    // what the single-store refusal exists to make impossible
    val postings = StoreCompaction
      .liveViewAsOf(spark, s"$indexPath/postings", "doc_id", maxBatch)
      .withColumn("ingest_batch", lit(0L))
    require(!postings.isEmpty,
      s"as-of batch $maxBatch of $indexPath has live stats but an empty " +
        "postings view — refusing to publish an unreadable clone component")
    postings
      .repartition(1).sortWithinPartitions(col("term"))
      .write.mode("overwrite").partitionBy("ingest_batch")
      .parquet(s"$staging/postings")
    // agg cache from the STAGED stats (one narrow scan of what was
    // actually written, not a replan of the as-of view)
    spark.read.parquet(s"$staging/stats")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sumdl"))
      .withColumn("ingest_batch", lit(0L))
      .write.mode("overwrite").partitionBy("ingest_batch")
      .parquet(s"$staging/stats_agg")
    if (!fs.rename(staging, destPath) || !fs.exists(destPath))
      throw new java.io.IOException(s"export publish $staging -> $dest failed")
  }

  /** GC after [[compact]]: vacuums postings and stats, and sweeps
    * `stats_agg` partitions the stats watershed superseded (covered
    * batches and stale generations — [[corpusStats]] never reads them,
    * exactly the [[StoreCompaction.vacuum]] argument). */
  def vacuum(spark: SparkSession, indexPath: String): Int = {
    val n = StoreCompaction.vacuum(spark, s"$indexPath/postings") +
      StoreCompaction.vacuum(spark, s"$indexPath/stats")
    n + StoreCompaction.watershed(spark, s"$indexPath/stats").fold(0)(ws =>
      StoreCompaction.dropSuperseded(spark, s"$indexPath/stats_agg", ws).size)
  }
}
