package graft.streaming

import graft.Cached
import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Span-cleaning streaming ingest — [[IndexedIngest]]'s discipline
  * applied to duplicated-SPAN removal (Lee et al. 2022 at ingest time):
  * each arriving micro-batch strips every token run already present in
  * the stored corpus (`Dedup.removeCorpusSpans` against the maintained
  * gram index), then lands the CLEANED documents and the cleaned
  * text's own gram rows as per-batch partitions. The corpus converges
  * to span-disjoint content without any whole-corpus pass: a batch's
  * cost is its own grams plus a one-column scan of the stored index —
  * corpus TEXT is never read on the ingest path.
  *
  * Indexing the CLEANED text (not the raw batch) is load-bearing: the
  * index then describes exactly what the store contains, so a span can
  * never be owned by text that was itself removed. Within-batch
  * duplication is `selfClean`'s arm: the batch first runs
  * `Dedup.removeDuplicateSpans` against ITSELF (first-occurrence-owns,
  * by doc_id), then the survivor text cleans against the corpus index —
  * so a self-duplicating batch lands span-disjoint both internally and
  * against the store. The landed counts stay anchored to the RAW batch
  * (n_tokens = original tokens, n_dropped = self-dropped +
  * corpus-dropped). With selfClean = false (the default) within-batch
  * duplication passes through, per `removeCorpusSpans`' contract.
  * Documents may empty to text = '' (counts preserved); dropping them
  * is a downstream policy, not this operator's.
  *
  * Exactly-once is [[IndexedIngest]]'s on both stores: (corpus, index)
  * partitions keyed by batch id with dynamic overwrite, a batch
  * compares only against partitions written BEFORE it, so a replay
  * sees its original corpus view and rewrites its own partitions
  * byte-identically. The torn-first-batch escape and the
  * missing-index-beside-prior-batches raise are the shared
  * [[StoreCompaction.priorIndex]] rule.
  *
  * Long-lived stores compact with [[StoreCompaction]] — corpus and
  * index TOGETHER, to the same watershed (they describe the same
  * content). Prior-view reads go through the committed view, so a
  * compacted index serves one consolidated partition instead of one
  * per trigger; a replayed batch at or below either store's watershed
  * SKIPS (its cleaned docs and gram rows are durable inside the
  * generations). */
object SpanIngest {

  def ingestBatch(batch: DataFrame, corpusPath: String, indexPath: String,
                  batchId: Long, n: Int, selfClean: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val batchDocs = batch.select(col("doc_id"), col("text"))
    if (batchDocs.isEmpty) return
    if (StoreCompaction.replayCovered(spark, batchId, corpusPath, indexPath)) return
    val noGrams = Dedup.spanIndexRows(batchDocs.limit(0), n)
    val priorGrams = StoreCompaction.priorIndex(spark, corpusPath, indexPath,
        batchId, noGrams, "span index",
        "Dedup.writeSpanIndex over the stored corpus")
      .fold(noGrams)(_.select(col("g")))
    // removeCorpusSpans returns its output persisted + materialized —
    // both writes below are cache reads of the one computation. With
    // selfClean the batch first strips its own internal duplicate runs,
    // then the survivor text cleans against the corpus; the landed
    // counts re-anchor to the raw batch (total tokens, total dropped)
    // via one batch-sized join of the two cached stages. Every cached
    // stage is released on the way out, a throwing step included.
    val cleaned =
      if (!selfClean) Dedup.removeCorpusSpans(batchDocs, priorGrams, n)
      else {
        val sc = Dedup.removeDuplicateSpans(batchDocs, n)
        try {
          val cc = Dedup.removeCorpusSpans(
            sc.select(col("doc_id"), col("text")), priorGrams, n)
          Cached.result(cc
            .select(col("doc_id"), col("n_dropped").as("_cd"), col("text"))
            .join(sc.select(col("doc_id"), col("n_tokens"),
              col("n_dropped").as("_sd")), Seq("doc_id"))
            .select(col("doc_id"), col("n_tokens"),
              (col("_sd") + col("_cd")).as("n_dropped"), col("text")), cc)
        } finally sc.unpersist(false)
      }
    // cleaned is already persisted + materialized, so both writes are
    // cache reads of the one computation — land them CONCURRENTLY (the
    // IndexedIngest driver-overlap rationale; write order never
    // mattered for replay, a torn attempt in either order rewrites its
    // own partitions byte-identically)
    try {
      graft.Par.run(
        () => StoreCompaction.writeBatch(cleaned, corpusPath, batchId),
        () => StoreCompaction.writeBatch(
          Dedup.spanIndexRows(cleaned.select(col("doc_id"), col("text")), n),
          indexPath, batchId))
      ()
    } finally cleaned.unpersist(false)
  }

  /** @param autoCompactEvery when set, both stores self-OPTIMIZE once
    *        the corpus's committed batch partitions reach N (the
    *        [[StoreCompaction.compactIfNeeded]] policy, run inside the
    *        ingest's own foreachBatch — single-writer, replay-safe by
    *        the watershed skip; both stores share the batch spine so
    *        one threshold check drives both compactions). Corpus
    *        compaction passes `doc_id` so pending forget requests apply
    *        physically instead of killing the stream; the gram index
    *        has NO id column (rows are bare distinct grams, not
    *        doc-attributable), so `markDeleted` on it is unsupported —
    *        a deleted doc's grams stay indexed by design (what the
    *        store's history owned for span-dedup purposes is corpus
    *        policy, the liveView doctrine). */
  def start(docsStream: DataFrame, corpusPath: String, indexPath: String,
            checkpoint: String, n: Int,
            selfClean: Boolean = false,
            autoCompactEvery: Option[Int] = None): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), corpusPath, indexPath, batchId, n, selfClean)
        autoCompactEvery.foreach { k =>
          val spark = batch.sparkSession
          if (StoreCompaction.compactIfNeeded(spark, corpusPath, Nil, k,
              deleteIdCol = Some("doc_id")).isDefined)
            StoreCompaction.compactIfNeeded(spark, indexPath, Nil, 1)
        }
      }
      .start()
}
