package graft.streaming

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
  * generations). The gram index has NO id column (rows are bare
  * distinct grams, not doc-attributable), so `markDeleted` applies to
  * the corpus only: a deleted doc's grams stay indexed by design. */
object SpanIngest {

  def ingestBatch(batch: DataFrame, corpusPath: String, indexPath: String,
                  batchId: Long, n: Int): Unit = {
    val spark = batch.sparkSession
    val batchDocs = batch.select(col("doc_id"), col("text"))
    if (batchDocs.isEmpty) return
    if (StoreCompaction.replayCovered(spark, batchId, corpusPath, indexPath)) return
    val noGrams = Dedup.spanIndexRows(batchDocs.limit(0), n)
    val priorGrams = StoreCompaction.priorIndex(spark, corpusPath, indexPath,
        batchId, noGrams, "span index",
        "Dedup.writeSpanIndex over the stored corpus")
      .fold(noGrams)(_.select(col("g")))
    val cleaned = Dedup.removeCorpusSpans(batchDocs, priorGrams, n)
    // removeCorpusSpans returns its output persisted + materialized, so
    // both writes are cache reads of the one computation — land them
    // CONCURRENTLY (the IndexedIngest driver-overlap rationale; write
    // order never mattered for replay, a torn attempt in either order
    // rewrites its own partitions byte-identically)
    try {
      graft.Par.run(
        () => StoreCompaction.writeBatch(cleaned, corpusPath, batchId),
        () => StoreCompaction.writeBatch(
          Dedup.spanIndexRows(cleaned.select(col("doc_id"), col("text")), n),
          indexPath, batchId))
      ()
    } finally cleaned.unpersist(false)
  }

  def start(docsStream: DataFrame, corpusPath: String, indexPath: String,
            checkpoint: String, n: Int): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), corpusPath, indexPath, batchId, n)
      }
      .start()
}
