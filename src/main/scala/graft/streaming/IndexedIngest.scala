package graft.streaming

import graft.Cached
import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Index-maintaining streaming ingest — [[IngestDedup]] upgraded to the
  * amortized production shape: instead of re-banding the ingested
  * corpus's TEXT on every micro-batch, the loop maintains a band INDEX
  * alongside the corpus (per-batch `ingest_batch=` partitions of
  * (doc_id, band, key) — `Dedup.bandIndexRows` of the survivors) and
  * probes the stored rows. Per batch, corpus cost drops from the full
  * shingle→hash→minhash→band text pipeline to a three-narrow-column
  * scan; corpus TEXT is read only to verify candidate endpoints.
  *
  * Exactly-once inherits [[IngestDedup]]'s idempotent-sink design on
  * BOTH stores: survivors and their index rows land in partitions
  * keyed by batch id with dynamic overwrite, and a batch compares only
  * against partitions written before it — replay overwrites its own
  * output (corpus AND index) and sees exactly its original corpus
  * view. Policy and output are identical to IngestDedup (spec-pinned).
  *
  * Long-lived stores compact with [[StoreCompaction]] — corpus and
  * index together, to the same watershed. Prior-view reads go through
  * the committed view (one consolidated partition instead of one per
  * trigger); a replayed batch at or below either watershed SKIPS, its
  * survivors and index rows already durable inside the generations. */
object IndexedIngest {

  def ingestBatch(batch: DataFrame, corpusPath: String, indexPath: String,
                  batchId: Long, threshold: Double): Unit = {
    val spark = batch.sparkSession
    val batchDocs = batch.select(col("doc_id"), col("text"))
    if (batchDocs.isEmpty) return
    if (StoreCompaction.replayCovered(spark, batchId, corpusPath, indexPath)) return
    val prior = StoreCompaction.priorIndex(spark, corpusPath, indexPath, batchId,
        Dedup.bandIndexRows(batchDocs.limit(0)), "band index",
        "Dedup.writeBandIndex before resuming")
      .map(index => (
        StoreCompaction.committedView(spark, corpusPath)
          .filter(col("ingest_batch") < batchId)
          .select(col("doc_id"), col("text")),
        index.select(col("doc_id"), col("band"), col("key"))))
    val dropIds = Dedup.ingestDupIdsIndexed(batchDocs, prior, threshold)
    val survivors = Cached.keep(batchDocs.join(dropIds, Seq("doc_id"), "left_anti"))
    // force the survivor cache with one job, then land corpus and index
    // CONCURRENTLY (guide-§2.6 driver overlap): both are deterministic
    // projections of the same cached survivors into their own batch
    // partitions, so write order never mattered for replay — a torn
    // attempt in either order is healed by the same dynamic-overwrite
    // rewrite (the index-written/corpus-missing case replays as a first
    // batch and overwrites its own index partition byte-identically).
    // Per-batch wall drops from write+write to max(write, write).
    try {
      survivors.count()
      graft.Par.run(
        () => StoreCompaction.writeBatch(survivors, corpusPath, batchId),
        () => StoreCompaction.writeBatch(
          Dedup.bandIndexRows(survivors), indexPath, batchId))
      ()
    } finally {
      survivors.unpersist(false)
      dropIds.unpersist(false)
    }
  }

  def start(docsStream: DataFrame, corpusPath: String, indexPath: String,
            checkpoint: String, threshold: Double): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), corpusPath, indexPath, batchId, threshold)
      }
      .start()
}
