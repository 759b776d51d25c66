package graft.streaming

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus ingestion with near-duplicate suppression — the
  * loop a training-data pipeline runs as crawl snapshots arrive: each
  * micro-batch LSH-bands against the corpus ingested SO FAR
  * (`Dedup.incrementalMinhash`: batch bands broadcast, the corpus is
  * probed in place and never self-joins), drops batch documents that
  * near-duplicate ingested content or a lower-id document in the same
  * batch, and appends the survivors.
  *
  * Exactly-once without a transactional sink: survivors land in a
  * partition keyed by the micro-batch id with DYNAMIC partition
  * overwrite, so a replayed batch (post-crash re-delivery) OVERWRITES
  * its own partition instead of appending duplicates — the idempotent-
  * sink pattern that makes foreachBatch exactly-once.
  *
  * Policy: conservative — a batch document near-duplicating ANYTHING
  * already seen (corpus, or an earlier-id batch sibling) is dropped,
  * even if its within-batch keeper was itself dropped against the
  * corpus. Input schema: (doc_id, text); doc_ids must be globally
  * unique and batch-monotone for the keeper policy to be meaningful.
  */
object IngestDedup {

  /** Processes one micro-batch; factored out so batch jobs can reuse
    * the identical logic (the spec pins streamed ≡ sequential batch). */
  def ingestBatch(batch: DataFrame, corpusPath: String, batchId: Long,
                  threshold: Double): Unit = {
    val spark = batch.sparkSession
    val batchDocs = batch.select(col("doc_id"), col("text"))
    if (batchDocs.isEmpty) return
    if (StoreCompaction.replayCovered(spark, batchId, corpusPath)) return
    // a batch compares ONLY against partitions written BEFORE it
    // (ingest_batch < batchId, a pruned directory read): a REPLAYED
    // batch therefore sees exactly the corpus view of its original
    // run — comparing against its own previous output would self-match
    // and drop every row, turning replay into data loss
    val corpus =
      if (StoreCompaction.batchDirs(spark, corpusPath).isEmpty) None
      else Some(StoreCompaction.committedView(spark, corpusPath)
        .filter(col("ingest_batch") < batchId)
        .select(col("doc_id"), col("text")))
    // one shared batch signature table drives both candidate sets; the
    // drop-id frame is the only cache ingestDupIds leaves alive
    val dropIds = Dedup.ingestDupIds(batchDocs, corpus, threshold)
    try StoreCompaction.writeBatch(
      batchDocs.join(dropIds, Seq("doc_id"), "left_anti"), corpusPath, batchId)
    finally dropIds.unpersist(false)
  }

  /** Starts the ingestion stream; `docsStream` must be a streaming
    * DataFrame with (doc_id, text). */
  def start(docsStream: DataFrame, corpusPath: String, checkpoint: String,
            threshold: Double): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), corpusPath, batchId, threshold)
      }
      .start()
}
