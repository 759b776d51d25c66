package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.util.sketch.BloomFilter

/** Streaming EXACT ingestion dedup with CONSTANT driver state — the
  * streaming twin of `Dedup.bloomDedup` and the exact-dedup
  * complement of [[IngestDedup]]'s near-dup banding: each micro-batch
  * probes a driver-merged bloom filter over every text ingested so
  * far, bloom MISSES are admitted immediately (a bloom has no false
  * negatives — a miss is definitively new, no store read at all), and
  * only bloom HITS are verified exactly against the already-written
  * store partitions, so verification cost tracks the candidate set
  * (true dups + fpp·batch), never the corpus. Contrast with
  * `dropDuplicatesWithinWatermark`, whose state grows with the key
  * count inside the watermark: the bloom is a fixed bit array sized
  * once (`expectedItems`/`numBits`), and overflowing it degrades only
  * the candidate volume (more false positives to verify), NEVER
  * correctness.
  *
  * Replay safety is stronger than the CMS stream's: bloom cells are
  * BITS under OR, so re-merging a replayed batch is a no-op (the CMS
  * re-merge overestimates; the bloom cannot), and the store write is
  * the [[IngestDedup]] idempotent dynamic-overwrite partition — both
  * halves of the batch are replay-idempotent, in either crash order.
  * Snapshot protocol: [[Snapshots]]. A restarted query restores the
  * last committed bloom; without it the restart would re-admit every
  * duplicate of the pre-restart corpus (Structured Streaming does not
  * replay committed batches).
  *
  * Within a batch, one row per distinct new text is admitted (lowest
  * doc_id — the [[graft.llm.Dedup.exact]] keeper rule). The per-batch
  * bloom build runs DISTRIBUTED (`stat.bloomFilter` over xxhash64 of
  * the text: fixed-size bit-array partials OR-merge on the executors)
  * and the probe inlines the merged bloom's bytes as a binary literal
  * (the PQ-distance-table idiom; `might_contain` deserializes once
  * per task, evaluates inside the scan's codegen stage). Input
  * schema: (doc_id, text). */
final class BloomIngest(expectedItems: Long, numBits: Long) {
  require(expectedItems >= 1 && numBits >= 1,
    s"need positive bloom sizing, got items=$expectedItems bits=$numBits")

  @volatile private var merged: BloomFilter =
    BloomFilter.create(expectedItems, numBits)

  /** Current merged bloom (live object; treat as read-only). */
  def snapshot: BloomFilter = merged

  /** Processes one micro-batch; factored out so batch jobs can reuse
    * the identical logic (the IngestDedup pattern). */
  def ingestBatch(batch: DataFrame, corpusPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val batchDocs = batch.select(col("doc_id"), col("text"))
    if (batchDocs.isEmpty) return
    // bloom probe: misses are definitively new; hits are candidates
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      bos.toByteArray
    }
    val hit = ColumnBridge.column(new BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      ColumnBridge.expression(xxhash64(col("text")))))
    val flagged = batchDocs.withColumn("bloom_hit", hit)
    // exact verification of candidates only, against partitions written
    // BEFORE this batch (a replayed batch sees its original corpus view
    // — the IngestDedup pruned-read rule; its own crashed output never
    // self-matches). Candidate texts broadcast: the store scan never
    // shuffles.
    val seenTexts =
      if (StoreCompaction.batchDirs(spark, corpusPath).isEmpty) None
      else {
        val cand = flagged.filter(col("bloom_hit")).select(col("text")).distinct()
        Some(spark.read.parquet(corpusPath)
          .filter(col("ingest_batch") < batchId)
          .select(col("text"))
          .join(broadcast(cand), Seq("text"), "left_semi")
          .distinct())
      }
    val newRows = seenTexts match {
      case Some(seen) =>
        flagged.join(broadcast(seen.withColumn("dup", lit(1L))), Seq("text"), "left")
          .filter(col("dup").isNull)
      case None => flagged
    }
    // one row per distinct new text: lowest doc_id (the exact keeper)
    StoreCompaction.writeBatch(
      newRows.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text")),
      corpusPath, batchId)
    // fold the batch's texts into the bloom (distributed build, OR-merge
    // with the running filter; idempotent under replay)
    val cms = batchDocs.select(xxhash64(col("text")).as("h"))
      .stat.bloomFilter("h", expectedItems, numBits)
    val m = merged
    m.mergeInPlace(cms)
    merged = m
    ()
  }

  /** Restores the last committed bloom snapshot under `checkpoint`, if
    * any — called by [[start]]; public so a rebuilt driver (or a spec)
    * can re-arm state before driving batches directly. */
  def restore(checkpoint: String,
              conf: org.apache.hadoop.conf.Configuration): Unit =
    new Snapshots(s"$checkpoint/graft-bloom", conf)
      .restore(BloomFilter.readFrom).foreach(merged = _)

  /** Starts the ingestion stream; restores the last committed bloom
    * snapshot from `checkpoint` first. */
  def start(docsStream: DataFrame, corpusPath: String,
            checkpoint: String): StreamingQuery = {
    val snaps = new Snapshots(s"$checkpoint/graft-bloom",
      docsStream.sparkSession.sparkContext.hadoopConfiguration)
    restore(checkpoint, docsStream.sparkSession.sparkContext.hadoopConfiguration)
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), corpusPath, batchId)
        snaps.commit(batchId)(merged.writeTo)
        ()
      }
      .start()
  }
}
