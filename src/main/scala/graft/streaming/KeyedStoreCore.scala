package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The shared (id, payload) store lifecycle behind [[VecStoreIngest]]
  * and [[DocStoreIngest]] — one implementation of the ingest /
  * committedView / deletion-vector / compaction discipline so a fix to
  * it can never silently reach one store family and not the other (the
  * two public objects stay as thin named facades for their documented
  * serving roles). Payloads store VERBATIM: whatever bits arrive are
  * the bits [[view]] serves.
  *
  * The per-batch steps are [[StoreCompaction]]'s shared protocol, the
  * same one [[VectorIndexIngest]] runs: watershed replay skip and the
  * deterministic dynamic-overwrite `ingest_batch=` write (replay
  * rewrites byte-identically). Ids must be batch-disjoint (each id
  * ingested once): a re-sent id would serve twice. Compaction
  * consolidates id-sorted for row-group id-lookup locality (fetches are
  * point lookups, never scans). */
private[streaming] object KeyedStoreCore {

  def ingestBatch(batch: DataFrame, storePath: String, batchId: Long,
                  idCol: String, valCol: String): Unit = {
    if (batch.isEmpty) return
    if (StoreCompaction.replayCovered(batch.sparkSession, batchId, storePath)) return
    StoreCompaction.writeBatch(batch.select(col(idCol), col(valCol)), storePath, batchId)
  }

  def start(stream: DataFrame, storePath: String, checkpoint: String,
            idCol: String, valCol: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), storePath, batchId, idCol, valCol)
      }
      .start()

  def view(spark: SparkSession, storePath: String,
           idCol: String, valCol: String): DataFrame =
    StoreCompaction.liveView(spark, storePath, idCol)
      .select(col(idCol), col(valCol))

  def viewAsOf(spark: SparkSession, storePath: String,
               idCol: String, valCol: String, maxBatch: Long): DataFrame =
    StoreCompaction.liveViewAsOf(spark, storePath, idCol, maxBatch)
      .select(col(idCol), col(valCol))

  def compact(spark: SparkSession, storePath: String,
              idCol: String): StoreCompaction.Watershed =
    StoreCompaction.compact(spark, storePath, Nil, targetFiles = 1,
      sortCols = Seq(idCol), deleteIdCol = Some(idCol))
}
