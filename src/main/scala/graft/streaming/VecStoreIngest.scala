package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Persisted FLOAT-VECTOR store — the refine/rerank side of a served
  * ANN deployment, closing the last raw-corpus dependency the index
  * family left open: [[VectorIndexIngest]] stores only integer codes
  * (that is its point), so every exact stage — the FAISS refine rerank
  * (`Similarity.refineExact`), the MMR candidate fetch
  * (`Similarity.mmrCandidatePool`) — had to take the caller's raw
  * embeddings frame. This store holds the ORIGINAL (vec_id, embedding)
  * rows, and [[view]] serves them as a drop-in `emb` frame: the rerank
  * fetch becomes a broadcast point-join against the store's liveView,
  * so the whole propose → rerank → de-crowd tail runs STORE-ONLY, with
  * forget composed — an erased id cannot be fetched even as a rerank
  * candidate, because the view subtracts it before the point-join.
  *
  * The embedding column stores VERBATIM (no cast): float and double
  * arrays both round-trip parquet bit-exactly, so any kernel downstream
  * of [[view]] sees exactly the bits the one-shot path sees and every
  * score stays bitwise (spec-pinned twin equality).
  *
  * Lifecycle (exactly-once, replay) is the shared [[KeyedStoreCore]] —
  * one implementation for the vec and doc store families, so a fix
  * there reaches both. At 100 TB the store is the id-keyed vector
  * service: probes fetch R·Q rows by vec_id point lookup, never scan. */
object VecStoreIngest {

  def ingestBatch(batch: DataFrame, storePath: String, batchId: Long): Unit =
    KeyedStoreCore.ingestBatch(batch, storePath, batchId, "vec_id", "embedding")

  def start(vecStream: DataFrame, storePath: String, checkpoint: String): StreamingQuery =
    KeyedStoreCore.start(vecStream, storePath, checkpoint, "vec_id", "embedding")

  /** Logically forget vectors: [[view]] excludes them immediately, the
    * next `StoreCompaction.compact` removes them physically. */
  def markDeleted(spark: SparkSession, storePath: String,
                  vecIds: Seq[Long]): Unit =
    StoreCompaction.markDeleted(spark, storePath, vecIds)

  /** The served (vec_id, embedding) frame — exactly-once across batches
    * and generations, minus logically-deleted ids (deletion-vector
    * subtraction, a broadcast anti-join). A drop-in `emb` argument for
    * `refineExact` / `mmrRerankStored` / `collectVectors`: same column
    * names, same stored bits. */
  def view(spark: SparkSession, storePath: String): DataFrame =
    KeyedStoreCore.view(spark, storePath, "vec_id", "embedding")

  /** TIME-TRAVEL rerank frame — the vector corpus as of ingest batch
    * `maxBatch` minus every id erased since (retroactive forget). */
  def viewAsOf(spark: SparkSession, storePath: String,
               maxBatch: Long): DataFrame =
    KeyedStoreCore.viewAsOf(spark, storePath, "vec_id", "embedding", maxBatch)
}
