package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.Similarity

/** Persisted SIGN-SIGNATURE store — the binary ANN proposer's on-disk
  * form, and the place the 32× narrowing actually cashes out: probes
  * scan (vec_id, sig) rows — two BIGINT words per 64-dim vector —
  * never the float corpus, so the proposer's IO is 1/32nd of a
  * vec-store scan before any pruning. The serving pair is this store
  * for the integer-domain propose plus [[VecStoreIngest]] for the
  * exact-rerank fetch ([[Similarity.hammingRefinedStored]]) — the
  * FAISS propose/refine split with sign bits as the compressed domain.
  *
  * Encoding happens AT INGEST ([[VectorIndexIngest]]'s property): each
  * micro-batch signs its own embeddings — a pure projection, so replay
  * rewrites its partition byte-identically with no cross-batch read,
  * and the signature definition is frozen per store by construction
  * (the packing has no trained state to mismatch, unlike the IVF-PQ
  * quantizer). Lifecycle is the shared [[KeyedStoreCore]]: exactly-once
  * committed views, deletion vectors (forget drops a vector from every
  * probe immediately; compact removes its bits), vec_id-sorted
  * consolidation. Signatures store as exact integers — the round-trip
  * cannot move a bit. */
object SigStoreIngest {

  /** Signs and lands one batch of (vec_id, embedding) rows. */
  def ingestBatch(embBatch: DataFrame, storePath: String, batchId: Long): Unit =
    KeyedStoreCore.ingestBatch(Similarity.signSignature(embBatch),
      storePath, batchId, "vec_id", "sig")

  /** Logically forget vectors: they leave every Hamming ranking
    * immediately; the next `StoreCompaction.compact` removes the bits. */
  def markDeleted(spark: SparkSession, storePath: String,
                  vecIds: Seq[Long]): Unit =
    StoreCompaction.markDeleted(spark, storePath, vecIds)

  /** The served (vec_id, sig) frame — exactly-once minus forgotten ids;
    * what the stored propose stage scans. */
  def view(spark: SparkSession, storePath: String): DataFrame =
    KeyedStoreCore.view(spark, storePath, "vec_id", "sig")
}
