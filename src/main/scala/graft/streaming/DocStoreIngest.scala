package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted DOCUMENT-TEXT store — the passage-fetch side of a served
  * RAG deployment, [[VecStoreIngest]]'s role on (doc_id, text): the
  * final serving stage returns text, and "forgotten" must mean the
  * TEXT stops being returnable — not merely that the id left the
  * rankings. [[view]] serves the committed rows minus deletion-vector
  * ids, so the answer-assembly point-join against it can never emit an
  * erased document's words even if a stale candidate id reaches it;
  * the next [[compact]] removes the bytes physically.
  *
  * Text stores verbatim (substring-exact, nothing derived), so the
  * fetched passage is byte-identical to the ingested one. Lifecycle is
  * the shared [[KeyedStoreCore]] (one implementation for the vec and
  * doc families); compaction consolidates doc_id-sorted because
  * fetches are id point-lookups, never scans. */
object DocStoreIngest {

  def ingestBatch(batch: DataFrame, storePath: String, batchId: Long): Unit =
    KeyedStoreCore.ingestBatch(batch, storePath, batchId, "doc_id", "text")

  /** Logically forget documents: their text stops serving from [[view]]
    * immediately; the next [[compact]] removes the bytes. */
  def markDeleted(spark: SparkSession, storePath: String,
                  docIds: Seq[Long]): Unit =
    StoreCompaction.markDeleted(spark, storePath, docIds)

  /** The served (doc_id, text) frame — exactly-once minus forgotten
    * ids. The passage-fetch point-join reads THIS, never the raw
    * corpus. */
  def view(spark: SparkSession, storePath: String): DataFrame =
    KeyedStoreCore.view(spark, storePath, "doc_id", "text")

  /** TIME-TRAVEL fetch frame — the corpus as of ingest batch `maxBatch`
    * ([[StoreCompaction.committedViewAsOf]] semantics: reproducible
    * snapshot, loud retention boundary) minus every id erased SINCE
    * (retroactive forget: no snapshot resurrects erased text). */
  def viewAsOf(spark: SparkSession, storePath: String,
               maxBatch: Long): DataFrame =
    KeyedStoreCore.viewAsOf(spark, storePath, "doc_id", "text", maxBatch)

  /** OPTIMIZE: one consolidated doc_id-sorted generation, pending
    * deletes applied physically. */
  def compact(spark: SparkSession, storePath: String): StoreCompaction.Watershed =
    KeyedStoreCore.compact(spark, storePath, "doc_id")
}
