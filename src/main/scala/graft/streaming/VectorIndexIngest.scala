package graft.streaming

import graft.llm.{IvfPqQuantizer, Similarity}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Index-maintaining streaming VECTOR ingest — the ANN counterpart of
  * [[IndexedIngest]]'s band-index amortization, closing the loop the
  * batch path opened with `Similarity.writeIvfPqIndex`: instead of
  * re-encoding the whole embedding corpus on every query
  * (`ivfPqSearch`'s one-shot shape), the stream encodes each arriving
  * micro-batch ONCE against a fixed, pre-trained [[IvfPqQuantizer]] and
  * appends the integer rows (vec_id, cell_id, codes) to a persisted
  * index. Queries probe the stored rows (`Similarity.ivfPqProbe`) —
  * bitwise the results of `ivfPqSearch` over the same corpus and
  * quantizer (spec-pinned), because the index holds only integers and
  * the distance tables are rebuilt from the same quantizer literals.
  *
  * The quantizer is FROZEN at stream start — the production contract
  * (FAISS/ScaNN alike): retraining re-encodes the corpus, so it is a
  * batch rebuild (`writeIvfPqIndex`), never a streaming mutation.
  *
  * Layout: partitioned by (cell_id, ingest_batch). Cell first — a probe
  * of nprobe cells partition-prunes to nprobe directory subtrees no
  * matter how many batches accumulated (the IVF inverted lists as
  * directories); batch second, inside each cell, so replay stays a
  * partition overwrite. Exactly-once: encode is a pure projection of
  * the batch against quantizer literals — deterministic — so a replayed
  * batch produces exactly its original (cell, batch) partitions and
  * dynamic-partition overwrite rewrites them byte-identically; no
  * manifest or listing decision is needed (the IngestDedup discipline,
  * without even the cross-batch read dependency: batches encode
  * independently). Empty batches write nothing.
  *
  * Long-lived stores compact with [[StoreCompaction]] (clusterCols =
  * cell_id — one consolidated file per IVF cell instead of one per
  * (cell, batch)): probes are bitwise unchanged because the stored rows
  * are integers and the partition schema survives, and a replayed batch
  * at or below the compaction watershed SKIPS here — its rows are
  * already durable inside the generation, and rewriting its covered
  * partition would double them. */
object VectorIndexIngest {

  def ingestBatch(batch: DataFrame, indexPath: String, q: IvfPqQuantizer,
                  batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // publish the frozen model beside the index on first contact — the
    // store becomes SELF-DESCRIBING: a probe session loads [[quantizer]]
    // instead of retraining from raw embeddings it may not even have.
    // Write-once + MISMATCH GUARD: the model is frozen per store, so a
    // caller arriving with a DIFFERENT quantizer (a retrained pipeline
    // restarted against an old path, two stores pointed at one
    // directory) would encode new batches against one model while
    // probes decode every code with the published other — silently
    // wrong rankings. Fail loudly instead (two K-row reads, once per
    // batch — cheap beside the batch's own write jobs).
    if (!Similarity.hasIvfPqQuantizer(spark, quantizerPath(indexPath)))
      Similarity.writeIvfPqQuantizer(spark, q, quantizerPath(indexPath))
    else if (!Similarity.quantizersMatch(q,
        Similarity.readIvfPqQuantizer(spark, quantizerPath(indexPath))))
      throw new IllegalStateException(
        s"quantizer mismatch at $indexPath: the caller's model differs " +
          "bitwise from the store's published _quantizer — the quantizer " +
          "is FROZEN per store (retraining means a batch rebuild via " +
          "writeIvfPqIndex to a new path, never a streaming mutation)")
    if (StoreCompaction.replayCovered(spark, batchId, indexPath)) return
    StoreCompaction.writeBatch(Similarity.ivfPqIndexRows(batch, q),
      indexPath, batchId, Seq("cell_id"))
  }

  /** @param vecStream streaming (vec_id, embedding) rows. */
  def start(vecStream: DataFrame, indexPath: String, q: IvfPqQuantizer,
            checkpoint: String): StreamingQuery =
    vecStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), indexPath, q, batchId)
      }
      .start()

  /** The served index: every committed (vec_id, cell_id, codes) row,
    * exactly once across batches AND compacted generations, MINUS any
    * logically-deleted vectors ([[StoreCompaction.liveView]] — the
    * deletion-vector subtraction is a broadcast anti-join, physical
    * removal happens at the next compaction; pre-compaction with no
    * deletes it is the raw store). Partition columns return as BIGINT
    * (`Similarity.readIvfPqIndex`'s normalization); `ivfPqProbe`'s cell
    * pre-filter prunes the cell directories before any file is read. */
  def index(spark: SparkSession, indexPath: String): DataFrame =
    StoreCompaction.liveView(spark, indexPath, "vec_id")
      .select(col("vec_id"), col("cell_id").cast("long").as("cell_id"),
        col("codes"))

  /** Materializes a time-travel snapshot of the WHOLE ANN index store —
    * [[StoreCompaction.exportAsOf]] extended to the model-carrying
    * layout: this store is cell-partitioned code rows PLUS the frozen
    * `_quantizer` artifact, and a clone holding only the codes is
    * unreadable by construction (ADC distance tables rebuild from the
    * quantizer; a probe session against the clone would have nothing to
    * decode with — the exact composite-store gap [[LexIngest.exportAsOf]]
    * closed for postings + stats_agg, here for codes + model).
    *
    * Semantics: the code rows are their [[StoreCompaction.liveViewAsOf]]
    * view (committed batches ≤ maxBatch, deletion vectors subtracting
    * RETROACTIVELY — no snapshot resurrects erased vectors), rewritten
    * CELL-partitioned as the clone's single generation so `ivfPqProbe`'s
    * nprobe pre-filter keeps directory-level pruning; the quantizer is
    * copied bitwise (doubles round-trip parquet exactly), so probing the
    * clone through ITS OWN stored model is bitwise the as-of probe of
    * the source, however far the source compacts, vacuums, or forgets
    * afterwards.
    *
    * Publish is atomic at the ROOT: the codes land via the single-store
    * export into `<dest>.staging` (itself staging-renamed), the model
    * into `<dest>.staging/_quantizer` (write-once staging-renamed), then
    * ONE directory rename makes the composite clone visible — a torn
    * export leaves only staging, never a codes-without-model store. The
    * single-store refusals (existing destination, EMPTY snapshot) apply
    * unchanged; a source without a published quantizer is refused — it
    * is not a servable index store. */
  def exportAsOf(spark: SparkSession, indexPath: String, maxBatch: Long,
                 dest: String): Unit = {
    require(Similarity.hasIvfPqQuantizer(spark, quantizerPath(indexPath)),
      s"$indexPath has no published _quantizer — not a servable index " +
        "store; export refused (a codes-only clone cannot answer probes)")
    val fs = StoreCompaction.fsOf(spark, dest)
    val destPath = new org.apache.hadoop.fs.Path(dest)
    require(!fs.exists(destPath),
      s"export destination $dest already exists — snapshots are " +
        "immutable, pick a fresh path")
    val staging = dest + ".staging"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true) // torn prior attempt
    StoreCompaction.exportAsOf(spark, indexPath, "vec_id", maxBatch,
      staging, clusterCols = Seq("cell_id"))
    Similarity.writeIvfPqQuantizer(spark,
      Similarity.readIvfPqQuantizer(spark, quantizerPath(indexPath)),
      quantizerPath(staging))
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), destPath) ||
        !fs.exists(destPath))
      throw new java.io.IOException(s"export publish $staging -> $dest failed")
  }

  /** Where the store's model artifact lives: `_`-prefixed so partition
    * discovery of the index rows never sees it (the _compaction/_deletes
    * convention). */
  private def quantizerPath(indexPath: String): String =
    s"$indexPath/_quantizer"

  /** The store's OWN quantizer, read back from beside the index — the
    * served probe path needs no raw-corpus access and no retraining:
    * `ivfPqProbe(index(...), quantizer(...), …)` is bitwise the probe
    * through the trained in-memory model (doubles round-trip parquet
    * exactly; spec-pinned read∘write identity). */
  def quantizer(spark: SparkSession, indexPath: String): IvfPqQuantizer =
    Similarity.readIvfPqQuantizer(spark, quantizerPath(indexPath))
}
