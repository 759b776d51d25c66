package graft.streaming

import graft.ops.{ManifestSink, ScdMerge}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SCD2 dimension maintenance — the CDC-consumer composition
  * of [[graft.ops.ScdMerge]] (the MERGE semantics) and
  * [[graft.ops.ManifestSink]] (the commit protocol): each micro-batch
  * of change rows merges against the last committed history snapshot
  * and publishes the merged history as a NEW manifest version, stamped
  * with the batch id as both the SCD version (`valid_from`/`valid_to`)
  * and the manifest version. Readers always resolve a complete,
  * committed snapshot; a crash mid-publish leaves an uncommitted data
  * directory no reader can see.
  *
  * Exactly-once: the manifest version IS the batch id, so replay is
  * decided by a directory listing — a batch whose manifest committed is
  * SKIPPED (its effects are already durable), and a torn attempt (data
  * written, manifest never renamed) is deleted and rewritten by
  * `publishAt`. A replayed batch merges against the same base (the
  * latest version < its id — later versions cannot exist: streaming
  * replays only the last in-flight batch) over the same input, so the
  * rewritten snapshot is identical. Unlike the dynamic-partition
  * ingests (corpus facts accumulate per batch), SCD2 is a FULL-TABLE
  * rewrite per merge — dimensions are small relative to facts, which
  * is what makes the snapshot-per-version layout the honest shape; at
  * 100 TB facts the dimension history this maintains is still GBs.
  *
  * Empty batches publish nothing (no version burned, the IndexedIngest
  * convention).
  *
  * A CDC trigger must carry at most one change row per key:
  * [[graft.ops.ScdMerge.merge]] needs that (two rows for a key would fan
  * out through the full-outer join and corrupt the snapshot: duplicated
  * pass-through rows, two open rows), and a batch has no defensible
  * winner between them, so a multi-row key fails the batch loudly
  * instead of corrupting history forever. */
object ScdIngest {

  /** One change row per key, or a loud error: the precondition
    * [[graft.ops.ScdMerge.merge]] needs, enforced per micro-batch. The
    * per-key count rides a key-keyed window whose hashpartitioning(key)
    * is the SAME exchange the merge's full-outer sort-merge join needs
    * on the change side — no extra scan or shuffle per trigger (vs an
    * eager groupBy().collect() pre-check). assert_true is non-foldable
    * so the guard survives optimization; a duplicate key fails the batch
    * as a task error BEFORE the manifest commit, so the failed batch
    * publishes nothing. */
  private def oneRowPerKey(changes: DataFrame, key: String,
                           batchId: Long): DataFrame = {
    val wk = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    changes
      .withColumn("_kc", count(lit(1)).over(wk))
      .filter(assert_true(col("_kc") === 1L,
        concat(
          lit(s"ScdIngest batch $batchId carries multiple change rows for key "),
          col(key).cast("string"),
          lit(" — an SCD2 merge has no well-defined outcome for " +
            "conflicting rows; dedupe upstream"))).isNull)
      .drop("_kc")
  }

  def ingestBatch(changes: DataFrame, historyDir: String, key: String,
                  attrs: Seq[String], batchId: Long): Unit = {
    val spark = changes.sparkSession
    if (changes.isEmpty) return
    val versions = ManifestSink.committedVersions(spark, historyDir)
    if (versions.contains(batchId)) return // completed replay: already durable
    val history = versions.filter(_ < batchId).lastOption match {
      case Some(v) => ManifestSink.readAt(spark, historyDir, v)
      case None => // first batch: empty history with the output schema
        changes.select((col(key) +: attrs.map(col)): _*).limit(0)
          .withColumn("valid_from", lit(0L))
          .withColumn("valid_to", lit(null).cast("long"))
          .withColumn("is_current", lit(true))
    }
    ManifestSink.publishAt(
      ScdMerge.merge(history, oneRowPerKey(changes, key, batchId), key, attrs, batchId),
      historyDir, batchId)
  }

  def start(changeStream: DataFrame, historyDir: String, key: String,
            attrs: Seq[String], checkpoint: String): StreamingQuery =
    changeStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), historyDir, key, attrs, batchId)
      }
      .start()

  /** The served dimension: the latest committed history snapshot. */
  def currentHistory(spark: SparkSession, historyDir: String): DataFrame =
    ManifestSink.read(spark, historyDir)

  /** Streaming point-in-time enrichment — the read side live: each
    * micro-batch of fact rows joins the attributes that were current at
    * its own version stamp, against the LATEST COMMITTED history
    * snapshot at trigger time (the manifest protocol guarantees a
    * complete snapshot — never a half-written merge). This is the
    * stream-static join pattern with a versioned static side: facts
    * stamped with past versions resolve their historical attributes,
    * not today's — the property a plain dimension join cannot give.
    * Enriched batches land in per-batch partitions with dynamic
    * overwrite (the IngestDedup exactly-once discipline). */
  def enrichStream(factStream: DataFrame, historyDir: String, outPath: String,
                   key: String, timeCol: String, attrs: Seq[String],
                   checkpoint: String): StreamingQuery =
    factStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          ScdMerge.pointInTime(
              currentHistory(batch.sparkSession, historyDir),
              batch.toDF(), key, timeCol, attrs)
            .withColumn("enrich_batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("enrich_batch")
            .parquet(outPath)
        }
      }
      .start()
}
