package graft.streaming

import graft.analytics.DataQuality
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming admission through the declarative constraint suite — the
  * per-micro-batch twin of the batch suite (`q_dq_checks` /
  * `DataQuality.suite`): every arriving batch is evaluated
  * against the suite's per-row rules; a PASSING batch lands in the
  * accepted corpus, a FAILING batch is quarantined WHOLE (its rows plus
  * a per-check verdict log), never silently dropped and never mixed
  * into accepted data. Batch-level (not row-level) admission is the
  * deliberate policy: a batch violating its contract is evidence of an
  * upstream regression — the fix is at the producer, and admitting the
  * "clean" rows of a corrupted batch destroys the audit trail.
  *
  * Exactly-once on replay without a transactional sink: accepted rows,
  * quarantined rows, and the verdict log all land in partitions keyed
  * by the micro-batch id with dynamic partition overwrite — a replayed
  * batch overwrites its own partitions, and because the rules are
  * deterministic per-row predicates the replay reaches the same
  * verdict, so a batch can never end up in both stores.
  *
  * Scale shape: per batch, the rules fold into ONE conditional-sum
  * aggregate over one pass of the batch (the `DataQuality.
  * ruleViolations` shape) — no state store, no corpus read; the gate's
  * cost tracks the batch, making it safe in front of any volume. */
object QualityGate {

  /** Live corpus card — the streaming twin of `TextAnalysis.datasheet`'s
    * ADDITIVE integers: per source, running doc count, token volume, and
    * Gopher-pass count, maintained by a native streaming aggregate (the
    * per-row flags are stateless Column compute — `gopherRules` runs
    * unchanged on a stream — so state is exactly ONE row per source,
    * bounded by the source universe, no watermark needed). At every
    * trigger the complete-mode table equals the batch datasheet's
    * (n_docs, n_tokens, n_gopher_pass) over everything ingested so far
    * (spec-pinned). The datasheet's non-additive columns (corpus-wide
    * dup fractions, language shares) stay batch-side by design: they
    * need a text-partition window over the WHOLE corpus, which is the
    * publish-time pass, not the monitor. */
  def corpusCard(docsStream: DataFrame,
                 minWords: Int, maxWords: Int,
                 minAvgLen: Double, maxAvgLen: Double,
                 minStopHits: Int, minAlphaFrac: Double): DataFrame =
    graft.llm.TextAnalysis.gopherRules(docsStream, minWords, maxWords,
        minAvgLen, maxAvgLen, minStopHits, minAlphaFrac,
        carry = Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("passes").cast("long")).as("n_gopher_pass"))

  /** Drift-since-last-publish: the live card against a COMMITTED release
    * card (`TextAnalysis.datasheet`'s additive integers for the published
    * corpus) — per source, both sides' volumes and the deltas, all exact
    * BIGINTs. Pure frame logic shared by the per-trigger monitor
    * ([[corpusCardDiffStream]]) and any batch review; sources present on
    * only one side coalesce to 0 through the full-outer stitch, exactly
    * `DataQuality.corpusCardDiff`'s card columns (spec-pinned equal on a
    * derived release pair). The id-level churn bands (added/removed/
    * changed) stay publish-time by design — they need the doc-id diff
    * join, not a per-source running sum. */
  def cardDiff(liveCard: DataFrame, releaseCard: DataFrame): DataFrame = {
    val z = lit(0L)
    val rel = releaseCard.select(col("source"),
      col("n_docs").as("docs_release"), col("n_tokens").as("tokens_release"),
      col("n_gopher_pass").as("pass_release"))
    val live = liveCard.select(col("source"),
      col("n_docs").as("docs_live"), col("n_tokens").as("tokens_live"),
      col("n_gopher_pass").as("pass_live"))
    rel.join(live, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("docs_release"), z).as("docs_release"),
        coalesce(col("docs_live"), z).as("docs_live"),
        (coalesce(col("docs_live"), z) - coalesce(col("docs_release"), z))
          .as("docs_delta"),
        coalesce(col("tokens_release"), z).as("tokens_release"),
        coalesce(col("tokens_live"), z).as("tokens_live"),
        (coalesce(col("tokens_live"), z) - coalesce(col("tokens_release"), z))
          .as("token_delta"),
        coalesce(col("pass_release"), z).as("pass_release"),
        coalesce(col("pass_live"), z).as("pass_live"),
        (coalesce(col("pass_live"), z) - coalesce(col("pass_release"), z))
          .as("pass_delta"))
  }

  /** Per-trigger drift monitor: [[corpusCard]]'s complete-mode running
    * aggregate, stitched against the committed release card and landed
    * as one `monitor_batch=` partition per trigger (a replay overwrites
    * its own partition — but note the aggregate is CUMULATIVE, so unlike
    * the fact ingests a replayed old trigger rewrites the card as of
    * NOW; the monitor's contract is "latest partition = current drift",
    * not a time-travel log). Streaming cannot join AFTER an aggregate
    * inside one plan, so the stitch runs in foreachBatch over the
    * trigger's sources-sized card. The stitch is a FULL OUTER join, the
    * one join type with no broadcast variant in Spark 4.1 (a hint would
    * be silently ignored) — the per-trigger sort-merge exchange is over
    * two sources-sized frames, a few rows each, so it costs the job
    * floor, not a shuffle of data. */
  def corpusCardDiffStream(docsStream: DataFrame, releaseCard: DataFrame,
                           outPath: String, checkpoint: String,
                           minWords: Int, maxWords: Int,
                           minAvgLen: Double, maxAvgLen: Double,
                           minStopHits: Int, minAlphaFrac: Double): StreamingQuery =
    corpusCard(docsStream, minWords, maxWords, minAvgLen, maxAvgLen,
        minStopHits, minAlphaFrac)
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (card: Dataset[Row], batchId: Long) =>
        cardDiff(card.toDF(), releaseCard)
          .withColumn("monitor_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("monitor_batch")
          .parquet(outPath)
      }
      .start()

  /** Processes one micro-batch; factored out so the spec can pin
    * replay idempotence by calling it directly. */
  def gateBatch(batch: DataFrame, rules: Seq[(String, Column)],
                acceptedPath: String, quarantinePath: String,
                verdictPath: String, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val suite = DataQuality.suite(Seq(DataQuality.ruleViolations(batch, rules)))
      .withColumn("gate_batch", lit(batchId))
    val verdicts = suite.collect() // checks-sized by construction
    suite.sparkSession.createDataFrame(
      suite.sparkSession.sparkContext.parallelize(verdicts.toSeq, 1), suite.schema)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("gate_batch").parquet(verdictPath)
    val passed = verdicts.forall(_.getBoolean(2))
    val dest = if (passed) acceptedPath else quarantinePath
    batch.withColumn("gate_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("gate_batch").parquet(dest)
  }

  /** Starts the gated ingestion stream over any streaming DataFrame
    * whose columns the rule predicates reference. */
  def start(stream: DataFrame, rules: Seq[(String, Column)],
            acceptedPath: String, quarantinePath: String,
            verdictPath: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        gateBatch(batch.toDF(), rules, acceptedPath, quarantinePath,
          verdictPath, batchId)
      }
      .start()
}
