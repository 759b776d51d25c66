package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OPTIMIZE for ingest-built stores — the read-side lifecycle the
  * streaming ingests ([[IndexedIngest]], [[SpanIngest]],
  * [[VectorIndexIngest]]) leave open: each micro-batch appends an
  * `ingest_batch=<id>` partition forever, so after 10⁴ triggers every
  * store (or every cell of a cell-partitioned vector index) is 10⁴
  * small files, and scan cost at scale is file-open overhead long
  * before bytes. This pass rewrites all committed rows into ONE
  * consolidated generation while keeping probes and incremental cleans
  * BITWISE identical (spec-pinned) — the Delta/Iceberg OPTIMIZE +
  * checkpoint story without a table format on the classpath.
  *
  * Layout contract: a store partitioned by (clusterCols…, ingest_batch)
  * where real batch ids are ≥ 0. Compacted generation `g` lives in the
  * RESERVED partition `ingest_batch = −g` — the partition schema never
  * changes, so cell-level directory pruning (`ivfPqProbe`'s
  * PartitionFilters) survives compaction unchanged, and the ingests'
  * `ingest_batch < batchId` prior-view filters stay correct by
  * construction (−g < any live batch id).
  *
  * Commit protocol (the [[graft.ops.ManifestSink]] rename discipline):
  * generation data writes first (dynamic overwrite of its own −g
  * partitions — a torn prior attempt at the same generation rewrites
  * cleanly), then a marker `_compaction/gen-<g>` whose CONTENT is the
  * covered high-water batch id `W` renames into place as the commit
  * point. [[committedView]] resolves the HIGHEST committed generation
  * and reads exactly {partition −g} ∪ {partitions b > W}: an
  * uncommitted generation, a torn compaction, and covered-but-not-yet-
  * vacuumed batch partitions are all invisible — no reader can ever
  * double-count. `_`-prefixed paths are invisible to Spark's partition
  * discovery, so markers never pollute the table.
  *
  * REPLAY WATERSHED — the interaction with the ingests' exactly-once
  * story: a compacted generation supersedes replay below its high-water
  * batch. A replayed batch b ≤ W must SKIP (its effects are already
  * durable inside the generation; a dynamic-partition overwrite would
  * resurrect its covered partition and double its rows) — every ingest
  * asks [[replayCovered]] first, exactly like ScdIngest skips
  * already-committed manifest versions. A replayed batch b > W sees
  * {−g} ∪ {W < b' < b} through the view — precisely its original prior
  * corpus — and rewrites its own partitions byte-identically, so the
  * ingests' replay contract is preserved above the watershed and
  * subsumed below it (the Delta/Iceberg checkpoint semantics). The
  * rest of the per-batch protocol lives here too, so every ingest runs
  * the same steps: [[writeBatch]] (the dynamic-overwrite batch write)
  * and [[priorIndex]] (the two-store ingests' torn-first-batch rule).
  *
  * [[vacuum]] is pure GC: correctness comes from the marker filter
  * alone, so covered partitions and superseded generations can be
  * deleted any time after commit. Single writer per store (the standing
  * contract of every ingest here); readers are safe throughout. */
object StoreCompaction {

  /** A committed compaction: generation `g` (its rows live in partition
    * `ingest_batch = −generation`) covering every real batch id ≤
    * `coveredThrough`. */
  case class Watershed(generation: Long, coveredThrough: Long)

  private[streaming] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def markerDir(path: String) = new Path(path, "_compaction")

  /** Committed (generation, coveredThrough) pairs, ascending. */
  private def markers(spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val fs = fsOf(spark, path)
    val st = fs.globStatus(new Path(markerDir(path), "gen-*"))
    if (st == null) Seq.empty
    else st.toSeq
      .filterNot(_.getPath.getName.endsWith(".tmp"))
      .flatMap { s =>
        val g = scala.util.Try(
          s.getPath.getName.stripPrefix("gen-").toLong).toOption
        g.map { gen =>
          val in = fs.open(s.getPath)
          val covered =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
            finally in.close()
          (gen, covered)
        }
      }
      .sortBy(_._1)
  }

  /** The latest committed compaction, if any. */
  def watershed(spark: SparkSession, path: String): Option[Watershed] =
    markers(spark, path).lastOption.map { case (g, w) => Watershed(g, w) }

  /** Highest batch id whose effects are durable inside a committed
    * generation — the ingests' replay-skip bound (−1 when the store has
    * never compacted, so `batchId <= coveredThrough` is never true). */
  def coveredThrough(spark: SparkSession, path: String): Long =
    watershed(spark, path).map(_.coveredThrough).getOrElse(-1L)

  /** Every committed row of the store, exactly once: the latest
    * generation's partition plus all batch partitions above its
    * watershed (or the raw store when never compacted). The filter is
    * on the `ingest_batch` PARTITION column, so covered directories
    * prune at the listing — a compacted 10⁴-trigger store reads one
    * consolidated partition, not 10⁴ small files. */
  def committedView(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    watershed(spark, path) match {
      case None =>
        // a TORN first compaction (generation data written, marker rename
        // never happened) leaves an uncommitted negative partition — the
        // filter keeps it invisible, exactly like ManifestSink's readers
        // never resolving an uncommitted data directory
        raw.filter(col("ingest_batch") >= 0L)
      case Some(Watershed(g, w)) =>
        raw.filter(col("ingest_batch") === lit(-g) || col("ingest_batch") > lit(w))
    }
  }

  /** TIME-TRAVEL read — the store as a reader saw it right after batch
    * `maxBatch` committed (the Delta/Iceberg `VERSION AS OF` semantics
    * on the ingest-batch axis): the reproducible-training-snapshot
    * primitive — "train on the corpus as of batch B" re-reads the SAME
    * rows on any later day, however many batches landed since.
    *
    * Resolution: the latest committed generation covers batches ≤ W
    * byte-identically to reading them raw (the compaction invariant),
    * so as-of B ≥ W is {−g} ∪ {W < b ≤ B}; an uncompacted store is just
    * {0 ≤ b ≤ B}. RETENTION BOUNDARY, checked loudly: below the latest
    * watershed the covered partitions may be vacuumed, so `maxBatch < W`
    * throws instead of silently returning a partial corpus — exactly
    * Delta's "version no longer reconstructible after VACUUM" rule.
    * The filter stays on the partition column, so an as-of read prunes
    * directories like [[committedView]]. */
  def committedViewAsOf(spark: SparkSession, path: String,
                        maxBatch: Long): DataFrame = {
    require(maxBatch >= 0L, s"need maxBatch >= 0, got $maxBatch")
    val raw = spark.read.parquet(path)
    watershed(spark, path) match {
      case None =>
        raw.filter(col("ingest_batch") >= 0L &&
          col("ingest_batch") <= lit(maxBatch))
      case Some(Watershed(g, w)) =>
        require(maxBatch >= w,
          s"as-of batch $maxBatch is below the compaction watershed $w " +
            s"of $path: the covered partitions may be vacuumed, so the " +
            "snapshot is no longer reconstructible (retention) — keep " +
            "generations or vacuum later if older snapshots must serve")
        raw.filter(col("ingest_batch") === lit(-g) ||
          (col("ingest_batch") > lit(w) &&
            col("ingest_batch") <= lit(maxBatch)))
    }
  }

  /** [[committedViewAsOf]] minus the deletion vectors — and the
    * subtraction is deliberately RETROACTIVE: forget is
    * right-to-be-forgotten, so no historical snapshot may resurrect an
    * erased row (erasure would be meaningless if "as of last month"
    * still served the content). A time-travel read therefore reproduces
    * the historical CORPUS membership minus everything since erased. */
  def liveViewAsOf(spark: SparkSession, path: String, idCol: String,
                   maxBatch: Long): DataFrame =
    committedViewAsOf(spark, path, maxBatch).join(
      org.apache.spark.sql.functions.broadcast(deletedIds(spark, path)),
      col(idCol) === col("_del_id"), "left_anti")

  /** Materializes a time-travel snapshot as a NEW standalone store —
    * the reproducible-training-corpus EXPORT: "freeze the corpus as of
    * batch B" becomes a directory that keeps serving the same bits even
    * after the source store compacts past B and vacuums the covered
    * partitions (the retention boundary [[committedViewAsOf]] enforces
    * loudly). The snapshot rows are [[liveViewAsOf]] — deletion vectors
    * subtract retroactively, so an export can never resurrect erased
    * content — rewritten as the clone's single `ingest_batch = 0`
    * generation: the clone IS a valid store (committedView/liveView/
    * compact/markDeleted all work on it; its own forget lifecycle
    * starts empty).
    *
    * Publish is atomic (the writeIvfPqQuantizer discipline): data lands
    * under `<dest>.staging`, then ONE directory rename makes the clone
    * visible — a torn export leaves only staging, never a half-readable
    * store. Refuses an existing destination (snapshots are immutable;
    * overwriting one silently would defeat the reproducibility point).
    *
    * Scale shape: one partition-pruned read of the snapshot's
    * directories + one write shuffled by `clusterCols` (or
    * `targetFiles` round-robin) — the [[compact]] write shape. */
  def exportAsOf(spark: SparkSession, path: String, idCol: String,
                 maxBatch: Long, dest: String,
                 clusterCols: Seq[String] = Nil,
                 targetFiles: Int = 1,
                 sortCols: Seq[String] = Nil): Unit = {
    require(targetFiles >= 1, s"need targetFiles >= 1, got $targetFiles")
    val fs = fsOf(spark, dest)
    val destPath = new Path(dest)
    require(!fs.exists(destPath),
      s"export destination $dest already exists — snapshots are " +
        "immutable, pick a fresh path")
    val staging = new Path(dest + ".staging")
    fs.delete(staging, true) // torn prior attempt
    val rows = liveViewAsOf(spark, path, idCol, maxBatch)
      .withColumn("ingest_batch", lit(0L))
    // an empty as-of view (every row deletion-vectored since the
    // snapshot batch) would publish a clone holding only _SUCCESS; a
    // later committedView on it then dies in parquet schema inference
    // instead of returning an empty frame. Refuse LOUDLY at export
    // time — the one-partition isEmpty probe costs a bounded job, and
    // an export is an explicit audit-grade call, never a probe path.
    require(!rows.isEmpty,
      s"as-of batch $maxBatch of $path is empty after deletion-vector " +
        "subtraction — an exported snapshot must hold at least one row")
    val packed =
      if (clusterCols.nonEmpty) rows.repartition(clusterCols.map(col): _*)
      else rows.repartition(targetFiles)
    val sized =
      if (sortCols.isEmpty) packed
      else packed.sortWithinPartitions(sortCols.map(col): _*)
    sized.write.mode("overwrite")
      .partitionBy((clusterCols :+ "ingest_batch"): _*)
      .parquet(staging.toString)
    if (!fs.rename(staging, destPath) || !fs.exists(destPath))
      throw new java.io.IOException(s"export publish $staging -> $dest failed")
  }

  /** One-row operational summary of an ingest-built store — the
    * `DESCRIBE DETAIL` surface an operator reads before trusting a
    * store or scheduling maintenance: commit state (generation,
    * watershed), partition pressure (total `ingest_batch` directories,
    * live batches above the watershed), forget backlog (distinct
    * pending deletion-vector ids — REQUESTED ids, present in the store
    * or not: the deletes file is a set of demands, not an inner join),
    * and row counts (committed = exactly-once view; live = committed
    * minus the deletion vectors — `n_committed − n_live` is the rows a compact
    * would physically drop). Counting costs two aggregates over the
    * committed view by design — this is an explicit audit call, never
    * on a probe path. */
  def describe(spark: SparkSession, path: String, idCol: String): DataFrame = {
    val w = watershed(spark, path)
    val dirs = batchDirs(spark, path).map(_._2).distinct
    val wCov = w.map(_.coveredThrough).getOrElse(-1L)
    val nPending = deletedIds(spark, path).count()
    val nCommitted = committedView(spark, path).count()
    val nLive =
      if (nPending == 0L) nCommitted else liveView(spark, path, idCol).count()
    import spark.implicits._
    Seq((w.map(_.generation).getOrElse(0L), wCov,
      dirs.size.toLong, dirs.count(b => b >= 0L && b > wCov).toLong,
      nPending, nCommitted, nLive))
      .toDF("generation", "covered_through", "n_batch_parts",
        "n_live_batches", "n_pending_delete_ids", "n_committed", "n_live")
  }

  // ---------- deletion vectors (right-to-be-forgotten on indexes) ----------

  /** Marks rows as LOGICALLY deleted — the Delta deletion-vector story
    * for ingest-built stores: ids append as tiny one-column parquet
    * files under `<path>/_deletes/` (underscore → invisible to partition
    * discovery), [[liveView]] subtracts them immediately, and the next
    * [[compact]] applies them PHYSICALLY (the rewritten generation
    * excludes the rows) and clears the applied files. Idempotent by
    * construction: deletes are a set union, re-marking an id (or an id
    * that never existed) changes nothing. This is how `Dedup
    * .deleteCascade`'s forget verdicts reach the PERSISTED index family
    * — removing a document from the corpus is not forgetting it while
    * its codes/postings still serve probes. */
  def markDeleted(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    if (ids.isEmpty) return
    import spark.implicits._
    ids.toDF("_del_id").coalesce(1).write.mode("append")
      .parquet(s"$path/_deletes")
  }

  /** The un-applied delete files — one directory listing, no Spark job. */
  private def pendingDeleteFiles(spark: SparkSession, path: String): Seq[Path] =
    Option(fsOf(spark, path).globStatus(new Path(s"$path/_deletes", "*.parquet")))
      .map(_.toSeq.map(_.getPath)).getOrElse(Seq.empty)

  /** Whether any logically-deleted ids are pending (un-applied delete
    * files exist) — one directory listing, no Spark job. Probes use this
    * to skip the subtraction entirely on the common no-deletes path. */
  def hasPendingDeletes(spark: SparkSession, path: String): Boolean =
    pendingDeleteFiles(spark, path).nonEmpty

  /** The distinct logically-deleted ids (empty frame when none), read
    * with the one-column schema [[markDeleted]] writes, so building the
    * frame runs no schema-inference job. Reads
    * the listed files, not the `_deletes` directory: Spark warns on every
    * read of a path whose leaf name starts with `_`. Past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` files it
    * reads the directory after all, since Spark lists that many root
    * paths with an extra Spark job but lists one directory on the driver. */
  def deletedIds(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = pendingDeleteFiles(spark, path)
    val maxRoots =
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    val roots =
      if (files.size <= maxRoots) files.map(_.toString) else Seq(s"$path/_deletes")
    if (files.nonEmpty) spark.read.schema("_del_id BIGINT").parquet(roots: _*).distinct()
    else Seq.empty[Long].toDF("_del_id")
  }

  /** [[committedView]] minus the logically-deleted rows — the SERVING
    * view probes read ([[VectorIndexIngest.index]], [[LexIngest.probe]]).
    * The delete set is broadcast (forget requests are tiny relative to
    * the store), so the subtraction adds no shuffle. Ingest PRIOR-view
    * reads stay on [[committedView]] deliberately: what a store's
    * history owned for dedup purposes is a corpus-level policy
    * (`Dedup.deleteCascade`), not a probe-serving one. */
  def liveView(spark: SparkSession, path: String, idCol: String): DataFrame =
    committedView(spark, path).join(
      org.apache.spark.sql.functions.broadcast(deletedIds(spark, path)),
      col(idCol) === col("_del_id"), "left_anti")

  /** `ingest_batch=` partition directories at either layout depth
    * (top-level for (ingest_batch) stores, one below for
    * (cluster, ingest_batch) stores), with their parsed batch values.
    * Every "does this store hold data yet" test asks this listing, never
    * whether the root exists: a forget request marked before the first
    * ingest leaves a root holding only `_deletes`, which parquet
    * discovery cannot infer a schema from. */
  private[streaming] def batchDirs(spark: SparkSession, path: String): Seq[(Path, Long)] = {
    val fs = fsOf(spark, path)
    def glob(pat: String): Seq[Path] =
      Option(fs.globStatus(new Path(path, pat))).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.isDirectory).map(_.getPath)
    (glob("ingest_batch=*") ++ glob("*/ingest_batch=*"))
      .flatMap(p => scala.util.Try(
        p.getName.stripPrefix("ingest_batch=").toLong).toOption.map(v => (p, v)))
  }

  // ---------- the per-batch protocol every ingest shares ----------

  /** Lands `rows` as batch `batchId` of the store: one dynamic-overwrite
    * write partitioned by (clusterCols…, ingest_batch), so a replayed
    * batch rewrites exactly its own partitions, byte-identically when
    * the rows are a deterministic function of the batch, and no other
    * partition is touched. Callers skip empty batches first — a
    * zero-row write would leave a file-less directory that later
    * parquet reads cannot infer a schema from. */
  private[streaming] def writeBatch(rows: DataFrame, path: String, batchId: Long,
                                    clusterCols: Seq[String] = Nil): Unit =
    rows.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy((clusterCols :+ "ingest_batch"): _*)
      .parquet(path)

  /** Whether batch `batchId` is at or below the watershed of any of the
    * stores it writes — its effects are then durable inside a committed
    * generation and the replay must skip (see the scaladoc above). Stores
    * that share a batch spine compact to the same watershed, so one
    * covered store is enough. */
  private[streaming] def replayCovered(spark: SparkSession, batchId: Long,
                                       paths: String*): Boolean =
    paths.exists(p => batchId <= coveredThrough(spark, p))

  /** The prior view of a corpus+index ingest's INDEX (its committed rows
    * of batches before `batchId`), or None while the corpus holds no
    * batch at all.
    *
    * Torn first batch: a crash between the corpus write and the index
    * write leaves corpus partitions and NO index directory — reading the
    * index would throw on every replay and wedge the stream. The `empty`
    * substitute is scoped to exactly that case: every corpus partition
    * is at or above `batchId` (only this batch's own torn write, which
    * the `< batchId` prior filter excludes anyway). A missing index
    * beside genuinely PRIOR corpus batches is loss (external deletion,
    * partial restore) and raises, naming `what` was lost and how to
    * `rebuild` it, rather than silently degrade cross-batch dedup to
    * within-batch only. */
  private[streaming] def priorIndex(spark: SparkSession, corpus: String, index: String,
                                    batchId: Long, empty: => DataFrame,
                                    what: String, rebuild: String): Option[DataFrame] = {
    val corpusBatches = batchDirs(spark, corpus).map(_._2)
    if (corpusBatches.isEmpty) None
    else if (batchDirs(spark, index).nonEmpty)
      Some(committedView(spark, index).filter(col("ingest_batch") < batchId))
    else {
      val prior = corpusBatches.filter(_ < batchId)
      require(prior.isEmpty,
        s"$what missing at $index but corpus has prior batches " +
          s"${prior.sorted.mkString(",")} — index was lost (not a " +
          s"torn-first-batch replay); rebuild it with $rebuild")
      Some(empty)
    }
  }

  /** Rewrites every committed row into generation (g+1): one shuffle
    * keyed by `clusterCols` (each cluster value lands in exactly one
    * task → exactly one file per consolidated partition), or
    * `targetFiles` round-robin files for an unclustered
    * store. `sortCols` sorts rows WITHIN each output file — the
    * `OPTIMIZE … ZORDER`-style re-clustering arm: a store whose probes
    * rely on row-group min/max skipping (the lexical postings' term
    * layout) fragments that locality across per-batch files, and the
    * consolidation pass is exactly where it is restored. Commits the
    * marker and returns the new watershed; does NOT delete superseded
    * partitions — run [[vacuum]] after, at the caller's retention
    * policy. */
  def compact(spark: SparkSession, path: String, clusterCols: Seq[String],
              targetFiles: Int = 1, sortCols: Seq[String] = Nil,
              deleteIdCol: Option[String] = None): Watershed = {
    require(targetFiles >= 1, s"need targetFiles >= 1, got $targetFiles")
    val prior = watershed(spark, path)
    val batches = batchDirs(spark, path).map(_._2).filter(_ >= 0L)
    val covered = (prior.map(_.coveredThrough).getOrElse(-1L) +: batches).max
    require(covered >= 0L, s"nothing to compact under $path")
    val gen = prior.map(_.generation).getOrElse(0L) + 1L
    // deletion vectors apply PHYSICALLY here: the rewritten generation
    // excludes logically-deleted rows, and the delete files read at this
    // point clear after the marker commits (everything current is covered
    // by this generation; under the single-writer contract no uncovered
    // batch can resurrect a cleared id — later replays are > watershed
    // and carry NEW content). A store with pending deletes refuses to
    // compact without its id column: silently carrying the rows forward
    // would turn "forgotten" into "still on disk".
    val fs0 = fsOf(spark, path)
    val deleteFiles = pendingDeleteFiles(spark, path)
    require(deleteFiles.isEmpty || deleteIdCol.isDefined,
      s"$path has ${deleteFiles.size} pending delete file(s) but " +
        "compact() was not given deleteIdCol — pass the id column so the " +
        "rewrite can apply them physically")
    // a TORN prior attempt at this generation may have left −gen
    // partitions this retry's data no longer produces: on a CLUSTERED
    // store the dynamic overwrite rewrites only (cluster, −g) partitions
    // PRESENT in the retry's rows, so if deletes marked between the torn
    // attempt and the retry emptied a whole cluster, its stale directory
    // would survive and become visible the moment the marker commits —
    // resurrecting forgotten rows. Sweep every uncommitted −gen directory
    // BEFORE the write (they are invisible to committedView, so readers
    // never see the gap); the write then recreates exactly this attempt's
    // partitions.
    batchDirs(spark, path).filter(_._2 == -gen)
      .foreach { case (p, _) => fs0.delete(p, true) }
    val base = deleteIdCol match {
      case Some(idc) if deleteFiles.nonEmpty => liveView(spark, path, idc)
      case _ => committedView(spark, path)
    }
    val packed =
      if (clusterCols.nonEmpty) base.repartition(clusterCols.map(col): _*)
      else base.repartition(targetFiles)
    val sized =
      if (sortCols.isEmpty) packed
      else packed.sortWithinPartitions(sortCols.map(col): _*)
    writeBatch(sized, path, -gen, clusterCols)
    // commit: marker content is the covered high-water batch id; the
    // rename is the commit point (ManifestSink discipline)
    val fs = fsOf(spark, path)
    fs.mkdirs(markerDir(path))
    val tmp = new Path(markerDir(path), s"gen-$gen.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$covered\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(markerDir(path), s"gen-$gen")
    if (!fs.rename(tmp, dst) || !fs.exists(dst))
      throw new java.io.IOException(s"compaction commit $tmp -> $dst failed")
    // clear exactly the delete files this rewrite applied — ones marked
    // AFTER the listing stay pending (liveView keeps them logical until
    // the next compaction). Torn-before-this-point is safe: the files
    // remain, liveView still subtracts, re-applying is a no-op.
    deleteFiles.foreach(fs0.delete(_, false))
    Watershed(gen, covered)
  }

  /** Deletes partitions the latest committed generation superseded:
    * real batches ≤ coveredThrough, generations < current, stale
    * markers, and cluster directories emptied by the sweep. Safe any
    * time after commit — [[committedView]] never resolves them. Returns
    * the number of partition directories removed; no-op (0) on a store
    * that has never compacted. */
  def vacuum(spark: SparkSession, path: String): Int =
    watershed(spark, path) match {
      case None => 0
      case Some(ws) =>
        val fs = fsOf(spark, path)
        val dead = dropSuperseded(spark, path, ws)
        // a (cluster, ingest_batch) store may leave emptied cluster dirs
        dead.map(_.getParent).distinct
          .filter(p => p != null && p.getName.contains("=") &&
            Option(fs.listStatus(p)).forall(_.isEmpty))
          .foreach(fs.delete(_, true))
        markers(spark, path).dropRight(1)
          .foreach { case (og, _) => fs.delete(new Path(markerDir(path), s"gen-$og"), false) }
        Option(fs.globStatus(new Path(markerDir(path), "gen-*.tmp")))
          .foreach(_.foreach(s => fs.delete(s.getPath, false)))
        dead.size
    }

  /** Deletes the `ingest_batch` partitions watershed `ws` superseded —
    * real batches ≤ its coveredThrough and generations other than its
    * own — and returns them. The dead-batch rule shared by [[vacuum]]
    * and `LexIngest.vacuum`'s `stats_agg` sweep. */
  private[streaming] def dropSuperseded(spark: SparkSession, path: String,
                                        ws: Watershed): Seq[Path] = {
    val fs = fsOf(spark, path)
    val dead = batchDirs(spark, path).collect {
      case (p, v) if (v >= 0L && v <= ws.coveredThrough) ||
        (v < 0L && v != -ws.generation) => p
    }
    dead.foreach(fs.delete(_, true))
    dead
  }
}
