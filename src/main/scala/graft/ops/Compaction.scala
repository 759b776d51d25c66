package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-files compaction — the operational chore every long-lived
  * 100 TB table needs: streaming ingest and per-batch overwrites leave
  * directories full of KB-scale files, and scan cost at scale is
  * dominated by file-open overhead long before bytes. Compaction here
  * is split the way OPTIMIZE implementations split it:
  *
  *   - [[plan]] is a PURE function over (file, bytes) metadata —
  *     deterministic first-fit-in-name-order bin packing into groups
  *     of at most `targetBytes` (a file larger than the target stays a
  *     singleton group; it is already "compact"). Planning over
  *     metadata is O(files) driver work, exactly like the footer reads
  *     of a layout audit — the data never moves to decide.
  *   - [[compact]] executes a plan: each multi-file group is read and
  *     rewritten as ONE file into `outDir`; singleton groups are
  *     rewritten as-is (one job per group, each group's cost bounded
  *     by `targetBytes`). Name-order packing preserves any sorted
  *     write layout ACROSS groups (files written by
  *     `ZOrder.writeClustered` stay key-contiguous per output file).
  *
  * Not transactional: `outDir` is a fresh directory, the swap is the
  * caller's rename — the same contract as every overwrite-based sink
  * here. */
object Compaction {

  /** Deterministic first-fit packing of `files` (name-ordered) into
    * groups whose byte sum is at most `targetBytes`. Every input file
    * appears in exactly one group; group order follows name order. */
  def plan(files: Seq[(String, Long)], targetBytes: Long): Seq[Seq[String]] = {
    require(targetBytes >= 1, s"need targetBytes >= 1, got $targetBytes")
    val sorted = files.sortBy(_._1)
    val groups = Seq.newBuilder[Seq[String]]
    var cur = Vector.empty[String]
    var curBytes = 0L
    for ((name, bytes) <- sorted) {
      if (cur.nonEmpty && curBytes + bytes > targetBytes) {
        groups += cur; cur = Vector.empty; curBytes = 0L
      }
      cur = cur :+ name; curBytes += bytes
    }
    if (cur.nonEmpty) groups += cur
    groups.result()
  }

  /** Lists `dir`'s parquet files as (name, bytes), name-sorted. */
  def listParquet(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen))
      .sortBy(_._1)
  }

  /** Executes a [[plan]]: each group is read (as absolute paths under
    * `dir`) and written as one file under `outDir/g<i>`. Returns the
    * number of output files (= groups). */
  def compact(spark: SparkSession, dir: String, groups: Seq[Seq[String]],
              outDir: String): Int = {
    groups.zipWithIndex.foreach { case (g, i) =>
      spark.read.parquet(g.map(n => s"$dir/$n"): _*)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/g$i")
    }
    groups.size
  }

  /** Z-order-aware compaction — `OPTIMIZE … ZORDER BY` end-to-end.
    * [[compact]]'s name-order packing preserves locality of a layout
    * that HAS locality across file names, but a Z-clustered table
    * fragmented by many small ingest batches is the opposite case:
    * every batch's files span the whole key range, so name-order
    * packing interleaves ranges and the compacted row groups' min/max
    * envelopes widen until data skipping dies. This variant rewrites
    * the whole directory through `ZOrder.writeClustered` — one range
    * exchange on the Morton key + a sorted write, the Delta OPTIMIZE
    * ZORDER shape — so pruning on EVERY clustered dimension survives
    * compaction (ZOrderSkipSpec pins it on both dims). Output file
    * count follows the same byte budget as [[plan]]:
    * ceil(totalBytes / targetBytes). Same non-transactional contract
    * as [[compact]]: `outDir` is fresh, the swap is the caller's
    * rename. Returns the planned file count. */
  def compactClustered(spark: SparkSession, dir: String, dims: Seq[String],
                       outDir: String, targetBytes: Long,
                       rowGroupBytes: Long = 128L << 20): Int = {
    require(targetBytes >= 1, s"need targetBytes >= 1, got $targetBytes")
    val files = listParquet(spark, dir)
    require(files.nonEmpty, s"compactClustered: no parquet files under $dir")
    val total = files.map(_._2).sum
    val numFiles = math.max(1L, (total + targetBytes - 1L) / targetBytes).toInt
    ZOrder.writeClustered(spark.read.parquet(dir),
      dims.map(org.apache.spark.sql.functions.col), outDir, numFiles,
      rowGroupBytes)
    numFiles
  }
}
