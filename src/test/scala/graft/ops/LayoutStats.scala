package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Parquet row-group statistics audit — the measurement half of the
  * Z-order story, kept beside the spec that uses it (ZOrderSkipSpec
  * measures the `ZOrder.key` layout with it). `ZOrder.key`/`keyN` only pay off if writing sorted by
  * the key gives row groups tight min/max bounds on EVERY interleaved
  * dimension, so a range predicate on any one of them skips row groups
  * at scan time. This reads the footers back and counts, per layout,
  * how many row groups a conjunctive range predicate would actually
  * touch — layout quality becomes a number a spec can pin instead of a
  * design argument.
  *
  * Footer reads are metadata-only (one footer per file, no data pages)
  * and run on the driver: an audit is O(files) like any OPTIMIZE/
  * planner metadata pass. At cluster scale the file list would be
  * distributed (mapPartitions over file paths) — the per-file logic
  * below is already self-contained — but a driver loop is the honest
  * shape at the sizes where a human reads the report.
  *
  * Only INT-backed columns (the layout-key dimensions) are audited;
  * min/max surface as Long. Row groups whose statistics are absent for
  * a requested column are counted as UNPRUNABLE (must-read) — exactly
  * how a scanner treats a missing-stats group.
  */
object LayoutStats {

  /** One row group's (file, index, rowCount, per-column min/max). */
  final case class RowGroupStats(
      file: String, rowGroup: Int, rows: Long,
      ranges: Map[String, (Long, Long)])

  /** Footer stats for every row group under `dir` (non-recursive; a
    * flat parquet directory as written by `DataFrameWriter.parquet`). */
  def rowGroupStats(spark: SparkSession, dir: String, cols: Seq[String]): Seq[RowGroupStats] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val want = cols.toSet
    files.flatMap { f =>
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try rdr.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map { case (b, i) =>
        val ranges = b.getColumns.asScala.toSeq.flatMap { cc =>
          val name = cc.getPath.toDotString
          val st = cc.getStatistics
          if (!want.contains(name) || st == null || !st.hasNonNullValue) None
          else (st.genericGetMin, st.genericGetMax) match {
            case (mn: Number, mx: Number) => Some(name -> (mn.longValue, mx.longValue))
            case _ => None
          }
        }.toMap
        RowGroupStats(f.getPath.getName, i, b.getRowCount, ranges)
      }
      finally rdr.close()
    }
  }

  /** Row groups a scan of `pred` (conjunctive closed ranges, col ->
    * (lo, hi)) must read: a group survives when every predicate range
    * intersects the group's [min, max] — or when the group has no
    * statistics for that column (missing stats never license a skip). */
  def survivors(groups: Seq[RowGroupStats], pred: Map[String, (Long, Long)]): Seq[RowGroupStats] =
    groups.filter { g =>
      pred.forall { case (c, (lo, hi)) =>
        g.ranges.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    }
}
