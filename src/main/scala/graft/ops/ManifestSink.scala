package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-committed batch publishing — atomic table swaps without a
  * table format, the pattern object-store pipelines use when Delta/
  * Iceberg are not on the classpath (and the reason those formats
  * exist): a directory listing is NOT a unit of atomicity, so "write
  * parquet into the served directory" exposes readers to partial
  * writes, orphan files from failed jobs, and half-swapped reloads.
  *
  * Protocol (the [[graft.streaming.Snapshots]] rename discipline
  * applied to table data):
  *
  *   - each publish writes data UNDER A FRESH `data-v<N>/` prefix,
  *     then commits by renaming a `.tmp` manifest to `manifest-<N>`
  *     listing exactly the files written — the manifest's appearance
  *     is the commit point, and it is created only after the data is
  *     fully on disk;
  *   - readers resolve the HIGHEST committed manifest and read exactly
  *     its file list: in-flight publishes, failed-job orphans and
  *     uncommitted data directories are invisible, and a reader that
  *     resolved version N−1 keeps working through a publish (snapshot
  *     isolation by immutability).
  *
  * Scale: the manifest is O(files) metadata; publish adds one rename
  * to a normal parquet write; reads pass an explicit file list to the
  * scan, which also skips the directory listing entirely. */
object ManifestSink {

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def committed(spark: SparkSession, dir: String): Seq[(Long, Path)] = {
    val fs = fsOf(spark, dir)
    val st = fs.globStatus(new Path(dir, "manifest-*"))
    if (st == null) Seq.empty
    else st.toSeq
      .filterNot(_.getPath.getName.endsWith(".tmp"))
      .map(s => s.getPath.getName.stripPrefix("manifest-").toLong -> s.getPath)
      .sortBy(_._1)
  }

  /** Committed versions in ascending order — the explicit-version
    * surface the streaming exactly-once consumers resolve against. */
  def committedVersions(spark: SparkSession, dir: String): Seq[Long] =
    committed(spark, dir).map(_._1)

  /** Publishes `df` at an EXPLICIT version — the streaming exactly-once
    * surface: with version = the micro-batch id, a replayed batch
    * rewrites ITS OWN version instead of minting a new one. A leftover
    * UNCOMMITTED `data-v<version>` directory (a torn prior attempt:
    * data written, manifest never renamed — invisible to every reader)
    * is deleted and rewritten; publishing over an already-COMMITTED
    * version is refused — the caller decides replay-skip semantics via
    * [[committedVersions]] first. */
  def publishAt(df: DataFrame, dir: String, version: Long): Unit = {
    require(!committedVersions(df.sparkSession, dir).contains(version),
      s"version $version is already committed under $dir — a replayed " +
        "batch should skip, not republish")
    val fs = fsOf(df.sparkSession, dir)
    val dataDir = s"$dir/data-v$version"
    if (fs.exists(new Path(dataDir)))
      fs.delete(new Path(dataDir), true)
    df.write.mode("errorifexists").parquet(dataDir)
    val files = fs.listStatus(new Path(dataDir)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).sorted
    require(files.nonEmpty, s"manifest publish of an empty write: $dataDir")
    val tmp = new Path(dir, s"manifest-$version.tmp")
    val out = fs.create(tmp, true)
    try out.write(files.map(n => s"data-v$version/$n").mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dir, s"manifest-$version")
    if (!fs.rename(tmp, dst) || !fs.exists(dst))
      throw new java.io.IOException(s"manifest commit $tmp -> $dst failed")
  }

  private def manifestFiles(spark: SparkSession, dir: String,
                            version: Option[Long]): Seq[String] = {
    val all = committed(spark, dir)
    val (_, p) = version.fold(all.lastOption)(v => all.find(_._1 == v))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no committed manifest${version.fold("")(v => s" at version $v")} under $dir"))
    val fs = fsOf(spark, dir)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      .filter(_.nonEmpty).map(rel => s"$dir/$rel")
    finally in.close()
  }

  /** Reads the latest committed version — exactly its manifest's files. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(manifestFiles(spark, dir, None): _*)

  /** Reads a SPECIFIC committed version — the time-travel/replay read. */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    spark.read.parquet(manifestFiles(spark, dir, Some(version)): _*)
}
