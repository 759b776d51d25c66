package graft.kmeans

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** S3–S7: the reference's text output formats.
  *
  * Doubles are rendered with `java.lang.Double.toString` (what the
  * reference's string concatenation does, e.g. reference `Task1.java:97`),
  * so byte-level parity with the committed `part-r-00000` golden files is
  * achievable. Centroid-level sinks (K rows) are driver-side writes — the
  * idiomatic Spark form of "the job's output is the new centroid file";
  * row-level sinks stay distributed.
  */
object Sinks {

  def fmt(d: Double): String = java.lang.Double.toString(d)

  /** S3: iteration/centroid TSV line `clusterId\tx,y,z` (reference `Task1.java:97`). */
  def centroidLines(centers: Seq[(Int, Point)]): Seq[String] =
    centers.map { case (id, c) => s"$id\t${fmt(c.x)},${fmt(c.y)},${fmt(c.z)}" }

  /** S3: write the centroid TSV like a reference `part-r-00000`. */
  def writeCentroidsTsv(path: String, centers: Seq[(Int, Point)]): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, centroidLines(centers).map(_ + "\n").mkString)
  }

  /** S6: Task5A's final-centers stdout lines (reference `Task5A.java:212-218`)
    * plus the convergence flag the README documents (C5). The printed index
    * is POSITIONAL over the centroid list (reference iterates file lines),
    * not the stored cluster id — they differ once a cluster empties and ids
    * become non-contiguous. */
  def finalCentersLines(result: KMeansRunner.Result): Seq[String] =
    "Final cluster centers:" +:
      result.centers.zipWithIndex.map { case ((_, c), i) =>
        s"Cluster $i center: ${fmt(c.x)},${fmt(c.y)},${fmt(c.z)}"
      } :+
      s"Convergence reached: ${result.converged}"

  /** S5: Task5B's final-assignment lines (reference `Task5B.java:213-245`):
    * `Point: x,y,z -> Assigned to Cluster j (Centroid: cx,cy,cz)`.
    * Distributed (the reference loops over the whole dataset on the driver).
    */
  def finalAssignmentLines(points: DataFrame, centers: Seq[Point]): Dataset[String] = {
    val assigned = Assign.assign(points, centers)
    val centroidX = array(centers.map(c => lit(c.x)): _*)(col("cluster"))
    val centroidY = array(centers.map(c => lit(c.y)): _*)(col("cluster"))
    val centroidZ = array(centers.map(c => lit(c.z)): _*)(col("cluster"))
    import assigned.sparkSession.implicits._
    assigned.select(concat(
      lit("Point: "), col("x"), lit(","), col("y"), lit(","), col("z"),
      lit(" -> Assigned to Cluster "), col("cluster"),
      lit(" (Centroid: "), centroidX, lit(","), centroidY, lit(","), centroidZ, lit(")")
    )).as[String]
  }

  /** S4 parity sink: writes the clustered-data lines as a single
    * `part-r-00000` in the reference's layout (driver-side; reference
    * scale only: every line is collected). */
  def writeClusteredDataFile(path: String, assigned: DataFrame): Unit = {
    val lines = clusteredDataLines(assigned).collect()
      .map(r => s"${r.getInt(0)}\t${r.getString(1)}")
    val p = Paths.get(path, "part-r-00000")
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, lines.map(_ + "\n").mkString)
  }

  /** S4/A3: clustered-data rows `(cluster, line)` where line is
    * `cx,cy,cz; p1x,p1y,p1z; p2x,...` (reference
    * `SilhouetteEvaluation2.java:105-131`). Member order inside a group is
    * partition order; pin the input to one partition for byte parity with
    * the single-reducer reference.
    */
  def clusteredDataLines(assigned: DataFrame): DataFrame = {
    // members render as the raw input line when available (see
    // Points.readCsvWithRaw), else re-rendered from the parsed doubles
    val pointStr =
      if (assigned.columns.contains("_raw")) col("_raw")
      else concat_ws(",", col("x"), col("y"), col("z"))
    assigned
      .withColumn("_p", pointStr)
      .groupBy(col("cluster"))
      .agg(
        (sum("x") / count(lit(1))).as("cx"),
        (sum("y") / count(lit(1))).as("cy"),
        (sum("z") / count(lit(1))).as("cz"),
        collect_list(col("_p")).as("members"))
      .select(col("cluster"),
        concat(
          concat_ws(",", col("cx"), col("cy"), col("cz")),
          lit("; "),
          array_join(col("members"), "; ")).as("line"))
      .orderBy(col("cluster"))
  }
}
