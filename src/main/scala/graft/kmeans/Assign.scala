package graft.kmeans

import graft.functions.NearestCentroid
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** P2 (Euclidean distance) + P3 (nearest-centroid argmin).
  *
  * The reference computes, per point, a linear scan over K broadcast
  * centroids tracking the min distance (reference `Task1.java:36-54`).
  * Spark-native form: one codegen'd [[NearestCentroid]] expression, its
  * Euclidean form — `sqrt` of the left-to-right sum of `pow(_, 2)` per
  * axis, the reference formula bit for bit (reference `Task1.java:42`) —
  * scanned with the reference's strict `<`, so ties go to the lowest
  * index (reference `Task1.java:47-50`). The centroids ride in as one
  * array literal, the paper's broadcast side input: the generated code
  * is the same for every centroid set, so an iterated loop compiles once.
  * No UDF, no shuffle; scales linearly with input.
  */
object Assign {

  /** P3: index of the nearest centroid (0-based), ties to lowest index. */
  def nearestCentroid(centroids: Seq[Point], x: Column, y: Column, z: Column): Column =
    NearestCentroid.euclidCol(array(x, y, z),
      NearestCentroid.table(centroids.map(c => Array(c.x, c.y, c.z))))

  /** Adds an integer `cluster` column to a DataFrame with x,y,z columns. */
  def assign(points: DataFrame, centroids: Seq[Point]): DataFrame =
    points.withColumn("cluster", nearestCentroid(centroids, col("x"), col("y"), col("z")))
}
