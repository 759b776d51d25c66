package graft.contract

import graft.functions.NearestCentroid
import graft.kmeans.Point
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract mapping of the reference's 3-D point space onto the
  * testdata `lineitem` table: x=l_quantity, y=l_extendedprice,
  * z=l_discount (FIXTURES.md). Every helper exists in BOTH a
  * Spark-Column form and a generated-ANSI-SQL form (for the DuckDB
  * oracle), written so the two engines produce bit-identical doubles:
  *
  *   - squared distances via explicit multiplication, never pow()
  *     (x*x is exact IEEE; Math.pow is only 1-ulp-accurate)
  *   - identical centroid literals on both sides
  *   - identical left-to-right addition order
  *   - argmin ties break to the lowest cluster id on both sides
  *   - iterated centroids are rounded to 4 decimals each iteration, so
  *     both engines re-assign against identical values instead of
  *     engine-order-dependent float sums
  */
object PointSpace {

  /** Fixed contract seeds (K=5) spanning the lineitem value ranges. */
  val seeds: Seq[(Int, Point)] = Seq(
    0 -> Point(10, 20000, 0.02),
    1 -> Point(25, 40000, 0.05),
    2 -> Point(40, 60000, 0.08),
    3 -> Point(15, 80000, 0.03),
    4 -> Point(45, 100000, 0.06))

  // ---------- Spark side ----------

  def points(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("x"),
        col("l_extendedprice").as("y"),
        col("l_discount").as("z"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("z").isNotNull)

  /** Squared Euclidean distance to a fixed centroid (exact arithmetic). */
  def distSq(c: Point): Column =
    (col("x") - c.x) * (col("x") - c.x) +
      (col("y") - c.y) * (col("y") - c.y) +
      (col("z") - c.z) * (col("z") - c.z)

  /** argmin cluster id over (id, centroid) pairs; ties -> lowest id.
    * The kernel's L2² form is `distSq`'s exact arithmetic — same
    * semantics as the SQL CASE chain / correlated ORDER BY d2, cluster
    * LIMIT 1. */
  def clusterOf(cents: Seq[(Int, Point)]): Column =
    NearestCentroid.nearestId(array(col("x"), col("y"), col("z")),
      cents.map { case (id, c) => id -> Array(c.x, c.y, c.z) })

  def assign(pts: DataFrame, cents: Seq[(Int, Point)]): DataFrame =
    pts.withColumn("cluster", clusterOf(cents))

  /** One re-centering step with 4-decimal rounding (contract semantics —
    * keeps subsequent assignments bit-identical across engines). */
  def roundedStep(pts: DataFrame, cents: Seq[(Int, Point)]): Seq[(Int, Point)] =
    assign(pts, cents)
      .groupBy(col("cluster"))
      .agg(round(avg("x"), 4).as("cx"), round(avg("y"), 4).as("cy"), round(avg("z"), 4).as("cz"))
      .collect()
      .map(r => r.getInt(0) -> Point(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq

  // ---------- SQL side (DuckDB oracle) ----------

  /** Double literal for SQL; Double.toString emits plain or E-notation,
    * both valid DuckDB doubles, parsed to the identical IEEE value. */
  def sqlLit(d: Double): String = s"CAST(${java.lang.Double.toString(d)} AS DOUBLE)"

  val pointsSql: String =
    "SELECT l_orderkey, l_linenumber, l_quantity AS x, l_extendedprice AS y, l_discount AS z " +
      "FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL"

  /** Squared distance of point columns (x,y,z) to literal centroid c. */
  def distSqSql(c: Point, px: String = "x", py: String = "y", pz: String = "z"): String =
    s"($px - ${sqlLit(c.x)})*($px - ${sqlLit(c.x)}) + " +
      s"($py - ${sqlLit(c.y)})*($py - ${sqlLit(c.y)}) + " +
      s"($pz - ${sqlLit(c.z)})*($pz - ${sqlLit(c.z)})"

  /** Emits `d AS (SELECT *, <d2_id> ... FROM <src>)` + a CASE-chain argmin
    * over the d2 aliases (ties -> lowest id, mirroring strict '<' scan). */
  def caseAssignSql(cents: Seq[(Int, Point)], srcCte: String): (String, String) = {
    val d2Cols = cents.map { case (id, c) => s"${distSqSql(c)} AS d2_$id" }.mkString(", ")
    val dCte = s"SELECT *, $d2Cols FROM $srcCte"
    val ids = cents.map(_._1)
    val cases = ids.dropRight(1).map { id =>
      val others = ids.filter(_ != id).map(o => s"d2_$id <= d2_$o").mkString(" AND ")
      s"WHEN $others THEN $id"
    }.mkString(" ")
    val caseExpr = s"CASE $cases ELSE ${ids.last} END"
    (dCte, caseExpr)
  }

  /** Correlated-subquery argmin against a centroid CTE with columns
    * (cluster, cx, cy, cz) — used when centroids are computed, not
    * literal. ORDER BY d2, cluster LIMIT 1 = lowest-id tie-break. */
  def correlatedAssignSql(centCte: String, ptsCte: String): String =
    s"SELECT p.*, (SELECT c.cluster FROM $centCte c ORDER BY " +
      "(p.x - c.cx)*(p.x - c.cx) + (p.y - c.cy)*(p.y - c.cy) + (p.z - c.cz)*(p.z - c.cz), " +
      s"c.cluster LIMIT 1) AS cluster FROM $ptsCte p"

  /** VALUES CTE body for a literal centroid set. */
  def seedsValuesSql(cents: Seq[(Int, Point)], cols: (String, String, String, String) = ("cluster", "cx", "cy", "cz")): String = {
    val rows = cents.map { case (id, c) =>
      s"($id, ${sqlLit(c.x)}, ${sqlLit(c.y)}, ${sqlLit(c.z)})"
    }.mkString(", ")
    s"(${cols._1}, ${cols._2}, ${cols._3}, ${cols._4}) AS (VALUES $rows)"
  }
}
