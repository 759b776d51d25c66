package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{element_at, typedLit}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

import scala.reflect.runtime.universe.TypeTag

/** Index (0-based) of the centroid-table row nearest to a point — the
  * one argmin behind every nearest-centroid assignment in the engine
  * (`kmeans.Assign`, `contract.PointSpace`, `llm.VectorKMeans` and the
  * IVF/PQ encoders in `llm.Similarity`).
  *
  * The centroids are DATA, not code: the table is an ordinary
  * `array<array<double>>` child, a [[NearestCentroid.table]] literal in
  * every caller. Spark passes an array literal to generated code by
  * reference (`references[i]`), while scalar double literals are written
  * into the code text (`x - 4.4D`), so with the table as one array
  * literal the generated code depends on neither the centroid values nor
  * K: a Lloyd loop compiles once per run instead of once per iteration,
  * and K has no 64 KB method cliff. `Literal` equality is deep, so the
  * table takes part in `equals`/`hashCode`/`sameResult` and two plans
  * with different centroids never share a cached frame.
  *
  * Two distance forms, one tie rule:
  *   - `euclidean`: sqrt(Σ StrictMath.pow(p_i − c_i, 2)), summed left
  *     to right — the reference formula (`Task1.java:42`), bit for bit
  *     what Spark's `sqrt(pow(x - cx, 2) + …)` column computes;
  *   - otherwise L2², [[VectorOps.l2sq]]'s multiplication-only
  *     accumulation (for 3-D points bitwise `PointSpace.distSq`).
  * The argmin keeps the FIRST minimum (the reference's strict `<` scan)
  * under `Double.compare`, so NaN ranks last as in Spark's `array_min`
  * and struct ordering. The interpreted path calls the same kernel as
  * the generated code. */
case class NearestCentroid(left: Expression, right: Expression, euclidean: Boolean)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<double> point and an array<array<double>> " +
          s"table, got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  override def nullSafeEval(p: Any, t: Any): Any =
    NearestCentroid.argmin(p.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData], euclidean)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (p, t) => s"graft.functions.NearestCentroid.argmin($p, $t, $euclidean)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroid =
    copy(left = l, right = r)
}

object NearestCentroid {

  def argmin(p: ArrayData, table: ArrayData, euclidean: Boolean): Int = {
    var best = 0
    var bestD = 0.0
    var k = 0
    while (k < table.numElements()) {
      val c = table.getArray(k)
      val d = if (euclidean) euclid(p, c) else VectorOps.l2sq(p, c)
      if (k == 0 || java.lang.Double.compare(d, bestD) < 0) { best = k; bestD = d }
      k += 1
    }
    best
  }

  private def euclid(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += java.lang.StrictMath.pow(a.getDouble(i) - b.getDouble(i), 2.0); i += 1 }
    java.lang.Math.sqrt(acc)
  }

  /** The centroid table as one array literal: row i is centroid i. */
  def table(cents: Seq[Array[Double]]): Column = {
    require(cents.nonEmpty, "no centroids")
    typedLit(cents.map(_.toSeq))
  }

  def euclidCol(point: Column, table: Column): Column = col(point, table, euclidean = true)
  def l2sqCol(point: Column, table: Column): Column = col(point, table, euclidean = false)

  /** The id of the L2²-nearest of `(id, centroid)` pairs, ties to the
    * lowest id: the pairs are sorted by id, so the first minimum is the
    * lowest id, and its position maps back through an id array literal. */
  def nearestId[K: Ordering: TypeTag](point: Column, cells: Seq[(K, Array[Double])]): Column = {
    val byId = cells.sortBy(_._1)
    element_at(typedLit(byId.map(_._1)), l2sqCol(point, table(byId.map(_._2))) + 1)
  }

  private def col(point: Column, table: Column, euclidean: Boolean): Column =
    ColumnBridge.column(NearestCentroid(
      ColumnBridge.expression(point), ColumnBridge.expression(table), euclidean))
}
