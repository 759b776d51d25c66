package graft.llm

import graft.functions.NearestCentroid
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** General-dimension Lloyd's K-Means over an `array<double>` vector
  * column — the engine's 3-D K-Means core (assign -> re-center ->
  * driver collect of K rows) generalized to embedding space, used to FIT
  * coarse cells (`q_cell_medoids`), by the `q_vkmeans_step` and
  * `q_vkmeans_iterate2` contract lines, and by the streaming twin
  * `VectorKMeansStream`, all through [[step]].
  *
  * Spark-first shape, mirroring graft.kmeans:
  *   - assignment: the codegen'd [[NearestCentroid]] argmin over the K
  *     centroids as one table literal (no UDF, no shuffle, no broadcast
  *     round-trip; the generated code is independent of the centroids)
  *   - re-centering: posexplode to (cell, dim, value) rows, ONE
  *     HashAggregate keyed (cell, dim) with map-side partial (sum,count),
  *     K*dim rows collected to the driver per iteration
  *   - convergence: driver-side Σ-displacement over K centroids
  *
  * At 100 TB the per-iteration cost is one scan + one K*dim-row shuffle,
  * identical in structure to the 3-D runner.
  */
object VectorKMeans {

  /** Fixed grid for the re-centering mean: each element is rounded onto
    * a 1e-6 grid and scaled to BIGINT *before* the cross-partition sum,
    * so the per-(cell, dim) sum is exact integer arithmetic —
    * associative, hence invariant to partial-merge order — and the only
    * float operation is ONE division at the end. A double `avg` is
    * summation-order-dependent: Spark's partial-sum merge order varies
    * with partitioning/scheduling while the DuckDB oracle sums in its
    * own order, so a mean landing within an ulp of a rounding boundary
    * flips run to run (the round-6 q_vkmeans_step hash regression).
    * The grid loses < 5e-7 per element — invisible at the contract's
    * 4-decimal output rounding — and buys bitwise determinism across
    * partitionings AND engines. Overflow headroom: unit-norm-ish
    * elements scale to ~1e6, so a single cell would need ~9e12 members
    * to overflow the Long sum — not reachable even at 100 TB. */
  val GridScale = 1e6

  /** Driver-side twin of Spark's `round(v * GridScale)` (Round uses the
    * shortest-decimal BigDecimal of the double, HALF_UP — identical to
    * Scala's BigDecimal(d) which is Double.toString-based). */
  def gridOf(v: Double): Long =
    BigDecimal(v * GridScale).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Cell id (0-based position in `cents`) of the nearest centroid by
    * L2², ties to the lowest cell id: the [[NearestCentroid]] kernel over
    * the centroids as one table literal. */
  def cellOf(vec: Column, cents: Seq[Array[Double]]): Column =
    NearestCentroid.l2sqCol(vec, NearestCentroid.table(cents))

  /** One assign+re-center step; returns the new centroid per cell (cells
    * that received no vectors keep their previous centroid, so K never
    * shrinks — the quantizer contract differs from the reference
    * K-Means, where absent clusters vanish). The mean is computed on the
    * [[GridScale]] fixed grid — exact BIGINT sums, one division — so the
    * result is order-invariant across partitionings and engines. */
  def step(emb: DataFrame, vecCol: String, cents: Seq[Array[Double]]): Seq[Array[Double]] = {
    val dim = cents.head.length
    val means = emb
      .select(cellOf(col(vecCol), cents).as("cell"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(round(col("v") * lit(GridScale)).cast("long")).as("s"), count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cell, rows) =>
        val arr = new Array[Double](dim)
        rows.foreach(r => arr(r.getInt(1)) = r.getLong(2).toDouble / (GridScale * r.getLong(3)))
        cell -> arr
      }
    cents.indices.map(i => means.getOrElse(i, cents(i)))
  }
}
