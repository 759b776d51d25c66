package graft.eval

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** A4–A6 + J2 + S7: the reference's (non-standard, cluster-level)
  * Silhouette evaluation, computed by one pair-sum kernel in one Spark job.
  *
  * Reference semantics (replicated exactly, quirks included):
  *   - avgIntra (A4): Σ dist over ORDERED pairs i≠j within a cluster,
  *     divided by n·(n−1)                 (reference `SilhouetteEvaluation.java:98-111`)
  *   - avgInter (A5): Σ dist(p,q) for p in the cluster, q in ANY other
  *     cluster, divided by n·(#other non-empty clusters) — note the
  *     divisor counts CLUSTERS, not points  (reference `SilhouetteEvaluation.java:113-132`)
  *   - score (A6): (avgInter − avgIntra) / max(avgIntra, avgInter)
  *                                        (reference `SilhouetteEvaluation.java:134-136`)
  *   - guards (v2/v3 only): clusters with n ≤ 1 are skipped
  *     (reference `SilhouetteEvaluation2.java:201-204`); a score is emitted only
  *     when avgIntra > 0 or avgInter > 0 (reference `SilhouetteEvaluation2.java:243-249`).
  *     v1 (`SilhouetteEvaluation.java`) has neither guard.
  *
  * Spark-first formulation: the reference gathers every point into one
  * reducer / the driver and runs O(n²) nested loops there. Every caller
  * evaluates a few thousand points (the reference's 5,000; `sil_lineitem`
  * ~600; the bench's 1% sample), and at that size the cost is the number
  * of Spark jobs, not the arithmetic: on 5,000 points the whole call —
  * scan, assignment and 25 M distance evaluations — is one task of
  * 0.15–0.18 CPU-s. The plan is therefore one lazy global aggregate plus
  * one kernel:
  *   - `sort_array(collect_list(struct(cluster, x, y, z)))` gathers the
  *     points into one row. The sort makes every sum a function of the
  *     point multiset alone, never of the partition layout.
  *   - `pairSums`, exploded, does the nested loop over primitive arrays
  *     and emits one row per cluster: (cluster, n, intra_sum, inter_sum,
  *     neighbors). Self-pairs add dist(i,i) = 0, so the i≠j exclusion is
  *     free; `neighbors` is the number of other non-empty clusters.
  *   - the averages, the score, the guards and the ordering stay Spark
  *     columns, so null, NaN and ANSI behaviour is Spark's.
  * The same sums as distributed self-joins (intra on `=`, inter on `<>`
  * with a `countDistinct`, joined back to the sizes) cost 18 jobs per
  * call on 5,000 points; this plan runs one.
  *
  * Scale note: the exact pair space is inherently O(n²) — this is the
  * reference's semantics, not an implementation choice — and the kernel
  * holds every point in one task. Beyond ~10⁵ points run it on a
  * deterministic sample (`sampled`): Euclidean distance sums do not
  * decompose algebraically (unlike squared distances), so subsampling is
  * the honest scale path and preserves the metric within sampling error.
  */
object Silhouette {

  /** One kernel output row per cluster. Public on purpose: generated
    * code reads its fields, and Janino cannot compile calls to the
    * accessors of a `private` nested case class (SilhouetteSpec runs the
    * kernel with code generation forced on). */
  final case class ClusterSums(cluster: Int, n: Long, intra_sum: Double,
                               inter_sum: Double, neighbors: Long)

  /** The pair-sum kernel over points sorted by cluster; clusters are the
    * runs of equal ids. Per point i it sums dist(i, j) over all j, split
    * by same or other cluster, then adds the per-point sums into the
    * cluster totals in array order. Squares by multiplication (never pow)
    * per the cross-engine float discipline — the DuckDB oracle mirrors
    * `(a-b)*(a-b)` literally. Ids and coordinates must be non-null, as
    * `Points.readCsv` + `Assign.assign` guarantee; a null fails the job. */
  private def pairSums(pts: Seq[Row]): Seq[ClusterSums] = {
    val n = pts.size
    val ids = new Array[Int](n)
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val zs = new Array[Double](n)
    val group = new Array[Int](n)
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < n) {
      val r = pts(i)
      ids(i) = r.getInt(0)
      xs(i) = r.getDouble(1); ys(i) = r.getDouble(2); zs(i) = r.getDouble(3)
      if (i == 0 || ids(i) != ids(i - 1)) starts += i
      group(i) = starts.size - 1
      i += 1
    }
    val intra = new Array[Double](starts.size)
    val inter = new Array[Double](starts.size)
    i = 0
    while (i < n) {
      var same = 0.0
      var other = 0.0
      var j = 0
      while (j < n) {
        val dx = xs(i) - xs(j)
        val dy = ys(i) - ys(j)
        val dz = zs(i) - zs(j)
        val d = math.sqrt(dx * dx + dy * dy + dz * dz)
        if (group(j) == group(i)) same += d else other += d
        j += 1
      }
      intra(group(i)) += same
      inter(group(i)) += other
      i += 1
    }
    starts.indices.map { g =>
      val end = if (g + 1 < starts.size) starts(g + 1) else n
      ClusterSums(ids(starts(g)), (end - starts(g)).toLong, intra(g), inter(g), starts.size - 1L)
    }
  }

  private val pairSumsUdf = udf(pairSums _)

  /** Computes per-cluster (cluster, n, avg_intra, avg_inter, silhouette)
    * from an assigned DataFrame with double columns x, y, z and the int
    * `cluster` column of `Assign.assign`.
    *
    * @param guards if true, apply the v2/v3 guards (drop n≤1 clusters and
    *               zero-distance scores); if false, v1 semantics (no guards,
    *               score may be NaN when both averages are 0).
    */
  def metrics(assigned: DataFrame, guards: Boolean = true): DataFrame = {
    val sums = assigned
      .agg(sort_array(collect_list(struct(col("cluster"), col("x"), col("y"), col("z")))).as("pts"))
      .select(explode(pairSumsUdf(col("pts"))).as("s"))
      .select(col("s.*"))

    val scored = sums
      .withColumn("avg_intra",
        when(col("n") > 1, col("intra_sum") / (col("n") * (col("n") - 1)))
          .otherwise(lit(0.0)))
      .withColumn("avg_inter",
        when(col("neighbors") > 0,
          col("inter_sum") / (col("n") * col("neighbors")))
          .otherwise(lit(0.0)))
      .withColumn("silhouette",
        (col("avg_inter") - col("avg_intra")) /
          greatest(col("avg_intra"), col("avg_inter")))
      .select(col("cluster"), col("n"), col("avg_intra"), col("avg_inter"), col("silhouette"))

    val guarded =
      if (guards)
        scored.filter(col("n") > 1)
          .filter(col("avg_intra") > 0 || col("avg_inter") > 0)
      else scored
    guarded.orderBy(col("cluster"))
  }

  /** Scale path: same metric over a deterministic Bernoulli sample. The
    * divisors adapt to the sampled counts, so the averages remain unbiased
    * estimates of the full-data metric. */
  def sampled(assigned: DataFrame, fraction: Double, seed: Long = 42L,
              guards: Boolean = true): DataFrame =
    metrics(assigned.sample(withReplacement = false, fraction, seed), guards)

  /** S7: reference metric text lines
    * `clusterId\tAvg Intra: <d>, Avg Inter: <d>, Silhouette Score: <d>`
    * (reference `SilhouetteEvaluation.java:138-139`), Double.toString rendering.
    */
  def metricLines(metrics: Seq[(Int, Double, Double, Double)]): Seq[String] =
    metrics.map { case (id, intra, inter, s) =>
      s"$id\tAvg Intra: $intra, Avg Inter: $inter, Silhouette Score: $s"
    }

  /** Collects `metrics` output to (cluster, avgIntra, avgInter, silhouette). */
  def collectMetrics(assigned: DataFrame, guards: Boolean = true): Seq[(Int, Double, Double, Double)] =
    metrics(assigned, guards).collect().toSeq.map { r =>
      (r.getInt(0), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }
}
