package graft.eval

import graft.SparkSpec
import graft.kmeans.{Assign, Point}
import org.apache.spark.sql.DataFrame

class SilhouetteSpec extends SparkSpec {
  import spark.implicits._

  /** K=2, two points each, all on the x axis — every quantity exact:
    * cluster 0: (0,0,0), (2,0,0); cluster 1: (10,0,0), (12,0,0).
    * intra(0): ordered pairs (2+2)/(2*1) = 2; same for cluster 1.
    * inter(0): dists 10,12,8,10 -> 40/(2*1) = 20.
    * score(0): (20-2)/20 = 0.9.
    * inter(1): same sum 40 -> 20; score 0.9.
    */
  private def microAssigned = Seq(
    (0.0, 0.0, 0.0, 0), (2.0, 0.0, 0.0, 0),
    (10.0, 0.0, 0.0, 1), (12.0, 0.0, 0.0, 1)
  ).toDF("x", "y", "z", "cluster")

  test("metrics matches the hand-computed micro fixture") {
    val m = Silhouette.metrics(microAssigned).collect()
    m.map(_.getInt(0)).toSeq shouldBe Seq(0, 1)
    val c0 = m(0)
    c0.getLong(1) shouldBe 2L
    c0.getDouble(2) shouldBe 2.0   // avg intra
    c0.getDouble(3) shouldBe 20.0  // avg inter (quirk divisor n*(K-1))
    c0.getDouble(4) shouldBe 0.9   // silhouette
  }

  test("collectMetrics runs with code generation forced on") {
    // the kernel's output rows are read by generated code; a class that
    // fails to compile would otherwise only log and fall back
    codegenOnly { s =>
      val df = s.createDataFrame(Seq(
        (0.0, 0.0, 0.0, 0), (2.0, 0.0, 0.0, 0),
        (10.0, 0.0, 0.0, 1), (12.0, 0.0, 0.0, 1))).toDF("x", "y", "z", "cluster")
      Silhouette.collectMetrics(df) shouldBe Seq((0, 2.0, 20.0, 0.9), (1, 2.0, 20.0, 0.9))
    }
  }

  test("guard: single-point clusters are skipped (SilhouetteEvaluation2 semantics)") {
    val df = Seq(
      (0.0, 0.0, 0.0, 0), (2.0, 0.0, 0.0, 0),
      (99.0, 0.0, 0.0, 1) // singleton
    ).toDF("x", "y", "z", "cluster")
    val m = Silhouette.metrics(df, guards = true).collect()
    m.map(_.getInt(0)).toSeq shouldBe Seq(0)
  }

  test("guard: all-identical points (zero distances) produce no score row") {
    val df = Seq(
      (1.0, 1.0, 1.0, 0), (1.0, 1.0, 1.0, 0)
    ).toDF("x", "y", "z", "cluster")
    Silhouette.metrics(df, guards = true).collect() shouldBe empty
  }

  test("single cluster: avg inter is 0 (no neighboring clusters)") {
    val df = Seq(
      (0.0, 0.0, 0.0, 0), (2.0, 0.0, 0.0, 0)
    ).toDF("x", "y", "z", "cluster")
    val m = Silhouette.metrics(df, guards = true).collect()
    m.head.getDouble(3) shouldBe 0.0
    // score = (0 - 2) / max(2, 0) = -1
    m.head.getDouble(4) shouldBe -1.0
  }

  test("metricLines renders the reference text format") {
    Silhouette.metricLines(Seq((0, 1.5, 2.5, 0.4))) shouldBe
      Seq("0\tAvg Intra: 1.5, Avg Inter: 2.5, Silhouette Score: 0.4")
  }

  test("silhouette of reference-converged clustering is near 1 on separated data") {
    // sanity: two tight blobs far apart
    val pts = (0 until 20).map(i => (i % 10 * 0.1, 0.0, 0.0)) ++
      (0 until 20).map(i => (1000.0 + i % 10 * 0.1, 0.0, 0.0))
    val assigned = Assign.assign(pts.toDF("x", "y", "z"),
      Seq(Point(0, 0, 0), Point(1000, 0, 0)))
    val m = Silhouette.metrics(assigned).collect()
    all(m.map(_.getDouble(4))) should be > 0.99
  }

  /** ~400 seeded points in the reference ranges, assigned to the
    * non-contiguous ids {0, 2, 3}; id 3 is a singleton. */
  private lazy val oraclePoints: Seq[(Double, Double, Double, Int)] = {
    val rnd = new scala.util.Random(20261017L)
    val multi = (0 until 399).map { _ =>
      (rnd.nextDouble() * 9999.0, rnd.nextDouble() * 1000.0, rnd.nextDouble() * 1000.0,
        if (rnd.nextBoolean()) 0 else 2)
    }
    multi :+ ((5000.0, 500.0, 500.0, 3))
  }

  /** Independent oracle: the reference's driver-side nested loops
    * (`SilhouetteEvaluation.java:98-136`, guards from
    * `SilhouetteEvaluation2.java:201-249`) over per-cluster point lists —
    * one running sum per pair space, `Math.pow` distances, the other
    * non-empty clusters counted directly. A singleton's avg intra is 0,
    * as `metrics` computes it (`when(n > 1, ...)`) for the unguarded form. */
  private def oracle(pts: Seq[(Double, Double, Double, Int)],
                     guards: Boolean): Seq[(Int, Long, Double, Double, Double)] = {
    def dist(a: (Double, Double, Double, Int), b: (Double, Double, Double, Int)): Double =
      math.sqrt(math.pow(a._1 - b._1, 2) + math.pow(a._2 - b._2, 2) + math.pow(a._3 - b._3, 2))
    val clusters = pts.groupBy(_._4).toSeq.sortBy(_._1)
    clusters.flatMap { case (id, members) =>
      val n = members.size
      var intra = 0.0
      for (i <- members.indices; j <- members.indices if i != j)
        intra += dist(members(i), members(j))
      val others = clusters.filter(_._1 != id).map(_._2)
      var inter = 0.0
      for (p <- members; other <- others; q <- other) inter += dist(p, q)
      val avgIntra = if (n > 1) intra / (n.toLong * (n - 1)) else 0.0
      val avgInter = if (others.nonEmpty) inter / (n.toLong * others.size) else 0.0
      val score = (avgInter - avgIntra) / math.max(avgIntra, avgInter)
      if (guards && (n <= 1 || !(avgIntra > 0 || avgInter > 0))) None
      else Some((id, n.toLong, avgIntra, avgInter, score))
    }
  }

  private def rows(df: DataFrame): Seq[(Int, Long, Double, Double, Double)] =
    df.collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))

  for (guards <- Seq(true, false))
    test(s"metrics agrees with the independent nested-loop oracle within 1e-9 relative (guards=$guards)") {
      val want = oracle(oraclePoints, guards)
      val got = rows(Silhouette.metrics(oraclePoints.toDF("x", "y", "z", "cluster"), guards))
      got.map(r => (r._1, r._2)) shouldBe want.map(r => (r._1, r._2))
      // the singleton is scored only without guards
      got.map(_._1) shouldBe (if (guards) Seq(0, 2) else Seq(0, 2, 3))
      got.zip(want).foreach { case (g, w) =>
        for ((a, b) <- Seq(g._3 -> w._3, g._4 -> w._4, g._5 -> w._5))
          math.abs(a - b) should be <= 1e-9 * math.max(1.0, math.abs(b))
      }
    }

  test("metrics is bitwise invariant to the input partition layout") {
    val df = oraclePoints.toDF("x", "y", "z", "cluster")
    def bits(d: DataFrame) = rows(d).map { case (c, n, a, b, s) =>
      (c, n, java.lang.Double.doubleToRawLongBits(a), java.lang.Double.doubleToRawLongBits(b),
        java.lang.Double.doubleToRawLongBits(s))
    }
    val one = bits(Silhouette.metrics(df.coalesce(1), guards = false))
    one should have size 3
    bits(Silhouette.metrics(df.repartition(7), guards = false)) shouldBe one
  }

  /** The kernel as it was before it evaluated each pair once, kept
    * verbatim as the bitwise oracle: per point i, one fold over every
    * j = 0 … n−1, self pair included. */
  private def allPairs(ids: Array[Int], xs: Array[Double], ys: Array[Double],
                       zs: Array[Double]): Seq[Silhouette.ClusterSums] = {
    val n = ids.length
    val group = new Array[Int](n)
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < n) {
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
      Silhouette.ClusterSums(ids(starts(g)), (end - starts(g)).toLong, intra(g), inter(g), starts.size - 1L)
    }
  }

  private type Pt = (Double, Double, Double, Int)

  /** Kernel output with the sums as raw bits, over points sorted by
    * cluster as the gather delivers them. */
  private def kernelBits(pts: Seq[Pt], kernel: (Array[Int], Array[Double], Array[Double],
      Array[Double]) => Seq[Silhouette.ClusterSums]): Seq[(Int, Long, Long, Long, Long)] = {
    val sorted = pts.sortBy(_._4)
    kernel(sorted.map(_._4).toArray, sorted.map(_._1).toArray, sorted.map(_._2).toArray,
      sorted.map(_._3).toArray).map { c =>
      (c.cluster, c.n, java.lang.Double.doubleToRawLongBits(c.intra_sum),
        java.lang.Double.doubleToRawLongBits(c.inter_sum), c.neighbors)
    }
  }

  private def seeded(seed: Long, n: Int, clusters: Int): Seq[Pt] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((rnd.nextDouble() * 9999.0, rnd.nextDouble() * 1000.0,
      rnd.nextDouble() * 1000.0, rnd.nextInt(clusters)))
  }

  private val infPoint: Pt = (Double.PositiveInfinity, 3.0, 4.0, 1)
  private val nanPoint: Pt = (Double.NaN, 5.0, 6.0, 2)

  private lazy val bitwiseFixtures: Seq[(String, Seq[Pt])] = Seq(
    "5,000 reference-range points in 5 clusters" -> seeded(20261019L, 5000, 5),
    "ids {0, 2, 3} with a singleton" -> oraclePoints,
    "one cluster" -> seeded(7L, 61, 1),
    "duplicate points" -> {
      val base = seeded(11L, 9, 3)
      base ++ base ++ base.map(p => p.copy(_4 = (p._4 + 1) % 3))
    },
    "clusters of 3, 6 and 5 points" -> (
      seeded(13L, 3, 1) ++ seeded(17L, 6, 1).map(_.copy(_4 = 1)) ++
        seeded(19L, 5, 1).map(_.copy(_4 = 2))),
    // dist(p, p) = sqrt((Inf - Inf)²) is NaN: a kernel that skipped the
    // self pair would leave cluster 1's intra sum at +Inf. The two
    // points sit in different clusters, so no sum adds NaNs of two
    // payloads (which one survives such an add is not specified).
    "an +Inf and a NaN coordinate" -> (seeded(23L, 30, 3) :+ infPoint :+ nanPoint)
  ) ++ Seq(0, 1, 2, 3, 5, 7).map(n => s"n = $n in up to two clusters" -> seeded(29L + n, n, 2))

  for ((name, pts) <- bitwiseFixtures)
    test(s"pair-sum kernel is bitwise the all-pairs loop: $name") {
      kernelBits(pts, Silhouette.pairSums) shouldBe kernelBits(pts, allPairs)
    }

  test("collectMetrics leaves nothing cached in the session") {
    spark.catalog.clearCache()
    Silhouette.collectMetrics(microAssigned) should have size 2
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }
}
