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

  test("collectMetrics leaves nothing cached in the session") {
    spark.catalog.clearCache()
    Silhouette.collectMetrics(microAssigned) should have size 2
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }
}
