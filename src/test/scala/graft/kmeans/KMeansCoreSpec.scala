package graft.kmeans

import graft.SparkSpec

/** Hand-computed micro-fixtures for Assign (P2/P3), Recenter (A1),
  * displacement (A7), and the runner loops (C1–C3, C5). Values are powers
  * of two so means and distances are exact in binary floating point.
  */
class KMeansCoreSpec extends SparkSpec {
  import spark.implicits._

  private val seeds = Seq(Point(0, 0, 0), Point(8, 0, 0))

  test("assign picks the nearest centroid, ties to the lowest index") {
    codegenOnly { s =>
      val pts = s.createDataFrame(Seq(
        (1.0, 0.0, 0.0),   // nearest: c0 (d=1 vs 7)
        (7.0, 0.0, 0.0),   // nearest: c1 (d=7 vs 1)
        (4.0, 0.0, 0.0)    // tie (d=4 both) -> c0, reference strict '<'
      )).toDF("x", "y", "z")
      val out = Assign.assign(pts, seeds).select("x", "cluster").collect()
        .map(r => r.getDouble(0) -> r.getInt(1)).toMap
      out shouldBe Map(1.0 -> 0, 7.0 -> 1, 4.0 -> 0)
    }
  }

  test("recenter computes per-cluster means; empty clusters vanish") {
    val pts = Seq(
      (0.0, 0.0, 2.0), (2.0, 4.0, 6.0), // cluster 0 -> mean (1, 2, 4)
      (8.0, 2.0, 0.0)                   // cluster 1 -> itself
    ).toDF("x", "y", "z")
    val out = KMeansRunner.step(pts, seeds)
    out shouldBe Seq(0 -> Point(1, 2, 4), 1 -> Point(8, 2, 0))
    // a far-away third centroid receives no points and must be absent
    val out3 = KMeansRunner.step(pts, seeds :+ Point(1e6, 1e6, 1e6))
    out3.map(_._1) shouldBe Seq(0, 1)
  }

  test("displacement is the sum of per-centroid Euclidean moves") {
    val prev = Seq(Point(0, 0, 0), Point(8, 0, 0))
    val curr = Seq(Point(3, 4, 0), Point(8, 0, 2))
    KMeansRunner.displacement(prev, curr) shouldBe 7.0 // 5 + 2
  }

  test("displacement on size mismatch (emptied cluster) forbids convergence") {
    KMeansRunner.displacement(Seq(Point(0, 0, 0)), Seq.empty) shouldBe Double.MaxValue
  }

  test("fixedIterations runs exactly R iterations and keeps history") {
    val pts = Seq((0.0, 0.0, 0.0), (2.0, 0.0, 0.0), (8.0, 0.0, 0.0), (10.0, 0.0, 0.0))
      .toDF("x", "y", "z")
    val r = KMeansRunner.fixedIterations(pts, seeds, 3)
    r.iterations shouldBe 3
    r.history should have size 3
    r.centers shouldBe Seq(0 -> Point(1, 0, 0), 1 -> Point(9, 0, 0))
  }

  test("converge stops early once displacement < threshold, flag set (C5)") {
    val pts = Seq((0.0, 0.0, 0.0), (2.0, 0.0, 0.0), (8.0, 0.0, 0.0), (10.0, 0.0, 0.0))
      .toDF("x", "y", "z")
    val r = KMeansRunner.converge(pts, seeds, maxIter = 30, threshold = 0.5)
    r.converged shouldBe true
    // iter 0 moves centroids to (1,0,0)/(9,0,0); iter 1 moves 0 < 0.5 -> stop
    r.iterations shouldBe 2
    r.displacements.last should be < 0.5
  }

  test("per-iteration hook (C4) fires once per iteration with the assignment") {
    // (5, 0, 0) moves from cluster 1 to cluster 0 after iteration 0, so
    // an assignment against any other iteration's centroids differs
    val pts = Seq((3.5, 0.0, 0.0), (5.0, 0.0, 0.0), (9.0, 0.0, 0.0)).toDF("x", "y", "z")
    var calls = Vector.empty[(Int, Long)]
    var inputs = seeds
    def clusters(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("x").select("cluster").as[Int].collect().toSeq
    KMeansRunner.fixedIterations(pts, seeds, 2, (i, centers, assigned) => {
      calls :+= (i, assigned.count())
      clusters(assigned) shouldBe clusters(Assign.assign(pts, inputs))
      inputs = centers.map(_._2)
    })
    calls shouldBe Vector((0, 3L), (1, 3L))
  }

  test("finalCentersLines prints positional indices, not stored cluster ids") {
    val res = KMeansRunner.Result(
      centers = Seq(0 -> Point(1, 1, 1), 3 -> Point(2, 2, 2)), // id 3: gap
      iterations = 1, converged = false, displacements = Seq(1.0), history = Nil)
    val lines = Sinks.finalCentersLines(res)
    lines(1) should startWith("Cluster 0 center")
    lines(2) should startWith("Cluster 1 center") // positional, like Task5A
    lines.last shouldBe "Convergence reached: false"
  }

  test("centroidLines renders Double.toString, id TAB x,y,z") {
    Sinks.centroidLines(Seq(1 -> Point(1.5, 2.0, 3.25))) shouldBe Seq("1\t1.5,2.0,3.25")
  }

  test("farthestPointInit: greedy k-center picks extremes deterministically") {
    val pts = Seq(
      (0.0, 0.0, 0.0), (1.0, 0.0, 0.0), (10.0, 0.0, 0.0), (5.0, 0.0, 0.0)
    ).toDF("x", "y", "z")
    // first = lexicographic max (10), then farthest from it (0), then (5)
    KMeansRunner.farthestPointInit(pts, 3) shouldBe
      Seq(Point(10, 0, 0), Point(0, 0, 0), Point(5, 0, 0))
    // deterministic across partitionings
    KMeansRunner.farthestPointInit(pts.repartition(3), 3) shouldBe
      KMeansRunner.farthestPointInit(pts.coalesce(1), 3)
  }

  test("farthestPointInit stops early when distinct points are exhausted") {
    val pts = Seq((1.0, 1.0, 1.0), (2.0, 2.0, 2.0), (1.0, 1.0, 1.0)).toDF("x", "y", "z")
    KMeansRunner.farthestPointInit(pts, 5) shouldBe Seq(Point(2, 2, 2), Point(1, 1, 1))
  }

  test("farthestPointInit seeds a converging run on the reference data") {
    val pts = Points.readCsv(spark, s"$ref/3d_points_dataset.csv").cache()
    val seeds = KMeansRunner.farthestPointInit(pts, 5)
    seeds.toSet should have size 5
    val r = KMeansRunner.converge(pts, seeds, maxIter = 30, threshold = 5.0)
    r.converged shouldBe true
    r.centers should have size 5
  }
}
