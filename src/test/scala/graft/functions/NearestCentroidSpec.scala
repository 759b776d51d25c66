package graft.functions

import graft.SparkSpec
import graft.contract.PointSpace
import graft.kmeans.{Assign, KMeansRunner, Point}
import graft.llm.VectorKMeans
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.CodegenCount

/** The nearest-centroid kernel against a driver-side oracle, under both
  * evaluation modes, plus the two properties of taking the centroids as
  * data: the generated code does not change with them, and plan identity
  * still does. */
class NearestCentroidSpec extends SparkSpec {

  /** Seeded points on a 1/2 grid in [0, 4]³ (many exact ties against the
    * integer centroids below), plus a NaN coordinate. */
  private lazy val points: Seq[(Double, Double, Double)] = {
    val rnd = new scala.util.Random(20261019L)
    Seq.fill(300)((rnd.nextInt(9) / 2.0, rnd.nextInt(9) / 2.0, rnd.nextInt(9) / 2.0)) ++
      Seq.fill(100)((rnd.nextDouble() * 4, rnd.nextDouble() * 4, rnd.nextDouble() * 4)) :+
      ((Double.NaN, 1.0, 1.0))
  }

  /** (id, centroid) pairs, deliberately not in id order; id 6 has a NaN
    * coordinate and so is never nearest. */
  private val cents: Seq[(Int, Point)] = Seq(
    7 -> Point(1, 1, 1), 2 -> Point(3, 1, 1), 5 -> Point(1, 3, 1),
    6 -> Point(Double.NaN, 0, 0), 0 -> Point(2, 2, 4), 9 -> Point(1, 1, 1))

  /** Lowest key among the minima, NaN ranking last. */
  private def argmin[K: Ordering](ds: Seq[(Double, K)]): K =
    ds.min(Ordering.Tuple2(Ordering.Double.TotalOrdering, implicitly[Ordering[K]]))._2

  private def euclidOracle(p: (Double, Double, Double), cs: Seq[Point]): Int =
    argmin(cs.zipWithIndex.map { case (c, i) =>
      math.sqrt(math.pow(p._1 - c.x, 2) + math.pow(p._2 - c.y, 2) + math.pow(p._3 - c.z, 2)) -> i
    })

  private def l2sqOracle(p: (Double, Double, Double), cs: Seq[(Int, Point)]): Int =
    argmin(cs.map { case (id, c) =>
      ((p._1 - c.x) * (p._1 - c.x) + (p._2 - c.y) * (p._2 - c.y) + (p._3 - c.z) * (p._3 - c.z)) -> id
    })

  /** (Assign clusters, PointSpace clusters, VectorKMeans cells) per point,
    * in input order, computed in session `s`. */
  private def assignAll(s: SparkSession): Seq[(Int, Int, Int)] = {
    val df = s.createDataFrame(points.zipWithIndex.map { case ((x, y, z), i) => (i, x, y, z) })
      .toDF("i", "x", "y", "z")
    val euclid = Assign.assign(df, cents.map(_._2))
    PointSpace.assign(euclid.withColumnRenamed("cluster", "a"), cents)
      .select(col("i"), col("a"), col("cluster"),
        VectorKMeans.cellOf(org.apache.spark.sql.functions.array(col("x"), col("y"), col("z")),
          cents.map { case (_, c) => Array(c.x, c.y, c.z) }))
      .collect().map(r => (r.getInt(0), (r.getInt(1), r.getInt(2), r.getInt(3))))
      .sortBy(_._1).map(_._2).toSeq
  }

  test("both distance forms equal a driver-side oracle bitwise: ties, unsorted ids, NaN") {
    val got = assignAll(spark)
    val want = points.map { p =>
      val byPos = l2sqOracle(p, cents.map(_._2).zipWithIndex.map(_.swap))
      (euclidOracle(p, cents.map(_._2)), l2sqOracle(p, cents), byPos)
    }
    got shouldBe want
    // the fixture exercises the tie rule in every form: id 7 and id 9
    // are the same point, so only the first position / lowest id may win
    got.map(_._1) should not contain 5
    got.map(_._2) should not contain 9
    got.map(_._3) should not contain 5
    // and the NaN point's distances are all NaN: first position, lowest id
    got.last shouldBe ((0, 0, 0))
  }

  test("interpreted and generated evaluation agree") {
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val viaEval = assignAll(interpreted)
    viaEval shouldBe codegenOnly(assignAll)
    viaEval shouldBe assignAll(spark)
  }

  test("a Lloyd loop compiles once: no code generation after the first iteration") {
    // fresh centroid values every iteration: with centroids written into
    // the code, iterations 1 and 2 would each compile new classes
    val rnd = new scala.util.Random(71L)
    val pts = spark.createDataFrame(
      Seq.fill(400)((rnd.nextDouble() * 1000, rnd.nextDouble() * 1000, rnd.nextDouble() * 1000)))
      .toDF("x", "y", "z").coalesce(1)
    val seeds = Seq.fill(4)(Point(rnd.nextDouble() * 1000, rnd.nextDouble() * 1000, rnd.nextDouble() * 1000))
    var compiled = Vector.empty[Long]
    val r = KMeansRunner.fixedIterations(pts, seeds, 3, (_, _, _) => compiled :+= CodegenCount.compilations)
    r.iterations shouldBe 3
    r.history.distinct should have size 3 // the centroids really moved each iteration
    compiled should have size 3
    compiled.last shouldBe compiled.head
  }

  test("the centroid table is part of plan identity: another centroid set misses the cache") {
    val pts = spark.createDataFrame(Seq((1.0, 0.0, 0.0), (7.0, 0.0, 0.0))).toDF("x", "y", "z")
    val a = Seq(Point(0, 0, 0), Point(8, 0, 0))
    val b = Seq(Point(0, 0, 0), Point(9, 0, 0))
    def cached(df: DataFrame): Boolean =
      df.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.nonEmpty
    val held = Assign.assign(pts, a).cache()
    try {
      cached(Assign.assign(pts, a)) shouldBe true
      cached(Assign.assign(pts, b)) shouldBe false
    } finally held.unpersist(blocking = true)
  }
}
