package graft.llm

import graft.SparkSpec

class VectorKMeansSpec extends SparkSpec {
  import spark.implicits._

  test("fit recovers two well-separated synthetic blobs") {
    val rnd = new scala.util.Random(7)
    def blob(center: Array[Double], n: Int) =
      Seq.fill(n)(center.map(_ + rnd.nextGaussian() * 0.1).toSeq)
    val a = Array(0.0, 0.0, 0.0, 0.0)
    val b = Array(10.0, 10.0, 10.0, 10.0)
    val vecs = (blob(a, 50) ++ blob(b, 50)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    // seed from one vector of each blob
    val r = VectorKMeans.fit(vecs, "embedding", Seq(0L, 50L), maxIter = 10)
    r.centers should have size 2
    // each fitted center within 0.1 of its blob center
    math.sqrt(r.centers(0).zip(a).map { case (x, y) => (x - y) * (x - y) }.sum) should be < 0.1
    math.sqrt(r.centers(1).zip(b).map { case (x, y) => (x - y) * (x - y) }.sum) should be < 0.1
    r.converged shouldBe true
  }

  test("empty cells keep their previous centroid (K never shrinks)") {
    val vecs = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(1.0, 1.0)))
      .toDF("vec_id", "embedding")
    val far = Array(1e6, 1e6)
    val next = VectorKMeans.step(
      vecs.selectExpr("vec_id", "CAST(embedding AS array<double>) AS v"), "v",
      Seq(Array(0.0, 0.0), far))
    next(1) shouldBe far // untouched
    next(0) shouldBe Array(0.5, 0.5)
  }

  test("fit: a cell emptied by a seed tie keeps its centroid (K never shrinks)") {
    // seeds 0 and 1 are the same point, so the first step sends every
    // vector to cell 0 (ties to the lowest id) and leaves cell 1 empty;
    // had cell 1 vanished, fit would end with one centre at (2/3, 2/3)
    val vecs = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 0.0)), (2L, Seq(2.0, 2.0)))
      .toDF("vec_id", "embedding")
    val r = VectorKMeans.fit(vecs, "embedding", Seq(0L, 1L), maxIter = 10)
    r.centers.map(_.toSeq) shouldBe Seq(Seq(2.0, 2.0), Seq(0.0, 0.0))
    r.iterations shouldBe 3
    r.converged shouldBe true
  }

  test("step is bitwise invariant to shuffle width and input partitioning") {
    // the q_vkmeans_step/q_vkmeans_iterate2 regression class: a double
    // avg flips its last ulp with partial-merge order, so a mean within
    // an ulp of a .00005 boundary rounds differently run to run. The
    // fixed-grid BIGINT sum must make the UNROUNDED means identical
    // across 1/7/32 shuffle partitions and input repartitionings.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val seeds = emb.filter(col2("vec_id").isin(3L, 17L, 29L))
      .orderBy(col2("vec_id")).collect().map(_.getSeq[Double](1).toArray).toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val runs = for (p <- Seq(1, 7, 32)) yield {
        spark.conf.set("spark.sql.shuffle.partitions", p.toString)
        VectorKMeans.step(emb.repartition(p), "v", seeds).map(_.toSeq)
      }
      runs.distinct should have size 1
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("4-decimal rounding emits +0.0 in both engines for a tiny negative mean") {
    // the r7 hash-red class: a raw per-(cell,dim) mean of -1.9608e-05
    // rounds to zero at 4 decimals; Scala BigDecimal has no signed zero
    // (emits +0.0) while DuckDB round() keeps the sign (-0.0), and the
    // driver hashes floats BITWISE — the zeros must agree in sign.
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    java.lang.Double.doubleToRawLongBits(r4(-1.9608e-05)) shouldBe
      java.lang.Double.doubleToRawLongBits(+0.0)
    // the oracle mirrors normalize via IEEE `round(...) + 0.0`
    // (-0.0 + 0.0 = +0.0): pin the normalization into BOTH generated
    // SQL mirrors so neither can regress to signed-zero output
    graft.contract.TextSql.vkmeansStepSql(Seq(1L, 2L)) should
      include("round(m, 4) + 0.0")
    graft.contract.TextSql.vkmeansIterateSql(Seq(1L, 2L), 2) should
      include(", 4) + 0.0")
  }

  test("IVF with fitted coarse cells and nprobe=all equals brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fitted = VectorKMeans.fit(emb, "embedding", Seq(3L, 17L, 29L), maxIter = 5)
    val cells = VectorKMeans.asCells(emb, fitted)
    val ivf = Similarity.ivfTopKWith(emb, cells.select(col2("cell_id"), col2("cvec")), Seq(0L), nprobe = 3, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    ivf shouldBe bf
  }

  private def col2(n: String) = org.apache.spark.sql.functions.col(n)
}
