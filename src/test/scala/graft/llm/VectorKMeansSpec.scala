package graft.llm

import graft.SparkSpec

class VectorKMeansSpec extends SparkSpec {
  import spark.implicits._

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
    val e = emb.selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val seeds = e.filter(col2("vec_id").isin(3L, 17L, 29L))
      .orderBy(col2("vec_id")).collect().map(_.getSeq[Double](1).toArray).toSeq
    val fitted = Iterator.iterate(seeds)(VectorKMeans.step(e, "v", _)).drop(5).next()
    val cells = fitted.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cell_id", "cvec")
    val ivf = Similarity.ivfTopKWith(emb, cells, Seq(0L), nprobe = 3, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    ivf shouldBe bf
  }

  private def col2(n: String) = org.apache.spark.sql.functions.col(n)
}
