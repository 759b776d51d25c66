package graft

/** Every contract line declared through `SparkEntry.store` ends clean:
  * its temp root is gone, nothing it cached stays registered, and the
  * result it returns owes nothing to either (driver-local rows, so it
  * still collects after the cache is cleared). Iterates the derived
  * store-line set, so a new store line is covered with no edit here. */
class StoreLinesSpec extends SparkSpec {

  private val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
  private def roots: Set[String] =
    Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_")).toSet

  test("every store line leaves nothing cached and no temp root, and its result outlives both") {
    SparkEntry.storeLines should not be empty
    for (name <- SparkEntry.storeLines.toSeq.sorted) withClue(s"$name: ") {
      spark.catalog.clearCache()
      val before = roots
      val out = SparkEntry.queries(name)(spark, sf0001)
      spark.sharedState.cacheManager.isEmpty shouldBe true
      (roots -- before) shouldBe empty
      val rows = out.collect().toSeq
      spark.catalog.clearCache()
      out.collect().toSeq shouldBe rows
    }
  }
}
