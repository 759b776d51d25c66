package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The data-skipping proof behind ZOrder: q_zorder verifies the KEY is
  * right; this spec measures the POINT of it. The same 10k events are
  * written twice with small parquet row groups — once sorted linearly
  * by (user_id, hod), once by the Morton key — and the footers are read
  * back (LayoutStats). A range predicate on the SECOND dimension must
  * prune row groups under the Z layout while the linear sort leaves
  * (almost) every group readable, and the engine-level scan metric must
  * agree with the footer arithmetic. */
class ZOrderSkipSpec extends SparkSpec {

  // one file, ~8 KiB row groups: enough groups for pruning to be visible
  private def writeSorted(df: DataFrame, sortCols: Seq[String], dir: String): Unit =
    df.repartition(1).sortWithinPartitions(sortCols.map(col): _*)
      .write.option("parquet.block.size", "8192").mode("overwrite").parquet(dir)

  /** The fixture layouts: the same events sorted linearly by (user_id,
    * hod) and by the Morton key, under a temp root deleted after `f`. */
  private def withLayouts[A](f: (String, String) => A): A = {
    val ev = graft.SparkEntry.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id"), expr("(tus div 3600000000) % 24").as("hod"))
      .withColumn("zkey", ZOrder.key(col("user_id"), col("hod")))
    SparkEntry.withTempRoot(spark, "graft_zlayout") { root =>
      val lin = s"$root/lin"; val z = s"$root/z"
      writeSorted(ev, Seq("user_id", "hod"), lin)
      writeSorted(ev, Seq("zkey"), z)
      f(lin, z)
    }
  }

  private val dims = Seq("user_id", "hod")

  test("footer stats: an hod-only range prunes Z-layout row groups; the linear layout reads ~all") {
    withLayouts { (linDir, zDir) =>
      val linG = LayoutStats.rowGroupStats(spark, linDir, dims)
      val zG = LayoutStats.rowGroupStats(spark, zDir, dims)
      // the proof is vacuous unless the files really have many row groups
      linG.size should be >= 4
      zG.size should be >= 4
      val pred = Map("hod" -> (6L, 7L))
      val linSurv = LayoutStats.survivors(linG, pred).size
      val zSurv = LayoutStats.survivors(zG, pred).size
      withClue(s"lin $linSurv/${linG.size} vs z $zSurv/${zG.size}: ") {
        // linear (user, hod) sort: each group spans several whole users and
        // therefore every hod — stats can skip (almost) nothing
        linSurv.toDouble should be >= 0.9 * linG.size
        // the Z layout confines hod to a sub-range per group
        zSurv should be < linSurv
        zSurv.toDouble should be < 0.7 * zG.size
      }
    }
  }

  test("footer stats: the FIRST dimension still prunes under Z — skipping works on either dim") {
    withLayouts { (_, zDir) =>
      val zG = LayoutStats.rowGroupStats(spark, zDir, dims)
      val zSurv = LayoutStats.survivors(zG, Map("user_id" -> (40L, 49L))).size
      withClue(s"z $zSurv/${zG.size}: ") {
        zSurv.toDouble should be < 0.7 * zG.size
      }
    }
  }

  test("engine agrees: the scan's numOutputRows under the hod predicate is smaller on the Z layout") {
    withLayouts { (linDir, zDir) =>
      def scanRows(dir: String): Long = {
        val q = spark.read.parquet(dir).filter(col("hod").between(6, 7))
        q.collect()
        q.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      }
      val lin = scanRows(linDir)
      val z = scanRows(zDir)
      withClue(s"scan rows lin=$lin z=$z: ") { z should be < lin }
      // and pruning never changed the answer
      spark.read.parquet(zDir).filter(col("hod").between(6, 7)).count() shouldBe
        spark.read.parquet(linDir).filter(col("hod").between(6, 7)).count()
    }
  }
}
