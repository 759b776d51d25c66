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

  test("writeClustered: the helper-written layout prunes on BOTH dims and drops the key column") {
    val ev = graft.SparkEntry.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id"), expr("(tus div 3600000000) % 24").as("hod"))
    SparkEntry.withTempRoot(spark, "graft_wc") { root =>
      val dir = root + "/out"
      ZOrder.writeClustered(ev, Seq(col("user_id"), col("hod")), dir,
        numFiles = 3, rowGroupBytes = 8192)
      val g = LayoutStats.rowGroupStats(spark, dir, dims)
      g.size should be >= 4
      withClue(s"${g.size} groups: ") {
        // 3 output files coarsen row-group granularity vs the single-file
        // fixture above (fewer, larger groups), so the second-dim bound is
        // looser here — the claim is skipping EXISTS on the non-leading
        // dim (a linear sort reads 100%), pinned tighter above
        LayoutStats.survivors(g, Map("hod" -> (6L, 7L))).size.toDouble should be < 0.85 * g.size
        LayoutStats.survivors(g, Map("user_id" -> (40L, 49L))).size.toDouble should be < 0.7 * g.size
      }
      g.map(_.file).distinct.size should be >= 2 // range exchange really split files
      val back = spark.read.parquet(dir)
      back.count() shouldBe ev.count()
      back.columns should not contain "__zkey"
    }
  }

  test("compactClustered: row-group pruning survives compaction on both dims; name-order compaction of fragmented ingests does not") {
    val ev = graft.SparkEntry.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id"), expr("(tus div 3600000000) % 24").as("hod"))
    // fragmented ingest: 4 batches, EACH z-clustered internally — so each
    // file spans the whole key range and cross-file locality is gone
    SparkEntry.withTempRoot(spark, "graft_zcompact") { root =>
      val frag = s"$root/frag"
      for (b <- 0 until 4)
        ZOrder.writeClustered(ev.filter(col("user_id") % 4 === b),
          Seq(col("user_id"), col("hod")), s"$frag/b$b", numFiles = 1,
          rowGroupBytes = 8192)
      // flatten the batch files into one directory (the ingest aftermath)
      val fs = new org.apache.hadoop.fs.Path(frag)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val flat = s"$root/flat"
      fs.mkdirs(new org.apache.hadoop.fs.Path(flat))
      for (b <- 0 until 4)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$frag/b$b")).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .foreach(f => org.apache.hadoop.fs.FileUtil.copy(
            fs, f.getPath, fs,
            new org.apache.hadoop.fs.Path(s"$flat/b${b}_${f.getPath.getName}"),
            false, spark.sparkContext.hadoopConfiguration))
      val total = Compaction.listParquet(spark, flat).map(_._2).sum
      // name-order compaction into one file: each input file spans the full
      // user range, so merged row groups interleave ranges -> skipping dies
      val nameDir = s"$root/namec"
      Compaction.compact(spark, flat,
        Seq(Compaction.listParquet(spark, flat).map(_._1)), nameDir)
      // parquet.block.size is a write option — re-read what compact wrote and
      // measure; compact's plain rewrite keeps default big groups, so compare
      // at FILE granularity instead: one merged file = one min/max envelope
      // covering everything -> a user_id range prunes nothing
      val nameG = LayoutStats.rowGroupStats(spark, s"$nameDir/g0", dims)
      val nameSurv = LayoutStats.survivors(nameG, Map("user_id" -> (40L, 49L))).size
      nameSurv shouldBe nameG.size // no pruning at all
      // z-aware compaction: same byte budget, re-clustered through the key
      val zcDir = s"$root/zc"
      val planned = Compaction.compactClustered(spark, flat,
        Seq("user_id", "hod"), zcDir, targetBytes = total, rowGroupBytes = 8192)
      planned shouldBe 1
      val zcG = LayoutStats.rowGroupStats(spark, zcDir, dims)
      zcG.size should be >= 4
      withClue(s"${zcG.size} groups after z-compaction: ") {
        // same bounds as the writeClustered pin: skipping EXISTS on the
        // non-leading dim (name-order compaction reads 100%), tight on the
        // leading dim
        LayoutStats.survivors(zcG, Map("hod" -> (6L, 7L))).size.toDouble should be < 0.85 * zcG.size
        LayoutStats.survivors(zcG, Map("user_id" -> (40L, 49L))).size.toDouble should be < 0.7 * zcG.size
      }
      // and compaction never changed the data
      spark.read.parquet(zcDir).count() shouldBe ev.count()
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
