package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Round-19 optimization harness: profile ONE (or a few) contract
  * queries in isolation with per-stage wall/CPU attribution, and dump
  * `.explain("formatted")` plans for the `plans/r19/` deliverables.
  *
  * Usage:
  *   runMain graft.tools.QueryProfile <name-regex> [reps]
  *     env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *          SPARK_GRAFT_CPUS (default 32),
  *          GRAFT_PLAN_OUT (when set: write each matched query's
  *          formatted plan to $GRAFT_PLAN_OUT/<name>.txt and skip the
  *          timed reps)
  *
  * Deliberately NOT a bench: numbers here guide optimization; the
  * committed artifact stays Bench's. Same session shape as Bench
  * (master/local cores, 2x shuffle partitions, AQE cached-plan
  * repartitioning) so stage shapes match what the bench times. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val pattern = args.headOption.getOrElse(".*").r
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val planOut = sys.env.get("GRAFT_PLAN_OUT")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        cpus.toIntOption.map(_ * 2).getOrElse(64).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val matched = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => pattern.findFirstIn(n).isDefined }
    require(matched.nonEmpty, s"no query matches ${pattern.regex}")

    planOut match {
      case Some(dir) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        for ((name, fn) <- matched) {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"$name.txt"), plan)
          println(s"[plan] wrote $dir/$name.txt (${plan.length} chars)")
          graft.SessionCaches.scrub(spark)
        }
      case None =>
        // per-stage attribution: stage id -> (wall from stage submit to
        // complete, summed task CPU, task count, peak shuffle bytes)
        case class St(name: String, wallMs: Long, cpuNs: Long, nTasks: Int,
                      shufReadB: Long, shufWriteB: Long, inputB: Long)
        val stages = mutable.ArrayBuffer.empty[St]
        val taskCpu = mutable.HashMap.empty[Int, Long]
        val taskN = mutable.HashMap.empty[Int, Int]
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            if (m != null) {
              taskCpu(t.stageId) = taskCpu.getOrElse(t.stageId, 0L) + m.executorCpuTime
              taskN(t.stageId) = taskN.getOrElse(t.stageId, 0) + 1
            }
          }
          override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
            val i = s.stageInfo
            val wall = (for {a <- i.completionTime; b <- i.submissionTime}
              yield a - b).getOrElse(0L)
            stages += St(
              i.name.linesIterator.next().take(120), wall,
              taskCpu.getOrElse(i.stageId, 0L), taskN.getOrElse(i.stageId, 0),
              i.taskMetrics.shuffleReadMetrics.totalBytesRead,
              i.taskMetrics.shuffleWriteMetrics.bytesWritten,
              i.taskMetrics.inputMetrics.bytesRead)
          }
        })

        // warm once at the smallest SF so JIT is off the numbers
        val warmDir = "/root/testdata/sf0.001"
        for ((_, fn) <- matched)
          try { fn(spark, warmDir).count(); () } catch { case _: Throwable => () }
        graft.SessionCaches.scrub(spark)

        for ((name, fn) <- matched) {
          for (r <- 1 to reps) {
            stages.clear(); taskCpu.clear(); taskN.clear()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            Thread.sleep(400) // drain the async listener bus
            val cpuTot = stages.map(_.cpuNs).sum / 1e9
            println(f"== $name rep $r: wall $wall%.2f s, stage-cpu $cpuTot%.2f s, ${stages.size} stages")
            for (s <- stages.sortBy(-_.cpuNs).take(14))
              println(f"   cpu ${s.cpuNs / 1e9}%7.2f  wall ${s.wallMs / 1e3}%6.2f  tasks ${s.nTasks}%4d  in ${s.inputB / 1e6}%8.1fMB  sr ${s.shufReadB / 1e6}%7.1fMB  sw ${s.shufWriteB / 1e6}%7.1fMB  ${s.name}")
            graft.SessionCaches.scrub(spark)
          }
        }
    }
    spark.stop()
  }
}
