package graft.cli

import graft.Cached
import graft.eval.Silhouette
import graft.kmeans._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runnable equivalents of the reference's nine `main()` programs,
  * writing the reference's on-disk output tree (`iteration_i/
  * part-r-00000` TSVs, clustered-data files, metric lines). Each main
  * takes `[pointsCsv seedsCsv outDir]` and defaults to the reference's
  * committed inputs, so e.g.
  *
  *   spark-submit --class graft.cli.Task3 <jar> \
  *     /root/reference/3d_points_dataset.csv \
  *     /root/reference/seed_points_K5.csv /tmp/out/task3
  *
  * reproduces `/root/reference/output/task3/` byte-for-byte (single
  * partition pins the float accumulation order; see GoldenParitySpec).
  */
object Tasks {

  case class Ctx(spark: SparkSession, points: DataFrame, raw: DataFrame, seeds: Seq[Point], outDir: String)

  def ctx(args: Array[String], defaultOut: String): Ctx = {
    val pointsCsv = args.lift(0).getOrElse("/root/reference/3d_points_dataset.csv")
    val seedsCsv = args.lift(1).getOrElse("/root/reference/seed_points_K5.csv")
    val outDir = args.lift(2).getOrElse(defaultOut)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .appName("graft-kmeans")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // single partition = reference's single-reducer accumulation order
    val pts = Cached.keep(Points.readCsv(spark, pointsCsv).coalesce(1))
    val raw = Cached.keep(Points.readCsvWithRaw(spark, pointsCsv).coalesce(1))
    Ctx(spark, pts, raw, Points.readSeeds(seedsCsv), outDir)
  }

  def writeIteration(outDir: String, i: Int, centers: Seq[(Int, Point)]): Unit =
    Sinks.writeCentroidsTsv(s"$outDir/iteration_$i/part-r-00000", centers)

  /** The C4 hook body of the Silhouette mains: iteration `i`'s
    * clustered-data file is the raw lines assigned against the
    * iteration's input centroids `prev` (the reference reducer's
    * clustered output), and its silhouette lines go to stdout. */
  def evaluate(c: Ctx, i: Int, prev: Seq[Point], assigned: DataFrame): Unit = {
    Sinks.writeClusteredDataFile(s"${c.outDir}/iteration_$i", Assign.assign(c.raw, prev))
    Silhouette.metricLines(Silhouette.collectMetrics(assigned, guards = true))
      .foreach(l => println(s"iteration $i: $l"))
  }
}

/** Reference Task1: one K-Means iteration (reference `Task1.java:101-124`). */
object Task1 {
  def main(args: Array[String]): Unit = {
    val c = Tasks.ctx(args, "/tmp/graft-out/task1")
    val centers = KMeansRunner.step(c.points, c.seeds)
    Sinks.writeCentroidsTsv(s"${c.outDir}/part-r-00000", centers)
    c.spark.stop()
  }
}

/** Reference Task2: fixed R=5 iterations (reference `Task2.java:137-155`). */
object Task2 {
  def main(args: Array[String]): Unit = {
    val c = Tasks.ctx(args, "/tmp/graft-out/task2")
    KMeansRunner.fixedIterations(c.points, c.seeds, 5,
      (i, centers, _) => Tasks.writeIteration(c.outDir, i, centers))
    c.spark.stop()
  }
}

/** Reference Task3/Task4: converge-or-max loop, maxIter=30 threshold=5
  * (reference `Task3.java:185-218`; Task4 adds a combiner whose correct
  * (sum,count) form Spark's partial aggregation applies automatically,
  * so one main serves both). */
object Task3 {
  def main(args: Array[String]): Unit = {
    val c = Tasks.ctx(args, "/tmp/graft-out/task3")
    val r = KMeansRunner.converge(c.points, c.seeds, maxIter = 30, threshold = 5.0,
      (i, centers, _) => Tasks.writeIteration(c.outDir, i, centers))
    println(s"Converged: ${r.converged} after ${r.iterations} iterations " +
      s"(final displacement ${r.displacements.last})")
    c.spark.stop()
  }
}

/** Reference Task5A: converge + final centers + convergence flag
  * (reference `Task5A.java:178-218`, C5). */
object Task5A {
  def main(args: Array[String]): Unit = {
    val c = Tasks.ctx(args, "/tmp/graft-out/task5a")
    val r = KMeansRunner.converge(c.points, c.seeds, maxIter = 30, threshold = 5.0,
      (i, centers, _) => Tasks.writeIteration(c.outDir, i, centers))
    Sinks.finalCentersLines(r).foreach(println)
    c.spark.stop()
  }
}

/** Reference Task5B: converge + labeled final assignment of every point
  * (reference `Task5B.java:213-245`) — distributed, unlike the
  * reference's driver-side loop. */
object Task5B {
  def main(args: Array[String]): Unit = {
    val c = Tasks.ctx(args, "/tmp/graft-out/task5b")
    val r = KMeansRunner.converge(c.points, c.seeds, maxIter = 30, threshold = 5.0,
      (i, centers, _) => Tasks.writeIteration(c.outDir, i, centers))
    Sinks.finalAssignmentLines(c.points, r.centers.map(_._2))
      .write.mode("overwrite").text(s"${c.outDir}/assignments")
    c.spark.stop()
  }
}

/** Reference SilhouetteEvaluation: metrics against the seed centroids
  * (reference `SilhouetteEvaluation.java:163-173`; v1 = no guards). */
object Silhouette1 {
  def main(args: Array[String]): Unit = {
    val c = Tasks.ctx(args, "/tmp/graft-out/Silhouette1")
    val assigned = Assign.assign(c.points, c.seeds)
    val lines = Silhouette.metricLines(Silhouette.collectMetrics(assigned, guards = false))
    val p = java.nio.file.Paths.get(s"${c.outDir}/part-r-00000")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, lines.map(_ + "\n").mkString)
    c.spark.stop()
  }
}

/** Reference SilhouetteEvaluation2: 5 iterations, clustered-data output
  * + per-iteration silhouette (reference `SilhouetteEvaluation2.java:281-297`, C4). */
object Silhouette2 {
  def main(args: Array[String]): Unit = {
    val c = Tasks.ctx(args, "/tmp/graft-out/Silhouette2")
    var prev = c.seeds
    KMeansRunner.fixedIterations(c.points, c.seeds, 5, (i, centers, assigned) => {
      Tasks.evaluate(c, i, prev, assigned)
      prev = centers.map(_._2)
    })
    c.spark.stop()
  }
}

/** Reference SilhouetteEvaluation3: converge-or-max with clustered-data
  * output + per-iteration silhouette (reference `SilhouetteEvaluation3.java:296-328`). */
object Silhouette3 {
  def main(args: Array[String]): Unit = {
    val c = Tasks.ctx(args, "/tmp/graft-out/Silhouette3")
    var prev = c.seeds
    KMeansRunner.converge(c.points, c.seeds, maxIter = 30, threshold = 5.0,
      (i, centers, assigned) => {
        Tasks.evaluate(c, i, prev, assigned)
        val curr = centers.map(_._2)
        println(s"Centroid displacement after iteration $i: " +
          KMeansRunner.displacement(prev, curr))
        prev = curr
      })
    c.spark.stop()
  }
}
