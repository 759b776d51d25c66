package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.eval.Silhouette
import graft.kmeans.{Assign, KMeansRunner, Point, Points, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's own shape: points in one CSV file (a few seeded lines
  * malformed) read into one partition, K = 5, the converge loop (maxIter
  * 30, threshold 5) with per-iteration centroid files and silhouette,
  * then the clustered-data file. Each pass's seed file is an earlier
  * run's iteration output (`clusterId\tx,y,z`, the format
  * `Points.readSeeds` takes), picked `iterations` iterations before that
  * run converged, so every pass does the same number of iterations.
  *
  * `Assign` writes the centroids into the generated code as literals, so
  * every iteration of a real run compiles new code. Each pass of the
  * schedule therefore starts from its own seed set, drawn from the run's
  * seed and the pass number, and the schedule is capped so that no set
  * repeats within a run. */
final class LloydReference(n: Int, iterations: Int) extends Workload {
  // the first pass runs about 3x slower than later ones, and the next
  // two keep speeding up (JIT warm-up)
  override val warmupPasses = 3
  override val passes = 5

  /** Passes of a run, warm-up included: one seed set each. */
  private def schedule: Int = warmupPasses + passes

  private var xyz: Array[Double] = Array.empty
  /** Each pass's seed file as flat x,y,z centroids. */
  private var seeds: IndexedSeq[Array[Double]] = IndexedSeq.empty
  private var seedIds: IndexedSeq[Seq[Int]] = IndexedSeq.empty
  private var drawn = Option.empty[Long]
  private var malformed = 0
  private var expected: IndexedSeq[SeqLloyd.Run] = IndexedSeq.empty

  private def csv(dir: String) = Inputs.path(dir, "points.csv")
  private def seedsPath(dir: String, pass: Int): Path = Inputs.path(dir, "seeds", s"seeds-$pass.csv")

  def generate(spark: SparkSession, dir: String, seed: Long): Unit = {
    if (!drawn.contains(seed)) draw(seed)
    malformed = Inputs.writePointsCsv(csv(dir), xyz, math.max(1, n / 1000), new Random(seed))
    for (j <- 0 until schedule)
      Inputs.writeLines(seedsPath(dir, j), seedIds(j).zip(seeds(j).grouped(3).toSeq).map { case (id, c) =>
        s"$id\t${c.mkString(",")}"
      })
  }

  /** Draws the points and every pass's seed file for `seed`; repeated
    * set-ups of one seed reuse them. */
  private def draw(seed: Long): Unit = {
    xyz = Inputs.points(new Random(seed), n)
    val starts = (0 until schedule).map { j =>
      val rng = new Random(seed * 1000 + j)
      var run = Option.empty[SeqLloyd.Run]
      while (!run.exists(r => r.converged && r.iterations > iterations && r.history.last.size == 5)) {
        val picks = Iterator.continually(rng.nextInt(n)).distinct.take(5).toArray
        run = Some(SeqLloyd.run(xyz, picks.flatMap(i => xyz.slice(3 * i, 3 * i + 3)), 500, Some(5.0)))
      }
      run.get.history(run.get.iterations - iterations - 1)
    }
    seeds = starts.map(SeqLloyd.flat)
    seedIds = starts.map(_.map(_.id))
    drawn = Some(seed)
  }

  def prepare(spark: SparkSession, dir: String): Unit =
    expected = seeds.map(SeqLloyd.run(xyz, _, 30, Some(5.0)))

  /** Wraps a hook so each call records the step before it: step i runs
    * from the end of hook i-1 (or `start`) to the start of hook i. */
  private final class IterationClock(p: Pass, start: Long) {
    private var last = start
    def hook(body: (Int, Seq[(Int, Point)], DataFrame) => Unit): KMeansRunner.IterationHook =
      (i, centers, assigned) => {
        val t0 = System.nanoTime()
        p.record("step_ms", (t0 - last) / 1e6)
        body(i, centers, assigned)
        last = System.nanoTime()
      }
  }

  private def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  def pass(p: Pass): Unit = {
    val out = Inputs.path(p.dir, "out")
    val (points, raw) = p.timed("kmeans.Points.readCsv") {
      (Points.readCsv(p.spark, csv(p.dir).toString).coalesce(1),
        Points.readCsvWithRaw(p.spark, csv(p.dir).toString).coalesce(1))
    }
    val seedSet = p.timed("kmeans.Points.readSeeds")(Points.readSeeds(seedsPath(p.dir, p.index).toString))
    val scores = mutable.ArrayBuffer.empty[Seq[(Int, Double, Double, Double)]]
    val r = p.timed("kmeans.KMeansRunner.converge") {
      val clock = new IterationClock(p, System.nanoTime())
      KMeansRunner.converge(points, seedSet, 30, 5.0, clock.hook { (i, centers, assigned) =>
        p.span("kmeans.Sinks.writeCentroidsTsv") {
          Sinks.writeCentroidsTsv(out.resolve(s"iteration_$i/part-r-00000").toString, centers)
        }
        scores += p.span("eval.Silhouette.collectMetrics")(Silhouette.collectMetrics(assigned))
      })
    }
    p.timed("kmeans.Sinks.writeClusteredDataFile") {
      Sinks.writeClusteredDataFile(out.resolve("clustered").toString, Assign.assign(raw, r.centers.map(_._2)))
    }

    val want = expected(p.index)
    p.check("iterations")(r.iterations == want.iterations && r.converged == want.converged)
    p.check("centroid history") {
      r.history.size == want.history.size &&
        r.history.zip(want.history).forall { case (got, cents) =>
          got.size == cents.size && got.zip(cents).forall { case ((id, c), w) =>
            id == w.id && sameBits(c.x, w.x) && sameBits(c.y, w.y) && sameBits(c.z, w.z)
          }
        }
    }
    p.check("iteration files") {
      want.history.zipWithIndex.forall { case (cents, i) =>
        Files.readString(out.resolve(s"iteration_$i/part-r-00000")) ==
          cents.map(c => s"${c.id}\t${c.x},${c.y},${c.z}\n").mkString
      }
    }
    p.check("silhouette rows") {
      scores.size == want.sizes.size && scores.zip(want.sizes).forall { case (s, sizes) =>
        s.map(_._1) == sizes.indices.filter(sizes(_) > 1) &&
          s.forall { case (_, _, _, score) => score >= -1.0 && score <= 1.0 }
      }
    }
    val lines = Files.readAllLines(out.resolve("clustered/part-r-00000"))
    val memberCounts = (0 until lines.size).map { j =>
      val l = lines.get(j)
      l.takeWhile(_ != '\t').toInt -> (l.split("; ", -1).length - 1)
    }
    p.check("clustered data file") {
      val members = (0 until n).groupBy(SeqLloyd.nearest(xyz, _, SeqLloyd.flat(want.history.last)))
      memberCounts.size == members.size &&
        memberCounts.forall { case (id, count) => members.get(id).exists(_.size == count) }
    }
    val dropped = n + malformed - memberCounts.map(_._2).sum
    p.check("malformed lines dropped")(dropped == malformed)
    p.layer("runner.iterations") = r.iterations
    p.layer("points.rows_dropped") = dropped.toDouble
    p.layer("sinks.bytes") = Inputs.du(out)._1.toDouble
  }

  def layers(t: PassTrace, p: Pass): Map[String, Double] = {
    val conv = t.named("kmeans.KMeansRunner.converge").head
    val own = t.ownCounters(conv)
    val iters = p.layer("runner.iterations")
    val steps = p.samples("step_ms")
    val later = steps.drop(1)
    val sinks = t.spans.filter(_.name.startsWith("kmeans.Sinks."))
    val sil = t.named("eval.Silhouette.collectMetrics")
    Map(
      "points.scan_s" -> (if (later.isEmpty) 0.0 else math.max(0.0, steps.head - Stats.median(later.toSeq)) / 1e3),
      "runner.jobs_per_iter" -> own.jobs / iters,
      "runner.gap_share" -> t.gapShare(conv),
      "runner.step_ms_p50" -> Stats.median(steps.toSeq),
      "assign.stage_cpu_s" -> own.cpuNs / iters / 1e9,
      "recenter.shuffle_bytes" -> own.shuffleWriteBytes / iters,
      "sinks.write_s" -> sinks.map(_.durNs).sum / 1e9,
      "silhouette.call_s" -> Stats.median(sil.map(_.durNs / 1e9)),
      "silhouette.jobs" -> Stats.median(sil.map(t.counters(_).jobs.toDouble)),
      "silhouette.shuffle_bytes" -> Stats.median(sil.map(t.counters(_).shuffleWriteBytes.toDouble)))
  }
}
