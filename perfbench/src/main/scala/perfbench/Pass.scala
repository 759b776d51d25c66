package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** One pass of a workload: its timed calls, latency samples, per-pass
  * layer values and output checks. Checks run outside the timed calls.
  *
  * Every action the benchmark itself runs goes through [[collect]] or
  * [[writeText]], so each evaluates the whole plan of what it consumes:
  * the rows the checks read, or every row written. */
final class Pass(val spark: SparkSession, val tracer: Tracer, val index: Int, val dir: String) {
  var timedNs = 0L
  var cpuNs = 0L
  /** Heap used after the forced GC that follows the pass. */
  var heapMb = 0.0
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.Map.empty[String, Double]

  /** Runs a call of the program inside a span and adds its wall time to
    * the pass time. The jobs it launches carry [[Trace.TimedKey]], so
    * their task CPU counts for the pass and that of the checks does not.
    * Timed calls do not nest. */
  def timed[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.TimedKey, "1")
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally {
      timedNs += System.nanoTime() - t0
      sc.setLocalProperty(Trace.TimedKey, null)
    }
  }

  /** Like [[timed]], and records the call's latency in ms under `sample`. */
  def timedSample[T](name: String, sample: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try timed(name)(body)
    finally record(sample, (System.nanoTime() - t0) / 1e6)
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def record(sample: String, value: Double): Unit =
    samples.getOrElseUpdate(sample, mutable.ArrayBuffer.empty) += value

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed =
      try ok
      catch { case e: Exception => failures += s"$what: $e"; false }
    if (!passed) {
      failed += 1
      if (!failures.exists(_.startsWith(what))) failures += what
    }
  }

  def collect(df: DataFrame): Array[Row] = tracer.span("bench.collect")(df.collect())

  def writeText(ds: Dataset[String], path: String): Unit =
    tracer.span("bench.writeText")(ds.write.mode("overwrite").text(path))
}

/** A piece of a workload: seeded input generation (timed as set-up), the
  * expected outputs (untimed), and its share of the pass. */
trait Part {
  /** Writes the inputs for `seed` under `dir`. */
  def generate(spark: SparkSession, dir: String, seed: Long): Unit

  /** Computes the expected outputs of the inputs generated last. */
  def prepare(spark: SparkSession, dir: String): Unit

  def pass(p: Pass): Unit

  /** Per-layer values of one traced pass. */
  def layers(t: PassTrace, p: Pass): Map[String, Double]
}

/** A benchmark workload: a part with its pass schedule. */
trait Workload extends Part {
  /** Untimed passes before the measured ones: the first pass of a JVM
    * runs 2-4x slower than later ones. */
  def warmupPasses: Int

  /** Measured passes per run, however long they take: the same pass
    * schedule in every run keeps the JIT's warm-up trend out of the
    * spread between runs. */
  def passes: Int
}
