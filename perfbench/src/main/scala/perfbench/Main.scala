package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark and prints one JSON line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up starts the session on `local[n]` (n = cores, at most 4), writes
  * the seeded inputs three times, computes the expected outputs and runs
  * the warm-up passes; `setup_s` is all of it, with the median input
  * generation counted once. The workload's fixed number of measured
  * passes follows, so the pass count does not depend on the host's speed.
  * A full GC follows every pass, outside its time. With `--trace 0` the JSON carries the end-to-end metrics;
  * with `--trace 1` passes alternate untraced and traced, and it carries
  * the per-layer metrics of the traced passes plus the tracing overhead.
  * Every pass checks its outputs; a failed check makes `correct` false and
  * the exit code 1. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "pass_s" -> "s", "cpu_s" -> "s", "setup_s" -> "s", "heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "points.scan_s" -> "s", "points.rows_dropped" -> "count",
    "runner.iterations" -> "count", "runner.jobs_per_iter" -> "count",
    "runner.gap_share" -> "ratio", "runner.step_ms_p50" -> "ms",
    "assign.stage_cpu_s" -> "s", "recenter.shuffle_bytes" -> "bytes",
    "sinks.write_s" -> "s", "sinks.bytes" -> "bytes",
    "silhouette.call_s" -> "s", "silhouette.jobs" -> "count", "silhouette.shuffle_bytes" -> "bytes",
    "lex.ingest.jobs" -> "count", "lex.ingest.gap_share" -> "ratio", "lex.ingest.bytes_written" -> "bytes",
    "lex.probe.jobs" -> "count", "lex.probe.bytes_read" -> "bytes", "lex.probe.gap_share" -> "ratio",
    "compaction.jobs" -> "count", "compaction.bytes_rewritten" -> "bytes",
    "vacuum.dirs_removed" -> "count", "store.files" -> "count",
    "store.ingest_ms_p50" -> "ms", "store.probe_ms_p50" -> "ms", "store.probe_ms_p75" -> "ms",
    "store.compact_s" -> "s", "store.space_amp" -> "ratio",
    "dedup.jaccard.cpu_s" -> "s", "dedup.jaccard.shuffle_bytes" -> "bytes",
    "dedup.jaccard.spill_bytes" -> "bytes", "dedup.jaccard.yield" -> "ratio",
    "dedup.minhash.cpu_s" -> "s", "dedup.minhash.shuffle_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.gc_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "trace.overhead_s" -> "s")

  /** Spark's cleaner polls its reference queue every 100 ms. */
  val CleanerWaitMs = 300L

  val Workloads: Seq[String] = Seq("lloyd_reference", "text_lifecycle")

  /** The workloads at their benchmark sizes. `text_lifecycle` runs the
    * store lifecycle and the dedup pair finders back to back: as two
    * workloads, their fixed per-run cost (session start, cold pass) would
    * not fit the run budget. */
  def workload(name: String): Workload = name match {
    case "lloyd_reference" => new LloydReference(5000, iterations = 2)
    case "text_lifecycle" => textLifecycle(docs = 1000, dedupDocs = 200, copies = 20)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def textLifecycle(docs: Int, dedupDocs: Int, copies: Int): Workload =
    new Sequenced(Seq(
      new StoreLifecycle(docs, batches = 2, probesAfter = 1, k = 10),
      new TextDedup(dedupDocs, copies, editShare = 0.1, files = 4)),
      // building the one-shot indexes for the store checks already runs
      // the scan, postings and BM25 code; a warm-up pass would not fit
      warmupPasses = 0, passes = 3)

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      // a small, fixed status-store history keeps heap_mb about the program
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class Args(workload: String, seed: Long, trace: Boolean, work: Path, traceOut: Option[Path])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("trace") == "1",
      Inputs.path(need("work")), m.get("trace-out").map(Inputs.path(_)))
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)], failures: Seq[String],
                          warmup: Seq[Pass], measured: Seq[Pass], spans: Seq[SpanRec],
                          recorder: Recorder, cores: Int, loadAvg: Double)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = workload(a.workload)
    val r = run(a, wl)
    r.failures.take(20).foreach(f => System.err.println(s"perfbench: check failed: $f"))
    System.err.println(summary(a, r))
    if (a.trace) a.traceOut.foreach(dir => writeTrace(dir.resolve(s"${a.workload}-seed${a.seed}.jsonl"), r))
    println(json(r))
    System.exit(if (r.correct) 0 else 1)
  }

  def run(a: Args, wl: Workload): Result = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = session(cores, a.work)
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val tracer = new Tracer(spark.sparkContext)
      val input = a.work.resolve("input").toString
      val genS = (0 until 3).map { _ =>
        Inputs.deleteTree(a.work.resolve("input"))
        val g0 = System.nanoTime()
        wl.generate(spark, input, a.seed)
        (System.nanoTime() - g0) / 1e9
      }
      val e0 = System.nanoTime()
      wl.prepare(spark, input)
      val prepareS = (System.nanoTime() - e0) / 1e9
      val passes = mutable.ArrayBuffer.empty[Pass]
      def runPass(traced: Boolean): Pass = {
        // a pass starts from an empty cache: blocks a previous pass left
        // persisted would otherwise serve this pass's identical plans
        spark.catalog.clearCache()
        val p = new Pass(spark, tracer, passes.size, input)
        tracer.pass = p.index
        tracer.on = traced
        val cpu0 = tracer.recorder.timedCpuNs
        try tracer.span("pass")(wl.pass(p))
        finally tracer.on = false
        tracer.drain()
        p.cpuNs = tracer.recorder.timedCpuNs - cpu0
        // every pass starts from a collected heap, and leaves its heap size.
        // The first GC lets Spark's cleaner thread drop the blocks of the
        // broadcasts and shuffles the pass no longer references; the
        // second frees them.
        System.gc()
        Thread.sleep(CleanerWaitMs)
        System.gc()
        p.heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
        passes += p
        p
      }
      val w0 = System.nanoTime()
      val warm = (0 until wl.warmupPasses).map(_ => runPass(traced = false))
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(genS) + prepareS + warmS
      System.err.println(f"perfbench: set-up session $sessionS%.2f s, inputs ${genS.map(g => f"$g%.2f").mkString("/")} s, " +
        f"expected outputs $prepareS%.2f s, warm-up $warmS%.2f s")

      val measured = (0 until wl.passes).map(i => runPass(traced = a.trace && i % 2 == 1))

      val metrics =
        if (!a.trace) {
          val values = Map(
            "pass_s" -> Stats.median(measured.map(_.timedNs / 1e9).toSeq),
            "cpu_s" -> Stats.median(measured.map(_.cpuNs / 1e9).toSeq),
            "setup_s" -> setupS,
            "heap_mb" -> Stats.median(measured.map(_.heapMb).toSeq))
          EndToEnd.map { case (name, unit) => (name, values(name), unit) }
        } else layerMetrics(wl, tracer, measured.toSeq)
      val all = (warm ++ measured).toSeq
      val attempted = all.map(_.attempted).sum
      val failed = all.map(_.failed).sum
      Result(failed == 0 && attempted > 0, attempted, failed, metrics, all.flatMap(_.failures),
        warm.toSeq, measured.toSeq, tracer.spans, tracer.recorder, cores,
        ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
    } finally {
      spark.stop()
      Inputs.deleteTree(a.work.resolve("input"))
      Inputs.deleteTree(a.work.resolve("spark-local"))
    }
  }

  /** Medians over the traced passes of every per-layer metric; layers a
    * workload does not touch read 0. */
  def layerMetrics(wl: Workload, tracer: Tracer, measured: Seq[Pass]): Seq[(String, Double, String)] = {
    val spans = tracer.spans.groupBy(_.pass)
    val (traced, untraced) = measured.partition(p => spans.contains(p.index))
    val perPass = traced.map { p =>
      val t = new PassTrace(spans(p.index), tracer.recorder)
      // the timed calls are the pass span's children; the checks' jobs
      // run in the pass span itself
      val c = t.belowCounters(t.named("pass").head)
      p.layer.toMap ++ wl.layers(t, p) ++ Map(
        "spark.jobs" -> c.jobs.toDouble, "spark.tasks" -> c.tasks.toDouble,
        "spark.gc_s" -> c.gcMs / 1e3, "spark.input_bytes" -> c.inputBytes.toDouble,
        "spark.spill_bytes" -> c.spillBytes.toDouble)
    }
    val overhead =
      if (untraced.isEmpty || traced.isEmpty) 0.0
      else Stats.median(traced.map(_.timedNs / 1e9)) - Stats.median(untraced.map(_.timedNs / 1e9))
    PerLayer.map { case (name, unit) =>
      val v =
        if (name == "trace.overhead_s") overhead
        else {
          val xs = perPass.flatMap(_.get(name))
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
      (name, v, unit)
    }
  }

  /** One stderr line recording the machine, its load, and each latency's
    * sample count with its tail: the highest percentile with ten samples
    * beyond it, where there are enough. */
  def summary(a: Args, r: Result): String = {
    val samples = r.measured.flatMap(_.samples).groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
      val xs = v.flatMap(_._2)
      k + "=" + xs.size + Stats.tailPercentile(xs.size).map(q => f" (p$q%.0f ${Stats.percentile(xs, q)}%.1f ms)").getOrElse("")
    }
    s"perfbench: workload=${a.workload} seed=${a.seed} nproc=${Runtime.getRuntime.availableProcessors()} " +
      s"local[${r.cores}] loadavg=${r.loadAvg} warmup_passes=${r.warmup.size} passes=${r.measured.size} " +
      s"traced_passes=${r.measured.count(p => r.spans.exists(_.pass == p.index))} samples: ${samples.mkString(" ")} " +
      s"checks=${r.attempted} failed=${r.failed} pass_s=" +
      (r.warmup ++ r.measured).map(p => f"${p.timedNs / 1e9}%.2f").mkString("/") + " cpu_s=" +
      (r.warmup ++ r.measured).map(p => f"${p.cpuNs / 1e9}%.2f").mkString("/") + " heap_mb=" +
      (r.warmup ++ r.measured).map(p => f"${p.heapMb}%.1f").mkString("/")
  }

  /** Writes every span of the run, one JSON object a line: name, pass,
    * start and end (ns on the tracer clock), parent, and the engine
    * counters of the span alone. */
  def writeTrace(path: Path, r: Result): Unit = {
    val t = new PassTrace(r.spans, r.recorder)
    val lines = r.spans.sortBy(_.start).map { s =>
      val c = t.ownCounters(s)
      s"""{"id": ${s.id}, "name": "${s.name}", "pass": ${s.pass}, "parent": ${s.parent}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_ns": ${t.selfNs(s)}, "jobs": ${c.jobs}, """ +
        s""""tasks": ${c.tasks}, "cpu_ns": ${c.cpuNs}, "gc_ms": ${c.gcMs}, "input_bytes": ${c.inputBytes}, """ +
        s""""output_bytes": ${c.outputBytes}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
        s""""spill_bytes": ${c.spillBytes}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.map(_ + "\n").mkString)
    System.err.println(s"perfbench: ${lines.size} spans written to $path")
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def json(r: Result): String = {
    val ms = r.metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}
