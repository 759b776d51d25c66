package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Runs every workload at a small size, traced, and checks that its
  * outputs pass, that every per-layer metric is reported, and that the
  * benchmark's own actions all go through `Pass.collect` or
  * `Pass.writeText`, which evaluate the whole plan they consume. */
class WorkloadSpec extends AnyFunSuite {

  private val work = Inputs.path("target", "workload-spec")

  // the benchmark's sources besides Pass.scala: an execution called from
  // one of them is a benchmark action that bypassed Pass, such as a bare
  // count() over a prunable projection
  private val bypassing = new java.io.File("src/main/scala/perfbench").list().toSet - "Pass.scala"

  private val small: Seq[(String, () => Workload)] = Seq(
    "lloyd_reference" -> (() => new LloydReference(500, iterations = 3)),
    "text_lifecycle" -> (() => Main.textLifecycle(docs = 200, dedupDocs = 200, copies = 20)))

  test("every workload has a small instance here") {
    assert(small.map(_._1) == Main.Workloads)
  }

  for ((name, wl) <- small)
    test(s"$name: checks pass and every benchmark action goes through Pass") {
      val r = Main.run(Main.Args(name, seed = 7L, trace = true,
        work = work.resolve(name), traceOut = None), wl())
      assert(r.correct, r.failures.mkString("; "))
      assert(r.attempted > 0)
      assert(r.metrics.map(_._1) == Main.PerLayer.map(_._1))
      val execs = r.recorder.allExecutions
      assert(execs.nonEmpty && execs.forall(_.callFile.nonEmpty))
      val bypass = execs.filter(_.callFile.exists(bypassing))
      assert(bypass.isEmpty, bypass.map(_.callSite).mkString("; "))
      // lloyd_reference's outputs are all collected inside the program
      assert(execs.exists(_.callFile.contains("Pass.scala")) == (name != "lloyd_reference"))
      val layer = r.metrics.map(m => m._1 -> m._2).toMap
      assert(layer("spark.jobs") > 0)
      name match {
        case "lloyd_reference" =>
          assert(layer("silhouette.jobs") > 0 && layer("runner.iterations") == 3)
          assert(layer("points.rows_dropped") == 1)
        case "text_lifecycle" =>
          assert(layer("lex.ingest.jobs") > 0 && layer("store.space_amp") > 0)
          assert(layer("dedup.jaccard.yield") > 0 && layer("dedup.jaccard.yield") <= 1)
      }
    }
}
