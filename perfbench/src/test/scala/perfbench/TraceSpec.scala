package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("jobs, tasks and job intervals are attributed to the span that launched them") {
    val tracer = new Tracer(spark.sparkContext)
    tracer.on = true
    tracer.span("outer") {
      spark.range(1000).selectExpr("sum(id)").collect()
      tracer.span("inner")(spark.range(1000).repartition(2).selectExpr("count(*)").collect())
      // a thread started inside a span, as Par.run does, inherits it
      tracer.span("threaded") {
        val t = new Thread(() => { spark.range(10).collect(); () })
        t.start(); t.join()
      }
    }
    tracer.on = false
    spark.range(5).collect()
    tracer.drain()
    val t = new PassTrace(tracer.spans, tracer.recorder)
    val outer = t.named("outer").head
    val inner = t.named("inner").head
    assert(inner.parent == outer.id)
    val threaded = t.named("threaded").head
    assert(t.ownCounters(outer).jobs >= 1 && t.counters(inner).jobs >= 1)
    assert(t.counters(threaded).jobs == 1)
    assert(t.counters(outer).jobs ==
      t.ownCounters(outer).jobs + t.counters(inner).jobs + t.counters(threaded).jobs)
    assert(t.counters(inner).shuffleWriteBytes > 0)
    assert(t.counters(outer).tasks > 0 && t.counters(outer).cpuNs > 0)
    assert(t.jobIntervals(outer).forall { case (s, e) => s <= e })
    assert(t.jobIntervals(outer).size == t.counters(outer).jobs)
    val gap = t.gapShare(outer)
    assert(gap >= 0.0 && gap < 1.0)
    assert(t.selfNs(outer) == outer.durNs - inner.durNs - threaded.durNs)
    assert(t.belowCounters(outer).jobs == t.counters(inner).jobs + t.counters(threaded).jobs)
    assert(tracer.recorder.counters(Trace.NoSpan).jobs >= 1)
    tracer.close()
  }

  test("task CPU counts for the pass only inside a timed call, traced or not") {
    val tracer = new Tracer(spark.sparkContext)
    val p = new Pass(spark, tracer, 0, "")
    spark.range(100000).selectExpr("sum(id)").collect()
    tracer.drain()
    assert(tracer.recorder.timedCpuNs == 0L)
    p.timed("call")(spark.range(100000).selectExpr("sum(id)").collect())
    tracer.drain()
    assert(tracer.recorder.timedCpuNs > 0L && p.timedNs > 0L)
    tracer.close()
  }

  test("an untraced span records nothing and runs its body") {
    val tracer = new Tracer(spark.sparkContext)
    assert(tracer.span("off")(41 + 1) == 42)
    assert(tracer.spans.isEmpty)
    tracer.close()
  }

  test("executions keep their call site and the join output rows") {
    val tracer = new Tracer(spark.sparkContext)
    tracer.on = true
    val dir = java.nio.file.Files.createTempDirectory("tracespec").toString
    tracer.span("write")(spark.range(100).selectExpr("cast(id as string) as v").write.mode("overwrite").text(dir))
    tracer.span("count")(spark.range(100).selectExpr("id * 2 as d").count())
    tracer.span("join") {
      val a = spark.range(100).withColumnRenamed("id", "k")
      a.join(a.withColumnRenamed("k", "k2"), col("k") === col("k2")).collect()
    }
    tracer.on = false
    tracer.drain()
    val t = new PassTrace(tracer.spans, tracer.recorder)
    val writes = t.executions(t.named("write").head)
    assert(writes.nonEmpty && writes.forall(_.callFile.contains("TraceSpec.scala")))
    // a bare count, which would evaluate no column of the projection, is
    // seen with the call site that ran it
    val counts = t.executions(t.named("count").head)
    assert(counts.nonEmpty && counts.forall(_.callSite.startsWith("count at TraceSpec.scala:")))
    assert(t.executions(t.named("join").head).map(_.maxJoinRows).max == 100L)
    Inputs.deleteTree(Inputs.path(dir))
    tracer.close()
  }
}
