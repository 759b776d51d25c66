package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Engine counters summed over the tasks and jobs of one span (or a run). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** One finished span: a call into a layer, timed on the tracer's clock
  * (nanoseconds since the tracer started). `parent` is -1 for a pass's
  * root span; every span of one pass carries that pass's number. */
final case class SpanRec(id: Int, name: String, parent: Int, pass: Int, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** What the benchmark keeps of one SQL execution: the span that launched
  * it, its call site (Spark's short form, `<action> at <File>.scala:<line>`
  * of the first frame outside Spark and Scala), and the largest row count
  * any join in the executed plan emitted. */
final case class ExecInfo(span: Int, callSite: String, maxJoinRows: Long) {
  /** The source file the action was called from, if the call site names one. */
  def callFile: Option[String] = """ at ([^ :]+\.scala):\d+$""".r.findFirstMatchIn(callSite).map(_.group(1))
}

object Trace {
  /** Local property carrying the launching span's id into every job. The
    * property is inheritable, so jobs submitted from threads the program
    * spawns during the call are attributed to the same span. */
  val SpanKey = "perfbench.span"
  val NoSpan: Int = -1

  /** Local property set while a timed call of a pass runs: task CPU of
    * the stages carrying it makes up the pass's `cpu_s`. */
  val TimedKey = "perfbench.timed"

  /** Children, looking through adaptive wrappers, query stages and into
    * the plan a cache scan builds its cache with. */
  private def childrenOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case m: InMemoryTableScanExec => m.children :+ m.relation.cachedPlan
    case other => other.children ++ other.subqueries
  }

  def maxJoinRows(plan: SparkPlan): Long = {
    val own =
      if (plan.getClass.getSimpleName.contains("Join") ||
          plan.getClass.getSimpleName.contains("CartesianProduct"))
        plan.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      else 0L
    (own +: childrenOf(plan).map(maxJoinRows)).max
  }
}

/** SparkListener attributing every job, stage and task to the span whose
  * id the launching thread carried in [[Trace.SpanKey]]; tasks of
  * unattributed jobs count under [[Trace.NoSpan]]. `timedCpuNs` sums the
  * task CPU of every stage launched inside a timed call, traced or not.
  * Event times (ms) are mapped onto the tracer clock. */
final class Recorder(originNs: Long) extends SparkListener {
  // the wall clock's offset from the monotonic one is read at each event,
  // so a step of the wall clock during the run does not shift the jobs
  // against the spans
  private def toNs(ms: Long): Long =
    ms * 1000000L + (System.nanoTime() - System.currentTimeMillis() * 1000000L) - originNs
  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanKey))).map(_.toInt)
      .getOrElse(Trace.NoSpan)

  private var timedCpu = 0L
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val timedStages = mutable.Set.empty[Int]
  private val callSites = mutable.Map.empty[Long, String]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val spanCounters = mutable.Map.empty[Int, Counters]
  private val spanJobs = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val execs = mutable.ArrayBuffer.empty[ExecInfo]

  private def countersOf(span: Int) = spanCounters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobSpan(e.jobId) = (span, toNs(e.time))
    countersOf(span).jobs += 1
    // several actions on one Dataset can share an execution id: the
    // latest job names the span of the action that is running
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execSpan(id.toLong) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      spanJobs.getOrElseUpdate(span, mutable.ArrayBuffer.empty) += ((start, toNs(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    if (e.properties != null && e.properties.getProperty(Trace.TimedKey) != null)
      timedStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = countersOf(stageSpan.getOrElse(e.stageId, Trace.NoSpan))
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (timedStages(e.stageId)) timedCpu += m.executorCpuTime
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      synchronized(callSites(e.executionId) = e.description)
    case e: SparkListenerSQLExecutionEnd =>
      // only traced executions are kept; the plan walk stays off the
      // untraced passes
      val (span, site) = synchronized(
        (execSpan.remove(e.executionId).getOrElse(Trace.NoSpan), callSites.remove(e.executionId).getOrElse("")))
      if (span != Trace.NoSpan) PerfbenchBridge.queryExecution(e).foreach { qe =>
        val info = ExecInfo(span, site, Trace.maxJoinRows(qe.executedPlan))
        synchronized(execs += info)
      }
    case _ =>
  }

  def counters(span: Int): Counters = synchronized(spanCounters.getOrElse(span, new Counters))
  def jobIntervals(span: Int): Seq[(Long, Long)] =
    synchronized(spanJobs.get(span).map(_.toList).getOrElse(Nil))
  def executions(span: Int): Seq[ExecInfo] = synchronized(execs.filter(_.span == span).toList)
  def timedCpuNs: Long = synchronized(timedCpu)
  /** Every traced execution, in the order they ended. */
  def allExecutions: Seq[ExecInfo] = synchronized(execs.toList)
}

/** In-memory spans around the benchmark's calls into the program. When
  * `on` is false `span` runs its body directly, so an untraced pass pays
  * nothing beyond the always-on task counters. */
final class Tracer(sc: SparkContext) {
  val originNs: Long = System.nanoTime()
  val recorder = new Recorder(originNs)
  sc.addSparkListener(recorder)

  var on = false
  var pass = 0
  private var nextId = 0
  private var stack: List[Int] = Nil
  private val done = mutable.ArrayBuffer.empty[SpanRec]

  def now: Long = System.nanoTime() - originNs

  def currentSpan: Int = stack.headOption.getOrElse(Trace.NoSpan)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(Trace.NoSpan)
      val outer = sc.getLocalProperty(Trace.SpanKey)
      sc.setLocalProperty(Trace.SpanKey, id.toString)
      stack = id :: stack
      val start = now
      try body
      finally {
        val end = now
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanKey, outer)
        synchronized(done += SpanRec(id, name, parent, pass, start, end))
      }
    }

  /** Waits until every posted engine event has reached the recorder. */
  def drain(): Unit = PerfbenchBridge.drainListeners(sc)

  def spans: Seq[SpanRec] = synchronized(done.toList)

  def close(): Unit = sc.removeSparkListener(recorder)
}

/** Span queries over finished spans: one pass's, or a whole run's. */
final class PassTrace(val spans: Seq[SpanRec], recorder: Recorder) {
  private val children: Map[Int, Seq[SpanRec]] = spans.groupBy(_.parent)

  def named(name: String): Seq[SpanRec] = spans.filter(_.name == name).sortBy(_.start)

  def subtree(s: SpanRec): Seq[SpanRec] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Engine counters of the span and every span below it. */
  def counters(s: SpanRec): Counters = {
    val c = new Counters
    subtree(s).foreach(d => c += recorder.counters(d.id))
    c
  }

  /** Engine counters of the spans below `s`, excluding its own. */
  def belowCounters(s: SpanRec): Counters = {
    val c = new Counters
    subtree(s).drop(1).foreach(d => c += recorder.counters(d.id))
    c
  }

  /** Engine counters of the span alone, excluding its child spans. */
  def ownCounters(s: SpanRec): Counters = recorder.counters(s.id)

  def jobIntervals(s: SpanRec): Seq[(Long, Long)] = subtree(s).flatMap(d => recorder.jobIntervals(d.id))

  def executions(s: SpanRec): Seq[ExecInfo] = subtree(s).flatMap(d => recorder.executions(d.id))

  def gapShare(s: SpanRec): Double = Stats.gapShare(s.start, s.end, jobIntervals(s))

  def selfNs(s: SpanRec): Long =
    Stats.selfTime(s.start, s.end, children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
}
