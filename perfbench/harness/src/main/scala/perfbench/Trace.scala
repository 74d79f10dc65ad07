package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch seconds with nanosecond steps, so harness spans and
  * Spark's epoch-millisecond event times share one time axis. */
object Clock {
  private val epochAnchor = System.currentTimeMillis() / 1e3
  private val nanoAnchor = System.nanoTime()
  def now(): Double = epochAnchor + (System.nanoTime() - nanoAnchor) / 1e9
}

/** A timed call from the harness into one layer. `unit` is -1 outside the
  * units of work (setup, checks). */
final case class Span(id: Int, name: String, layer: String, unit: Int,
    start: Double, end: Double) {
  def seconds: Double = end - start
}

/** Spans recorded around the harness's calls into the program. Jobs that
  * Spark launches inside a span carry the span id as a local property, which
  * is how the listener attributes jobs to spans. */
final class Spans(sc: SparkContext) {
  val all = mutable.ArrayBuffer.empty[Span]
  @volatile var unit: Int = -1
  private var nextId = 0

  def apply[T](name: String, layer: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    sc.setLocalProperty(Spans.Key, id.toString)
    val start = Clock.now()
    try body
    finally {
      all += Span(id, name, layer, unit, start, Clock.now())
      sc.setLocalProperty(Spans.Key, null)
    }
  }

  /** A span measured outside this object (the JVM start, for instance). */
  def record(name: String, layer: String, start: Double, end: Double): Unit = {
    nextId += 1
    all += Span(nextId, name, layer, unit, start, end)
  }
}

object Spans { val Key = "perfbench.span" }

/** Per-unit execution counters, summed from task-end events. */
final class UnitCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs, fetchWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, input, output = 0L
  var peakMem = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val spanJobs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  /** Job id -> module at its call site, "" when the job was launched from
    * a thread without a program frame (broadcasts, adaptive stages). */
  val jobModule = mutable.Map.empty[Int, String]
  val jobExecution = mutable.Map.empty[Int, String]
  val jobRunMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  /** Module -> (jobs, executor run ms). A job without a program frame
    * takes the module at the call site of its SQL execution. */
  def modules(executionModule: collection.Map[String, String])
      : Map[String, (Long, Long)] = {
    jobModule.toSeq.map { case (j, m) =>
      val resolved = if (m.nonEmpty) m
        else executionModule.get(jobExecution(j)).filter(_.nonEmpty).getOrElse("other")
      resolved -> (1L, jobRunMs(j))
    }.groupMapReduce(_._1)(_._2) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

/** Scheduler and Catalyst events while tracing is on, attributed to the
  * current unit of work, to the harness span that launched each job, and
  * to the program module at each job's call site. The harness drains the
  * listener bus before it switches units, so no event crosses a unit
  * boundary. */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  @volatile var on = false
  @volatile var unit: Int = -1
  val units = mutable.Map.empty[Int, UnitCounters]
  private val stageJob = mutable.Map.empty[Int, Int]
  /** SQL execution id -> module at the execution's call site. */
  val executionModule = mutable.Map.empty[String, String]
  /** (unit, stage id) -> executor run time of each task. */
  val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  private def counters: UnitCounters = units.getOrElseUpdate(unit, new UnitCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (!on) return
    val c = counters
    c.jobs += 1
    c.jobModule(e.jobId) = Tracer.module(e.stageInfos.map(_.details))
    c.jobExecution(e.jobId) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    e.stageInfos.foreach(s => stageJob(s.stageId) = e.jobId)
    Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key)))
      .foreach(id => c.spanJobs(id.toInt) += 1)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionModule(x.executionId.toString) = Tracer.module(Seq(x.details)) }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (on) counters.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!on || e.taskInfo == null) return
    val c = counters
    val info = e.taskInfo
    c.tasks += 1
    if (info.failed || info.killed) c.failedTasks += 1
    c.taskIntervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        info.gettingResultTime)
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      stageJob.get(e.stageId).foreach(j => c.jobRunMs(j) += m.executorRunTime)
      stageTaskMs.getOrElseUpdate((unit, e.stageId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = addPhases(qe)

  /** Adds the Catalyst phase times of `qe`: of each executed plan (from the
    * listener) and of each frame the harness builds, whose analysis ran
    * eagerly when it was built. */
  def addPhases(qe: QueryExecution): Unit = synchronized {
    if (!on) return
    val c = counters
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms("analysis")
    c.optimizationMs += ms("optimization")
    c.planningMs += ms("planning")
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Tracer {
  /** The program module that launched a job: the package of the first
    * program frame in the job's call-site stack, "" if there is none. */
  def module(callSites: Seq[String]): String = {
    val frames = callSites.iterator.flatMap(_.linesIterator).map(_.trim)
    frames.collectFirst {
      case f if f.startsWith("graft.operators.") => "operators"
      case f if f.startsWith("graft.pipeline.") => "pipeline"
      case f if f.startsWith("graft.queries.") => "queries"
      case f if f.startsWith("perfbench.") => "harness"
      case f if f.startsWith("graft.") => "other"
    }.getOrElse("")
  }

  /** Length of the union of [start, end] intervals, in the same unit. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    var first = true
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > reach) { total += e - s; reach = e; first = false }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }
}
