package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, Tables}

/** The session exactly as the library ships it: `GraftSession.builder` on
  * `local[N]` with N shuffle partitions, then `Tables.configure`. Only the
  * scratch directories point into the run's own directory. */
final class Setup(runDir: String) {
  val jvmStart: Double = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
  val cores: Int = Runtime.getRuntime.availableProcessors
  val buildStart: Double = Clock.now()
  val spark: SparkSession = GraftSession.builder(s"local[$cores]", cores)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$runDir/local")
    .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    .getOrCreate()
  val built: Double = Clock.now()
  Tables.configure(spark)
  val configured: Double = Clock.now()
  /** JVM start until the session is built and configured. */
  def seconds: Double = configured - jvmStart
}

final case class UnitRun(i: Int, traced: Boolean, start: Double, end: Double,
    ops: Seq[Op]) {
  def seconds: Double = ops.map(_.seconds).sum
}

/** One benchmark process.
  *
  * `run <workload> <dataDir> <runDir> <seconds> <trace> <seed> <out>
  * <warmup> <measured> [arg]` builds the session, runs the cold unit and
  * then warm units until `seconds` have passed and at least `warmup` +
  * `measured` warm units ran, runs the
  * output checks, and writes the measurements to `out` as JSON. With
  * `trace` = 1 the listeners are on for the cold unit and for half of the
  * warm units; the other warm units run untraced, which gives the tracing
  * overhead. */
object Harness {

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: workload :: dataDir :: runDir :: seconds :: trace ::
        seed :: out :: warmup :: measured :: rest =>
      val json = run(workload, dataDir, runDir, seconds.toDouble, trace == "1",
        seed.toLong, warmup.toInt, measured.toInt, rest)
      Files.writeString(Paths.get(out), Json(json))
    case _ =>
      System.err.println("usage: Harness run <workload> <dataDir> <runDir> " +
        "<seconds> <trace> <seed> <out> <warmup> <measured> [arg]")
      sys.exit(2)
  }

  private def load(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def run(workload: String, dataDir: String, runDir: String, seconds: Double,
      trace: Boolean, seed: Long, warmup: Int, measured: Int,
      rest: List[String]): Map[String, Any] = {
    val loadStart = load()
    val setup = new Setup(runDir)
    val spark = setup.spark
    val sc = spark.sparkContext
    sc.setCheckpointDir(s"$runDir/checkpoint")
    val spans = new Spans(sc)
    spans.record("jvm+session.build", "session", setup.jvmStart, setup.built)
    spans.record("tables.configure", "session", setup.built, setup.configured)
    val tracer = if (trace) Some(new Tracer(sc)) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    // a workload is one or more parts; a unit of work runs every part once
    val parts: Seq[Workload] = workload match {
      case "queries" =>
        Seq(new QueriesWorkload(spark, spans, dataDir, runDir, rest.head.toInt))
      case "batch" =>
        val Array(symbols, injected) = rest.head.split("\\|", 2)
        Seq(new PipelineWorkload(spark, spans, dataDir, runDir, symbols.toInt),
          new CurationWorkload(spark, spans, dataDir, injected.split(";").toSeq.map { kv =>
            val Array(k, ids) = kv.split("=", 2)
            k -> ids.split(",").filter(_.nonEmpty).map(_.toLong).toSet
          }.toMap))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.foreach(t => parts.foreach(_.built = df => t.addPhases(df.queryExecution)))
    spans("tables.first_load", "session")(parts.foreach(_.prepare()))

    def drain(): Unit = org.apache.spark.graftbench.ListenerFlush.drain(sc)
    // traced mode needs two traced and two untraced warm units
    val minWarm = if (trace) 4 else warmup + measured
    val units = mutable.ArrayBuffer.empty[UnitRun]
    val windowStart = Clock.now()
    while (units.isEmpty || Clock.now() - windowStart < seconds ||
        units.size - 1 < minWarm) {
      val i = units.size
      // traced and untraced warm units alternate in the pattern U T T U, so
      // a steady speed-up of the warm units cancels out of the tracing
      // overhead
      val j = i - 1
      val traced = trace && (i == 0 || j % 4 == 1 || j % 4 == 2)
      drain()
      spans.unit = i
      tracer.foreach { t => t.unit = i; t.on = traced }
      val start = Clock.now()
      val ops = parts.flatMap(_.unit(i, traced))
      val end = Clock.now()
      drain()
      tracer.foreach(_.on = false)
      spans.unit = -1
      units += UnitRun(i, traced, start, end, ops)
    }
    val storage = sc.getRDDStorageInfo
    val cachedMb = storage.map(r => r.memSize + r.diskSize).sum / 1e6
    val checks = spans("checks", "check")(parts.flatMap(_.check()))
    val runEnd = Clock.now()

    // warm units keep speeding up while the JIT settles, and a faster
    // machine fits more of them in the window, so warm_s reads the same
    // unit positions in every run: `measured` units after `warmup` units
    val warm = units.slice(1 + warmup, 1 + warmup + measured)
    val ops = units.flatMap(_.ops)
    val errors = ops.flatMap(_.error) ++ checks.flatMap(_.error)
    val endToEnd = Map(
      "cold_s" -> units.head.seconds,
      "warm_s" -> median(warm.map(_.seconds).toSeq))
    val perLayer = tracer.map { t =>
      layers(t, spans, parts, setup, units.toSeq, runEnd, cachedMb)
    }
    spark.stop()
    Map(
      "workload" -> workload, "seed" -> seed, "cores" -> setup.cores,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "load_start" -> loadStart, "load_end" -> load(),
      "setup_s" -> setup.seconds,
      "units" -> units.map(u => Map("i" -> u.i, "traced" -> u.traced,
        "seconds" -> u.seconds,
        "ops" -> u.ops.map(o => Seq(o.name, o.seconds)))).toSeq,
      "warm_ops" -> warm.flatMap(_.ops).size,
      "warm_op_p50_s" -> median(warm.flatMap(_.ops).map(_.seconds).toSeq),
      "warm_op_p90_s" -> percentile(warm.flatMap(_.ops).map(_.seconds).toSeq, 90),
      "attempted" -> (ops.size + checks.size),
      "failed" -> errors.size,
      "errors" -> errors.take(20).toSeq,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer.map(_._1).getOrElse(Map.empty),
      "trace_report" -> perLayer.map(_._2).getOrElse(Map.empty))
  }

  /** Per-layer figures of the traced run, per traced warm unit, and the
    * trace report with its coverage and workload-specific figures. */
  private def layers(t: Tracer, spans: Spans, parts: Seq[Workload], setup: Setup,
      units: Seq[UnitRun], runEnd: Double, cachedMb: Double)
      : (Map[String, Any], Map[String, Any]) = {
    val warm = units.drop(1)
    val traced = warm.filter(_.traced)
    val tracedIds = traced.map(_.i).toSet
    val k = math.max(1, traced.size).toDouble
    val cs = traced.map(u => t.units.getOrElse(u.i, new UnitCounters))
    def sum(f: UnitCounters => Long): Double = cs.map(f).sum.toDouble
    def per(f: UnitCounters => Long): Double = sum(f) / k
    val jobsOfSpan: Int => Long = id => cs.map(_.spanJobs(id)).sum
    val construct = spans.all.filter(s => s.layer == "construct" && tracedIds(s.unit))
    val wall = traced.map(u => u.end - u.start).sum
    val busy = traced.zip(cs).map { case (u, c) =>
      Tracer.covered(c.taskIntervals.toSeq.map { case (s, e) =>
        (math.max(s / 1e3, u.start), math.min(e / 1e3, u.end))
      }.filter { case (s, e) => e > s })
    }.sum
    val skews = t.stageTaskMs.collect {
      case ((u, _), ms) if tracedIds(u) && ms.size >= 2 && ms.max >= 100 =>
        ms.max.toDouble / math.max(1.0, median(ms.toSeq.map(_.toDouble)))
    }
    val untracedWarm = warm.filterNot(_.traced).map(_.seconds)
    val overhead = median(traced.map(_.seconds)) - median(untracedWarm)
    // coverage: share of the run's wall time, JVM start to the end of the
    // checks, that lies inside some span
    val runWall = runEnd - setup.jvmStart
    val intervals = spans.all.map(s => (s.start, s.end)).toSeq
    val coverage = Tracer.covered(intervals) / runWall
    val gaps = intervals.sortBy(_._1).foldLeft((setup.jvmStart, List.empty[(Double, Double)])) {
      case ((reach, acc), (s, e)) =>
        (math.max(reach, e), if (s > reach) (reach, s) :: acc else acc)
    }._2.sortBy { case (s, e) => s - e }.take(3).map { case (s, e) =>
      val before = spans.all.filter(_.end <= s + 1e-9).sortBy(-_.end).headOption
        .map(_.name).getOrElse("jvm start")
      Map("after" -> before, "seconds" -> (e - s))
    }
    val moduleNames = Seq("operators", "pipeline", "queries", "harness", "other")
    val modules = cs.flatMap(_.modules(t.executionModule)).groupMapReduce(_._1)(_._2) {
      case ((a, b), (c, d)) => (a + c, b + d) }
    val mb = 1e6
    val perLayer: Map[String, Any] = Map(
      "session.build_s" -> (setup.built - setup.buildStart),
      "session.configure_s" -> (setup.configured - setup.built),
      "tables.first_load_s" -> spans.all.find(_.name == "tables.first_load")
        .map(_.seconds).getOrElse(0.0),
      "construct.s" -> construct.map(_.seconds).sum / k,
      "construct.jobs" -> construct.map(s => jobsOfSpan(s.id)).sum / k,
      "construct.jobless_frac" -> (if (construct.isEmpty) 0.0 else
        construct.count(s => jobsOfSpan(s.id) == 0).toDouble / construct.size),
      "plan.analysis_s" -> per(_.analysisMs) / 1e3,
      "plan.optimization_s" -> per(_.optimizationMs) / 1e3,
      "plan.planning_s" -> per(_.planningMs) / 1e3,
      "exec.jobs" -> per(_.jobs),
      "exec.stages" -> per(_.stages),
      "exec.tasks" -> per(_.tasks),
      "exec.failed_tasks" -> per(_.failedTasks),
      "exec.run_s" -> per(_.runMs) / 1e3,
      "exec.cpu_s" -> per(_.cpuNs) / 1e9,
      "exec.gc_s" -> per(_.gcMs) / 1e3,
      "exec.sched_delay_s" -> per(_.schedDelayMs) / 1e3,
      "exec.idle_s" -> (wall - busy) / k,
      "exec.idle_frac" -> (if (wall > 0) (wall - busy) / wall else 0.0),
      "exec.shuffle_read_mb" -> per(_.shuffleRead) / mb,
      "exec.shuffle_write_mb" -> per(_.shuffleWrite) / mb,
      "exec.spill_mb" -> per(_.spill) / mb,
      "exec.peak_mem_mb" -> (if (cs.isEmpty) 0.0 else cs.map(_.peakMem).max / mb),
      "exec.input_mb" -> per(_.input) / mb,
      "exec.output_mb" -> per(_.output) / mb,
      "exec.skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "cached_mb" -> cachedMb,
      "trace.coverage" -> coverage,
      "trace.overhead_s" -> overhead) ++ moduleNames.filter(_ != "other").map { m =>
      s"exec.$m.jobs" -> modules.getOrElse(m, (0L, 0L))._1 / k
    }
    val report: Map[String, Any] = Map(
      "traced_units" -> traced.map(_.i),
      "untraced_units" -> warm.filterNot(_.traced).map(_.i),
      "coverage" -> coverage,
      "largest_gaps" -> gaps,
      "overhead_s" -> overhead,
      // local shuffle reads never wait on a remote fetch, so this reads 0
      // on one machine; it is reported here rather than as a metric
      "exec.fetch_wait_s" -> per(_.fetchWaitMs) / 1e3,
      "cold" -> {
        val c = t.units.getOrElse(0, new UnitCounters)
        Map("seconds" -> units.head.seconds, "jobs" -> c.jobs,
          "stages" -> c.stages, "tasks" -> c.tasks, "run_s" -> c.runMs / 1e3)
      },
      "modules" -> moduleNames.map { m =>
        val (jobs, ms) = modules.getOrElse(m, (0L, 0L))
        m -> Map("jobs" -> jobs / k, "run_s" -> ms / 1e3 / k)
      }.toMap,
      "workload" -> parts.flatMap(_.layerReport(tracedIds, jobsOfSpan)).toMap)
    (perLayer, report)
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
      apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case (a, b) => apply(Seq(a, b))
    case other => apply(other.toString)
  }
}
