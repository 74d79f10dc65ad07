package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  /** One timed execution: wall seconds plus the runtime memory telemetry
    * plan shape cannot see — task spill bytes (memory + disk), max
    * per-task peak execution memory, and the largest materialized
    * broadcast. ArtifactGateSpec gates the committed BENCH_FULL.json on
    * zero spill and bounded peaks and broadcasts.
    * The structural counters — jobs started, stages completed, tasks
    * ended and their summed run time — are load-independent: per-stage
    * scheduler floor dominates the sf0.1 suite, so `stages` is the
    * number a plan change moves and `taskMs` is the real work.
    * `compiles` counts the classes Janino compiled during the run: the
    * generated code the session's class cache missed. */
  private final case class Run(sec: Double, spillBytes: Long,
    peakMem: Long, broadcastBytes: Long,
    jobs: Long, stages: Long, tasks: Long, taskMs: Long, compiles: Long)

  /** Pass 1 is cold (memo builds, schema inference, first code
    * generation); passes 2..4 are warm. Interleaved over the suite, so a
    * query's samples sit a whole pass apart and a load spike shorter than
    * a pass inflates at most one of them. */
  val passes = 4

  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** One query's seconds: `cold` is pass 1, `warm` the median of the clean
    * warm passes with its quartiles `q1`/`q3`. A query without a clean
    * warm run is `failed` (null in the artifact, outside the total); one
    * that otherwise failed some run is `flaky`. */
  final case class Summary(cold: Option[Double], warm: Option[Double],
    q1: Option[Double], q3: Option[Double], failed: Boolean, flaky: Boolean)

  /** Summarizes one query's per-pass seconds (None = a failed run). */
  def summarize(secs: Seq[Option[Double]]): Summary = {
    val warm = secs.drop(1).flatten
    def pct(p: Double) = Option.when(warm.nonEmpty)(percentile(warm, p))
    Summary(secs.headOption.flatten, pct(50), pct(25), pct(75),
      failed = warm.isEmpty, flaky = warm.nonEmpty && secs.exists(_.isEmpty))
  }

  /** The suite total: the sum of the warm medians of the unfailed queries. */
  def total(qs: Seq[Summary]): Double = qs.flatMap(_.warm).sum

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // a failed query leaves exit code 1; a failed artifact write throws
    // past the stop, so a stale artifact never survives a "clean" run
    val ok = try run(spark, sfDir) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def run(spark: SparkSession, sfDir: String): Boolean = {
    Tables.configure(spark)
    // ERROR, not WARN: the bench's only stdout contract is the one JSON
    // line, and WARN classes (executor heartbeats, function registry,
    // unpartitioned windows over bounded intermediates) flooded the tail
    // capture past it. Verify keeps WARN.
    spark.sparkContext.setLogLevel("ERROR")
    // deployment index knobs are the spark.graft.* confs the knob readers
    // consume (SimilarityQueries.lshGeometry/ivfNProbe,
    // DedupQueries.minhashBands); SparkConf loads them from
    // -Dspark.graft.… JVM system properties, and unset = the defaults the
    // oracle contract pins. Parsed as Int HERE: a malformed value fails
    // fast, and the artifact tags below are built from the parsed ints,
    // so a quote or backslash in a value can never corrupt the JSON head.
    def intConf(key: String): Option[Int] =
      spark.conf.getOption(key).map { v =>
        try v.trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$key must be an integer, got '$v'")
        }
      }
    val lshBands = intConf("spark.graft.lsh.bands")
    val lshRows = intConf("spark.graft.lsh.rowsPerBand")
    val ivfNprobe = intConf("spark.graft.ivf.nprobe")
    val minhashBands = intConf("spark.graft.minhash.bands")
    // SPARK_GRAFT_ONLY (Verify.only) iterates on a subset without paying
    // for the full suite. Sorted execution order keeps the query that pays
    // a shared one-time cost in pass 1 the same across runs.
    val only = Verify.only
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // per-query telemetry: task metrics accumulate through a listener
    // scoped by reset/drain around each timed run (the bus is async —
    // without the drain a query's tail events would land in the next
    // query's window); the drains sit OUTSIDE the timed section
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler._
    val spillAcc, peakAcc, bcastAcc = new AtomicLong
    val jobsAcc, stagesAcc, tasksAcc, taskMsAcc = new AtomicLong
    val compiled =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobsAcc.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stagesAcc.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasksAcc.incrementAndGet()
        if (t.taskInfo != null) taskMsAcc.addAndGet(t.taskInfo.duration)
        val m = t.taskMetrics
        if (m != null) {
          spillAcc.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          peakAcc.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
        }
      }
    })
    // broadcast sizes ride a QueryExecutionListener because the timed
    // action (a noop write) compiles its OWN QueryExecution — the
    // constructed df's plan never executes, so only the listener sees
    // the plan whose dataSize metrics are populated
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          bcastAcc.accumulateAndGet(graft.operators.PlanAudit
            .maxBroadcastBytes(qe.executedPlan), math.max(_, _))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    // the timed action is a noop write: it computes every column, where
    // `count()` lets Catalyst prune joins and projections away. A failed
    // run keeps its cause (class and first message line) for the
    // artifact's `errors` map; a fatal error ends the bench.
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Run] = {
      org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
      for (a <- Seq(spillAcc, peakAcc, bcastAcc, jobsAcc, stagesAcc,
          tasksAcc, taskMsAcc)) a.set(0L)
      val compiled0 = compiled.getCount
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val compiles = compiled.getCount - compiled0
        org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
        Right(Run(sec, spillAcc.get, peakAcc.get, bcastAcc.get,
          jobsAcc.get, stagesAcc.get, tasksAcc.get, taskMsAcc.get, compiles))
      }
      catch { case NonFatal(e) =>
        Left(e.getClass.getName + ": " +
          String.valueOf(e.getMessage).linesIterator.nextOption()
            .getOrElse("").take(300))
      }
    }
    // the 1-min load average at each pass END (a pass spans minutes, so
    // the sample reflects that pass's window): ArtifactGateSpec
    // adjudicates the 1 GiB working-set bound only against runs from
    // load-comparable passes, since a loaded box inflates every pass's
    // per-task peak together
    val passLoads = scala.collection.mutable.ArrayBuffer[Double]()
    val samples = (1 to passes).map { _ =>
      val r = ordered.map { case (_, fn) => timeOne(fn) }
      passLoads += java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      r
    }
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      val runs = samples.map(_(i))
      (name, runs.flatMap(_.toOption), runs,
        summarize(runs.map(_.toOption.map(_.sec))))
    }
    val failed = results.collect { case (k, _, _, s) if s.failed => k }
    val flaky = results.collect { case (k, _, _, s) if s.flaky => k }
    def r6(d: Double): String = BigDecimal(d)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    def jsonMap(cells: Seq[(String, String)]): String = cells
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a failed query's cell is null (error-fast wall times would
    // understate it) and it adds nothing to the total, so the total stays
    // comparable across runs as the set of passing queries
    def secMap(f: Summary => Option[Double]): String = jsonMap(
      results.map { case (k, _, _, s) => k -> f(s).fold("null")(r6) })
    def rawMap(f: Run => String): String = jsonMap(results.map {
      case (k, _, runs, _) =>
        k -> runs.map(_.fold(_ => "null", f)).mkString("[", ",", "]") })
    // memory maps take the MAX over clean runs (spill is a defect in any
    // pass, and the broadcast claim is a worst-case one); the structural
    // counters take the MIN, the warm reading once pass 1 has paid any
    // memo build, schema inference and code generation
    def longMap(agg: Seq[Long] => Long, f: Run => Long,
        show: Long => String = _.toString): String = jsonMap(results.map {
      case (k, good, _, _) =>
        k -> (if (good.isEmpty) "null" else show(agg(good.map(f)))) })
    // the cause of every failed run, in run order, for each query with
    // one (failed or flaky); empty on a clean suite
    val qsErrors = jsonMap(results.collect {
      case (k, _, runs, _) if runs.exists(_.isLeft) =>
        k -> runs.collect { case Left(e) => Verify.jsonStr(e) }
          .mkString("[", ",", "]")
    })
    // the head total re-sums the spill_bytes map, as ArtifactGateSpec does
    val spillTotal = results.map { case (_, good, _, _) =>
      good.map(_.spillBytes).maxOption.getOrElse(0L) }.sum
    def names(xs: Iterable[String]): String =
      xs.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ok = failed.isEmpty
    // subset and tuned-knob runs are tagged, so neither can pass for the
    // default-knob full-suite snapshot; a half-set geometry pair is
    // tagged too (it still changed the conf)
    val onlyTag = only.map(o => s""","only":${names(o)}""").getOrElse("")
    val geomTag = (lshBands, lshRows) match {
      case (None, None) => ""
      case (b, r) =>
        s""","lsh_geometry":"${b.map(_.toString).getOrElse("default")}x${
          r.map(_.toString).getOrElse("default")}""""
    }
    val ivfTag = ivfNprobe
      .map(p => s""","ivf_nprobe":$p""").getOrElse("")
    val mhTag = minhashBands
      .map(nb => s""","minhash_bands":$nb""").getOrElse("")
    // freshness linkage: the md5 of the DECLARED query list ties the
    // artifact to the source revision that produced it; ArtifactGateSpec
    // recomputes it from SparkEntry.queries and fails on a stale artifact
    val listMd5 = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(SparkEntry.queries.keys.toSeq.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest.map("%02x".format(_)).mkString
    }
    val hostCpus = Runtime.getRuntime.availableProcessors
    val head = s""""metric":"total","value":${total(results.map(_._4))},"unit":"sec","ok":$ok,"passes":$passes,"failed":${names(failed)},"flaky":${names(flaky)},"sf":"$sfDir","pass_load_avg":${passLoads.map(r6).mkString("[", ",", "]")},"host_cpus":$hostCpus,"spill_bytes_total":$spillTotal,"query_list_md5":"$listMd5"$geomTag$ivfTag$mhTag$onlyTag"""
    // stdout carries exactly ONE small line: a caller that keeps a ~2 KB
    // tail of stdout must get it whole, and the full per-query map
    // (~12 KB) would overflow that. So the line carries the totals plus
    // the 15 slowest warm medians, marked truncated; the full maps land
    // in BENCH_FULL.json.
    // The field keeps the name "queries", which the stdout contract keys
    // per-query seconds on.
    val slowest = results.flatMap { case (k, _, _, s) => s.warm.map(k -> _) }
      .sortBy(-_._2).take(15)
    println(s"""{$head,"n_queries":${results.size},"queries":${jsonMap(slowest.map { case (k, v) => k -> r6(v) })},"queries_truncated":true,"queries_full":"BENCH_FULL.json"}""")
    // subset runs write *_SUBSET artifacts by default so an iteration loop
    // can never clobber the committed full-suite BENCH_FULL/PLANS snapshots
    // (explicit SPARK_GRAFT_BENCH_OUT/PLANS_OUT still override)
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_SUBSET.json" else "BENCH_FULL.json")
    val plansOut = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT",
      if (only.isDefined) "PLANS_SUBSET.json" else "PLANS.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(benchOut),
      s"""{$head,"queries":${secMap(_.warm)},"queries_cold":${secMap(_.cold)},"queries_q1":${secMap(_.q1)},"queries_q3":${secMap(_.q3)},"queries_raw":${rawMap(r => r6(r.sec))},"spill_bytes":${longMap(_.max, _.spillBytes)},"peak_exec_mem_raw":${rawMap(_.peakMem.toString)},"max_broadcast_bytes":${longMap(_.max, _.broadcastBytes)},"jobs":${longMap(_.min, _.jobs)},"stages":${longMap(_.min, _.stages)},"tasks":${longMap(_.min, _.tasks)},"task_sec":${longMap(_.min, _.taskMs, ms => r6(ms / 1e3))},"compiles":${longMap(_.min, _.compiles)},"errors":$qsErrors}""")
    // plan-shape snapshot: PlanAudit over every declared query, so a plan
    // regression (new shuffle, lost broadcast, a cartesian) shows in a
    // diff even when wall-times move for data reasons. Construction runs
    // any eager actions a query's chain holds (checkpoint stages, seed
    // counts, CC) again, after all timing. A query whose audit fails gets
    // a null cell, which ArtifactGateSpec fails on.
    val plans = jsonMap(ordered.map { case (name, fn) =>
      name -> (try {
        val a = graft.operators.PlanAudit.of(fn(spark, sfDir))
        s"""{"shuffles":${a.shuffles},"broadcasts":${a.broadcasts},"scans":${a.scans},"cartesians":${a.cartesians},"nested_loop_joins":${a.nestedLoopJoins},"codegen_spans":${a.codegenSpans},"nodes":${a.nodes},"unpartitioned_windows":${a.unpartitionedWindows},"single_partition_exchanges":${a.singlePartitionExchanges},"reused_exchanges":${a.reusedExchanges},"reused_subqueries":${a.reusedSubqueries}}"""
      } catch { case NonFatal(_) => "null" })
    })
    java.nio.file.Files.writeString(java.nio.file.Paths.get(plansOut), plans)
    ok
  }
}
