package perfbench

import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{SparkEntry, Tables}

/** One timed call the user makes: a query, a pipeline run, a curation run. */
final case class Op(name: String, seconds: Double, error: Option[String])

/** An output check; `error` names the mismatch. */
final case class Check(name: String, error: Option[String])

/** A benchmark workload. `prepare` and `check` run outside the timed
  * windows; `unit` is one unit of work, and `traced` asks it to split its
  * calls into the finest public layers it reaches. */
trait Workload {
  /** Called with every frame the harness builds, so the trace can read the
    * Catalyst analysis that ran while it was built. */
  var built: DataFrame => Unit = _ => ()
  def prepare(): Unit
  def unit(i: Int, traced: Boolean): Seq[Op]
  def check(): Seq[Check]
  /** Workload-specific layer figures for the trace report, per traced unit. */
  def layerReport(tracedUnits: Set[Int], jobs: Int => Long): Map[String, Double]
}

object Workload {
  def timed(name: String)(body: => Unit): Op = {
    val t0 = Clock.now()
    val error =
      try { body; None }
      catch { case NonFatal(e) => Some(s"$name: $e") }
    Op(name, Clock.now() - t0, error)
  }

  def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def check(name: String)(ok: => Option[String]): Check =
    try Check(name, ok)
    catch { case NonFatal(e) => Check(name, Some(s"$name: $e")) }

  /** Mean duration of the spans named `name` in the traced units. */
  def meanSpan(spans: Spans, tracedUnits: Set[Int], name: String): Double = {
    val s = spans.all.filter(x => x.name == name && tracedUnits(x.unit))
    if (tracedUnits.isEmpty) 0.0 else s.map(_.seconds).sum / tracedUnits.size
  }

  def meanJobs(spans: Spans, tracedUnits: Set[Int], name: String,
      jobs: Int => Long): Double = {
    val s = spans.all.filter(x => x.name == name && tracedUnits(x.unit))
    if (tracedUnits.isEmpty) 0.0 else s.map(x => jobs(x.id)).sum.toDouble / tracedUnits.size
  }
}

/** A fixed sample of the query suite, run in a fixed order over seeded
  * tables. Each query is built (`construct`) and then fully computed by a
  * noop write (`execute`). The order is not seeded: whichever query runs
  * first pays most of the JIT warm-up, so a seeded order would move the
  * cold time from seed to seed. */
final class QueriesWorkload(spark: SparkSession, spans: Spans, dataDir: String,
    runDir: String, n: Int) extends Workload {
  import Workload._
  private val fns = SparkEntry.queries
  val order: Seq[String] = QueriesWorkload.sample(n)

  def prepare(): Unit = Tables.load(spark, dataDir, "lineitem")

  def unit(i: Int, traced: Boolean): Seq[Op] = order.map { q =>
    timed(q) {
      val df = spans(q, "construct")(fns(q)(spark, dataDir))
      built(df)
      spans(q, "execute")(noopWrite(df))
    }
  }

  /** Writes each query's result for the oracle comparison made after the
    * process exits, as the suite's own correctness dump does. */
  def check(): Seq[Check] = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$runDir/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (q, _) => order.contains(q) }))
    order.map(q => Workload.check(q) {
      fns(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$runDir/results/$q")
      None
    })
  }

  def layerReport(tracedUnits: Set[Int], jobs: Int => Long): Map[String, Double] =
    Map.empty
}

object QueriesWorkload {
  import graft.queries._
  /** The query packs, in the order `SparkEntry` lists them. */
  val packs: Seq[graft.QueryPack] = Seq(
    CoreQueries, FlagshipQueries, JoinQueries, TextQueries,
    DedupQueries, SimilarityQueries, MultimodalQueries, ExtraQueries,
    ArrayQueries, TpchQueries, EventOpsQueries, QualityQueries,
    ScaleQueries, CurationQueries, GraphQueries, TemporalQueries,
    CorpusStatsQueries, EvalQueries, QualityModelQueries)

  /** `n` queries from `n` different packs: walking all queries in the
    * order of a fixed hash of their names, the first query of each pack not
    * yet drawn. The same sample in every run. */
  def sample(n: Int): Seq[String] = {
    val byHash = packs.zipWithIndex
      .flatMap { case (p, i) => p.defs.keys.map(q => (q, i)) }
      .sortBy { case (q, _) => (scala.util.hashing.MurmurHash3.stringHash(q), q) }
    byHash.foldLeft(Vector.empty[(String, Int)]) { case (acc, (q, i)) =>
      if (acc.size < n && !acc.exists(_._2 == i)) acc :+ ((q, i)) else acc
    }.map(_._1)
  }
}

/** `Pipeline.run` over generated hourly bars. Every unit is a new simulated
  * day in the same work directory. A traced unit calls the stages one by
  * one, in `Pipeline.run`'s order. */
final class PipelineWorkload(spark: SparkSession, spans: Spans, dataDir: String,
    runDir: String, symbols: Int) extends Workload {
  import Workload._
  import graft.pipeline.{DataQuality, Pipeline, Retry}
  private val work = s"$runDir/zones"
  private val predictions = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
  private var units = 0

  def prepare(): Unit = Tables.load(spark, dataDir, "bars")

  private def runTs(i: Int): String =
    java.time.LocalDate.of(2026, 1, 1).plusDays(i.toLong)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE) + "T210000Z"

  private def stages(bars: DataFrame, ts: String): Unit = {
    spans("ingest", "pipeline")(
      Pipeline.Ingest.run(spark, bars, s"$work/raw", ts))
    val syms = spans("transform", "pipeline")(
      Pipeline.Transform.run(spark, s"$work/raw", s"$work/processed"))
    spans("quality", "pipeline")(syms.foreach { sym =>
      DataQuality.enforce(spark.read.parquet(s"$work/processed/${sym}_processed"),
        DataQuality.barChecks, s"processed/$sym")
    })
    spans("combine", "pipeline")(
      Pipeline.Combine.run(spark, s"$work/processed", s"$work/combined"))
    spans("predict", "pipeline")(
      Pipeline.Predict.run(spark, s"$work/combined", s"$work/predictions"))
  }

  def unit(i: Int, traced: Boolean): Seq[Op] = {
    val op = timed("pipeline") {
      val bars = spans("bars", "construct")(Tables.load(spark, dataDir, "bars"))
      built(bars)
      // no retry: a failed stage must surface at once, not after the
      // default policy's five-minute back-off
      if (traced) stages(bars, runTs(i))
      else spans("Pipeline.run", "pipeline")(
        Pipeline.run(spark, bars, work, runTs(i), retry = Retry.none))
    }
    units += 1
    if (op.error.isEmpty) predictions += spans("predictions", "check")(
      spark.read.parquet(s"$work/predictions").orderBy("symbol").collect().toSeq)
    Seq(op)
  }

  def check(): Seq[Check] = {
    val bars = Tables.load(spark, dataDir, "bars")
    val cols = Seq("symbol", "Datetime", "Open", "High", "Low", "Close", "Volume")
    Seq(
      Workload.check("predictions per symbol") {
        val p = predictions.lastOption.getOrElse(Nil)
        if (p.size != symbols) Some(s"${p.size} predictions for $symbols symbols")
        else if (p.exists(_.isNullAt(p.head.fieldIndex("predicted_close"))))
          Some("null predicted_close")
        else None
      },
      Workload.check("predictions repeat") {
        if (predictions.size != units) Some(s"${units - predictions.size} units without predictions")
        else if (predictions.distinct.size != 1)
          Some(s"${predictions.distinct.size} distinct prediction sets over ${predictions.size} days")
        else None
      },
      Workload.check("combined equals bars") {
        val combined = spark.read.parquet(s"$work/combined")
          .selectExpr(cols.map(c => s"cast($c as ${bars.schema(c).dataType.sql}) as $c"): _*)
        val want = bars.select(cols.map(bars.col): _*)
        val missing = want.exceptAll(combined).count()
        val extra = combined.exceptAll(want).count()
        if (missing + extra == 0) None
        else Some(s"combined differs from bars: $missing missing, $extra extra rows")
      })
  }

  def layerReport(tracedUnits: Set[Int], jobs: Int => Long): Map[String, Double] = {
    val names = Seq("ingest", "transform", "quality", "combine", "predict")
    val fs = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def size(zone: String) = fs.getContentSummary(new Path(s"$work/$zone")).getLength
    // every day adds raw files; the other zones are overwritten
    val bytes = size("raw").toDouble / units +
      Seq("processed", "combined", "predictions").map(size).sum
    val rows = Tables.load(spark, dataDir, "bars").count()
    names.flatMap { n => Seq(
      s"pipeline.${n}_s" -> meanSpan(spans, tracedUnits, n),
      s"pipeline.$n.jobs" -> meanJobs(spans, tracedUnits, n, jobs))
    }.toMap + ("pipeline.bytes_per_row" -> bytes / rows)
  }
}

/** `CurationPipeline.run` over generated documents with injected exact and
  * near-duplicate copies, then a noop write of the kept corpus and a collect
  * of the attrition report. */
final class CurationWorkload(spark: SparkSession, spans: Spans, dataDir: String,
    injected: Map[String, Set[Long]]) extends Workload {
  import Workload._
  import graft.operators.CurationPipeline
  private var docs: DataFrame = _
  private var last: CurationPipeline.Result = _
  private val reports = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long)]]

  def prepare(): Unit = docs = Tables.load(spark, dataDir, "documents")

  def unit(i: Int, traced: Boolean): Seq[Op] = {
    var report = Seq.empty[(String, Long)]
    val op = timed("curation") {
      val r = spans("CurationPipeline.run", "construct")(
        CurationPipeline.run(docs, "doc_id", "text", "lang"))
      built(r.kept)
      spans("write", "execute")(noopWrite(r.kept))
      report = spans("report", "execute")(
        r.report.collect().toSeq.map(x => (x.getString(0), x.getLong(1))))
      last = r
    }
    if (op.error.isEmpty) reports += report
    Seq(op)
  }

  def check(): Seq[Check] = {
    val report = reports.lastOption.getOrElse(Nil)
    lazy val kept = last.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    Seq(
      Workload.check("report monotone") {
        val n = report.map(_._2)
        if (report.size != 4) Some(s"report has ${report.size} stages")
        else if (n.zip(n.drop(1)).exists { case (a, b) => b > a })
          Some(s"report grows: ${report.mkString(", ")}")
        else None
      },
      Workload.check("report repeats") {
        if (reports.distinct.size == 1) None
        else Some(s"${reports.distinct.size} distinct reports over ${reports.size} units")
      },
      Workload.check("kept matches report") {
        if (kept.size.toLong == report.last._2) None
        else Some(s"kept ${kept.size} docs, report says ${report.last._2}")
      }) ++ injected.toSeq.sortBy(_._1).map { case (kind, ids) =>
      Workload.check(s"injected $kind copies removed") {
        val left = ids.intersect(kept)
        if (left.isEmpty) None
        else Some(s"${left.size} of ${ids.size} injected $kind copies kept")
      }
    }
  }

  def layerReport(tracedUnits: Set[Int], jobs: Int => Long): Map[String, Double] = {
    val report = reports.lastOption.getOrElse(Nil)
    val removed =
      if (report.isEmpty) 0.0 else 1.0 - report.last._2.toDouble / report.head._2
    Map(
      "curation.construct_s" -> meanSpan(spans, tracedUnits, "CurationPipeline.run"),
      "curation.construct.jobs" ->
        meanJobs(spans, tracedUnits, "CurationPipeline.run", jobs),
      "curation.write_s" -> meanSpan(spans, tracedUnits, "write"),
      "curation.report_s" -> meanSpan(spans, tracedUnits, "report"),
      "curation.removed_frac" -> removed)
  }
}
