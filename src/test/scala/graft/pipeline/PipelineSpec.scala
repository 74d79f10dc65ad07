package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** End-to-end golden pipeline test (SURVEY.md §5 strategy item 3):
  * synthetic bars → raw JSON zone → processed parquet → combined →
  * predictions, asserting the §2 row 40 output contract and exact OLS
  * recovery on an exactly-linear symbol. */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private def ts(h: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")

  /** close[t+1] = 1 + 0.5·open[t] + 0.25·high[t] + 0.2·low[t] + 0.1·vol[t]
    * (+ noise), features deterministic pseudo-random. */
  private def mkBars(sym: String, n: Int, noise: Int => Double)
      : Seq[(String, Timestamp, Double, Double, Double, Double, Long)] = {
    val feats = (0 until n).map(t =>
      ((t * 37 % 11).toDouble, (t * 53 % 13).toDouble,
        (t * 29 % 7).toDouble, (t * 41 % 17).toLong))
    val closes = feats.indices.foldLeft(Vector(100.0)) { (acc, t) =>
      val (o, h, l, v) = feats(t)
      acc :+ (1.0 + 0.5 * o + 0.25 * h + 0.2 * l + 0.1 * v + noise(t))
    }
    (0 until n).map { t =>
      val (o, h, l, v) = feats(t)
      (sym, ts(t), o, h, l, closes(t), v)
    }
  }

  private def toDf(rows: Seq[(String, Timestamp, Double, Double, Double,
      Double, Long)]): DataFrame =
    rows.toDF("symbol", "Datetime", "Open", "High", "Low", "Close", "Volume")

  /** Two fittable symbols (AAPL exactly linear, GOOG noisy) and two the
    * min-rows guard skips. */
  private def bars: DataFrame = toDf(
    mkBars("AAPL", 10, _ => 0.0) ++
      mkBars("GOOG", 9, t => if (t % 2 == 0) 0.3 else -0.3) ++
      mkBars("MSFT", 1, _ => 0.0) ++ // 0 usable pairs → skipped
      mkBars("TWOB", 2, _ => 0.0))   // 1 usable pair → skipped (len>=2 guard)

  test("end-to-end: raw → processed → combined → predictions contract") {
    val dir = Files.createTempDirectory("graft_pipe").toString
    val out = Pipeline.run(spark, bars, dir).orderBy("symbol").collect()

    assert(Pipeline.Predict.predictions(toDf(mkBars("A", 10, _ => 0.0)))
      .columns.toSeq == Seq("symbol", "predicted_close", "last_date", "mse"))
    assert(out.map(_.getString(0)).toSeq == Seq("AAPL", "GOOG"))

    // AAPL is exactly linear: prediction from the last non-null-target row
    // (t=8) must equal close[9]; in-sample mse 0.
    val aapl = out(0)
    val feats8 = ((8 * 37 % 11).toDouble, (8 * 53 % 13).toDouble,
      (8 * 29 % 7).toDouble, (8 * 41 % 17).toLong)
    val expected = 1.0 + 0.5 * feats8._1 + 0.25 * feats8._2 +
      0.2 * feats8._3 + 0.1 * feats8._4
    assert(math.abs(aapl.getDouble(1) -
      BigDecimal(expected).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .toDouble) < 1e-9)
    assert(aapl.getString(2) == "2024-01-01 08:00:00")
    assert(aapl.getDouble(3) == 0.0)

    // noisy symbol still fits, with nonzero in-sample error
    assert(out(1).getDouble(3) > 0.0)
  }

  test("Transform reads the reference's raw object") {
    val rows = mkBars("AAPL", 10, _ => 0.0) ++
      mkBars("GOOG", 9, t => if (t % 2 == 0) 0.3 else -0.3)
    val dirL = Files.createTempDirectory("graft_jsonl").toString
    val dirA = Files.createTempDirectory("graft_jsona").toString
    val outL = Pipeline.run(spark, toDf(rows), dirL).orderBy("symbol").collect()
    // the reference's raw object (stock_ingestor.py:37-42): ONE plain file
    // per symbol holding ONE JSON array of row objects, flattened names,
    // tz-suffixed timestamps, no symbol field
    val stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ssxxx")
    Files.createDirectories(Paths.get(s"$dirA/raw"))
    rows.groupBy(_._1).foreach { case (sym, bars) =>
      val body = bars.map { case (_, t, o, h, l, c, v) =>
        val dt = t.toInstant.atOffset(ZoneOffset.UTC).format(stamp)
        s"""{"Datetime_":"$dt","Open_$sym":$o,"High_$sym":$h,""" +
          s""""Low_$sym":$l,"Close_$sym":$c,"Volume_$sym":$v}"""
      }.mkString("[", ",", "]")
      Files.writeString(
        Paths.get(s"$dirA/raw/${sym}_stock_raw_20240101T000000Z.json"), body)
    }
    Pipeline.Transform.run(spark, s"$dirA/raw", s"$dirA/processed")
    Pipeline.Combine.run(spark, s"$dirA/processed", s"$dirA/combined")
    val outA = Pipeline.Predict.run(spark, s"$dirA/combined",
      s"$dirA/predictions").orderBy("symbol").collect()
    assert(outA.toSeq == outL.toSeq)
  }

  test("a stage's require guard fails Pipeline.run at once, no retry sleep") {
    val dir = Files.createTempDirectory("graft_failfast").toString
    val slept = ArrayBuffer.empty[Long]
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, toDf(Nil), dir,
        retry = Retry.Policy(retries = 1, sleep = ms => { slept += ms; () }))
    }
    assert(e.getMessage.contains("no raw files found"))
    assert(slept.isEmpty, s"slept ${slept.mkString(", ")} ms")
  }

  test("latest raw file per symbol wins (incremental overwrite model)") {
    val dir = Files.createTempDirectory("graft_latest").toString
    Pipeline.Ingest.run(spark, toDf(mkBars("AAPL", 5, _ => 0.0)),
      s"$dir/raw", "20240101T000000Z")
    val shifted = toDf(mkBars("AAPL", 5, _ => 0.0))
      .withColumn("Close", col("Close") + 1000.0)
    Pipeline.Ingest.run(spark, shifted, s"$dir/raw", "20240102T000000Z")
    Pipeline.Transform.run(spark, s"$dir/raw", s"$dir/processed")
    Pipeline.Combine.run(spark, s"$dir/processed", s"$dir/combined")
    val maxClose = spark.read.parquet(s"$dir/combined")
      .agg(max("Close")).head().getDouble(0)
    assert(maxClose > 1000.0, s"expected latest file's data, got $maxClose")
  }

  test("union-by-name: symbol missing a column null-fills in combine") {
    val dir = Files.createTempDirectory("graft_union").toString
    Pipeline.Ingest.run(spark, toDf(mkBars("AAPL", 3, _ => 0.0)),
      s"$dir/raw", "20240101T000000Z")
    // hand-write a processed file missing Volume
    Seq(("2024-01-01 00:00:00", 1.0, "NOVOL"))
      .toDF("Datetime_", "Close_NOVOL", "symbol")
      .transform(Normalize(_))
      .write.parquet(s"$dir/processed/NOVOL_processed")
    Pipeline.Transform.run(spark, s"$dir/raw", s"$dir/processed")
    Pipeline.Combine.run(spark, s"$dir/processed", s"$dir/combined")
    val combined = spark.read.parquet(s"$dir/combined")
    assert(combined.columns.contains("Volume"))
    val novol = combined.filter(col("symbol") === "NOVOL")
    assert(novol.count() == 1 && novol.head().isNullAt(
      novol.columns.indexOf("Volume")))
  }

  test("predictions equal the pinned rows in every column") {
    val dir = Files.createTempDirectory("graft_pin").toString
    val out = Pipeline.run(spark, bars, dir).orderBy("symbol").collect()
    assert(out.toSeq == Seq(
      Row("AAPL", 8.7, "2024-01-01 08:00:00", 0.0),
      Row("GOOG", 6.95, "2024-01-01 07:00:00", 0.054)))
  }

  test("predict with no eligible symbol returns an empty frame") {
    val p = Pipeline.Predict.predictions(toDf(
      mkBars("MSFT", 1, _ => 0.0) ++ mkBars("TWOB", 2, _ => 0.0)))
    assert(p.columns.toSeq ==
      Seq("symbol", "predicted_close", "last_date", "mse"))
    assert(p.collect().isEmpty)
  }

  test("Predict.run fits, gates and takes the last row in one aggregate") {
    val dir = Files.createTempDirectory("graft_jobs").toString
    Pipeline.Ingest.run(spark, bars, s"$dir/raw", "20240101T000000Z")
    Pipeline.Transform.run(spark, s"$dir/raw", s"$dir/processed")
    Pipeline.Combine.run(spark, s"$dir/processed", s"$dir/combined")
    // the bound is the count measured on this Spark version (AQE stage
    // jobs included); re-measure it on an upgrade, like the plan gates
    val n = jobsOf(
      Pipeline.Predict.run(spark, s"$dir/combined", s"$dir/predictions"))
    assert(n <= 5, s"Predict.run ran $n jobs > 5; re-deriving the lead " +
      "window per consumer behind broadcasts, a global sort and a " +
      "schema-inferring read-back ran 10")
  }

  test("Pipeline.run hands Combine's frame to predict without a re-read") {
    val dir = Files.createTempDirectory("graft_run_jobs").toString
    // the bound is the count measured on this Spark version, like the
    // Predict.run guard above
    val n = jobsOf(Pipeline.run(spark, bars, dir, retry = Retry.none))
    assert(n <= 32, s"Pipeline.run ran $n jobs > 32; predict inferring " +
      "the schema of the combined zone it just wrote ran 33")
  }

  test("a repeated Pipeline.run compiles no class") {
    val dir = Files.createTempDirectory("graft_codegen").toString
    val n = warmCompiles(Pipeline.run(spark, bars, dir, retry = Retry.none))
    assert(n.min == 0,
      s"repeated Pipeline.run calls compiled ${n.mkString(", ")} classes")
  }
}
