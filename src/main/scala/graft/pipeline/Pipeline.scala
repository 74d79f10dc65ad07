package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ols

/** The reference's four-stage pipeline (`dags/stock_pipeline_dag.py:50`:
  * ingest >> transform >> combine >> predict) as composable
  * `run(spark, in, out)` stage functions over directory "zones"
  * (SURVEY.md §3). Overwrite-per-run semantics (`minio_utils.py:20-40`
  * clear-bucket) map to `SaveMode.Overwrite`.
  */
object Pipeline {

  /** Raw-zone file format. The reference uploads ONE object per symbol
    * holding ONE JSON array (`json.dumps(records)`,
    * `scripts/stock_ingestor.py:41-42`); Spark's native JSON sink writes a
    * JSONL directory. Semantics downstream are identical — [[Transform]]
    * reads either — so [[RawFormat.JsonLines]] (distributed write) is the
    * default and [[RawFormat.JsonArray]] is the byte-parity option. */
  sealed trait RawFormat
  object RawFormat {
    /** Spark-native JSONL part-file directory (scales with partitions). */
    case object JsonLines extends RawFormat
    /** Reference byte parity: one file, one JSON array of row objects.
      * Materializes the symbol's rows on the driver — exactly the
      * reference's `df.to_dict(orient="records")`, and bounded by the
      * same per-symbol-per-run contract. */
    case object JsonArray extends RawFormat
  }

  /** Stage 1 — ingest (`scripts/stock_ingestor.py`). The yFinance HTTP pull
    * is replaced by a source adapter: any DataFrame with the canonical bar
    * schema (symbol, Datetime, Open, High, Low, Close, Volume). Writes the
    * raw zone exactly like the reference: per-symbol JSON records with
    * flattened "Metric_SYMBOL" names, stringified timestamps (tz-suffixed,
    * `stock_ingestor.py:33-35`), empty frames skipped (`:25-27`).
    *
    * SCALE CAVEAT: this is the parity path — it drives a driver-side loop
    * of O(symbols) Spark jobs (one filter+write per symbol, mirroring the
    * reference's per-ticker loop at `stock_ingestor.py:19-43`), because
    * the raw-zone contract requires per-symbol file NAMES with per-symbol
    * column suffixes. At 10^4+ symbols this stage's job-launch overhead,
    * not Spark, becomes the bottleneck; the scale path is a single
    * `partitionBy("symbol")` job — see
    * [[graft.sources.Formats.writePartitioned]], which Transform-equivalent
    * readers consume directly via partition pruning. */
  object Ingest {
    def run(spark: SparkSession, bars: DataFrame, rawDir: String,
        runTs: String, format: RawFormat = RawFormat.JsonLines)
        : Seq[String] = {
      // symbols come from the frame itself, so no symbol's filter below is
      // empty (the reference's skip-on-empty guard, `:25-27`); a null
      // symbol, which would match no rows, is dropped here
      val symbols = bars.select("symbol").filter(col("symbol").isNotNull)
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      symbols.map { sym =>
        val projected = bars.filter(col("symbol") === sym).select(
          date_format(col("Datetime"), "yyyy-MM-dd HH:mm:ssXXX")
            .as("Datetime_"),
          col("Open").as(s"Open_$sym"),
          col("High").as(s"High_$sym"),
          col("Low").as(s"Low_$sym"),
          col("Close").as(s"Close_$sym"),
          col("Volume").as(s"Volume_$sym"),
          col("symbol"))
        val target = s"$rawDir/${sym}_stock_raw_$runTs.json"
        format match {
          case RawFormat.JsonLines =>
            projected.coalesce(1)
              .write.mode(SaveMode.Overwrite).json(target)
          case RawFormat.JsonArray =>
            // one object, one JSON array — the reference's exact shape
            // (stock_ingestor.py:37-42); overwrite mirrors put_object
            val body = projected.toJSON.collect().mkString("[", ",", "]")
            val fs = FileSystem.get(new java.net.URI(rawDir),
              spark.sparkContext.hadoopConfiguration)
            val out = fs.create(new Path(target), true)
            try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
        }
        sym
      }
    }
  }

  /** Stage 2 — transform (`scripts/transform.py`): latest raw file per
    * symbol (max modification time, path as tie-break — `:11-24`), JSON →
    * normalize → per-symbol parquet in the processed zone. */
  object Transform {
    /** Driver-side listing mirroring the reference's `list_objects_v2` +
      * argmax(LastModified); file count is O(symbols × runs) — metadata
      * only, never data. */
    def latestRawPerSymbol(spark: SparkSession, rawDir: String)
        : Map[String, String] = {
      val fs = FileSystem.get(new java.net.URI(rawDir),
        spark.sparkContext.hadoopConfiguration)
      val stats = Option(fs.globStatus(new Path(s"$rawDir/*_stock_raw_*")))
        .getOrElse(Array.empty)
      stats.toSeq
        .map(st => (st.getPath.getName.split("_stock_raw_")(0),
          (st.getModificationTime, st.getPath.toString)))
        .groupBy(_._1)
        .map { case (sym, files) => sym -> files.map(_._2).max._2 }
    }

    def run(spark: SparkSession, rawDir: String, processedDir: String)
        : Seq[String] = {
      val latest = latestRawPerSymbol(spark, rawDir)
      require(latest.nonEmpty, s"no raw files found under $rawDir")
      val fs = FileSystem.get(new java.net.URI(rawDir),
        spark.sparkContext.hadoopConfiguration)
      latest.toSeq.sortBy(_._1).map { case (sym, path) =>
        // a plain FILE is the reference's single-JSON-array object
        // (RawFormat.JsonArray) and needs multiLine parsing; a directory
        // is Spark's own JSONL sink (RawFormat.JsonLines)
        val raw =
          if (fs.getFileStatus(new Path(path)).isFile)
            spark.read.option("multiLine", "true").json(path)
          else spark.read.json(path)
        Normalize(raw, Some(sym))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$processedDir/${sym}_processed")
        sym
      }
    }
  }

  /** Stage 3 — combine (`scripts/combine_processed.py`, intended semantics
    * per SURVEY §3 defect 1): UNION ALL of every per-symbol processed
    * parquet, aligned by name with null-fill (pandas concat ≡
    * unionByName(allowMissingColumns)); single combined output file. */
  object Combine {
    def run(spark: SparkSession, processedDir: String, combinedDir: String)
        : Unit = {
      // explicit driver-side listing (mirrors the reference's
      // list_objects_v2 at combine_processed.py:13-19) — also avoids the
      // analyzer's noisy glob-path fallback logging
      val fs = FileSystem.get(new java.net.URI(processedDir),
        spark.sparkContext.hadoopConfiguration)
      val dirs = Option(fs.globStatus(new Path(s"$processedDir/*_processed")))
        .getOrElse(Array.empty).map(_.getPath.toString).sorted
      require(dirs.nonEmpty, s"no processed outputs under $processedDir")
      val combined = spark.read.option("mergeSchema", "true")
        .parquet(dirs.toIndexedSeq: _*)
      val keep = Normalize.canonicalOrder.filter(combined.columns.contains)
      val out = combined.select(keep.map(col): _*)
      // reference writes ONE combined object — coalesce(1) is parity at this
      // scale and deliberately NOT what the 100 TB extension ops do.
      out.coalesce(1).write.mode(SaveMode.Overwrite).parquet(combinedDir)
    }
  }

  /** Stage 4 — predict (`scripts/stock_predictor.py`): per-symbol OLS of
    * next close on [open, high, low, volume], next-step forecast from the
    * last row, in-sample MSE; output contract
    * (symbol, predicted_close, last_date, mse) per §2 row 40.
    *
    * The `lead` window runs once. One per-symbol aggregate over its pairs
    * ([[Ols.fit]] with `carry`) yields the normal-equation fit, the pair
    * count behind the min-rows gate and the last row; the in-sample MSE
    * is the exact residual average over pairs ⋈ coef, on the same
    * window exchange. The output is one file sorted by symbol, the
    * reference's single predictions object (`stock_predictor.py:111`).
    * Like Combine's single file this is parity at this scale: the
    * `coalesce(1)` also runs everything after the window exchange (the
    * window, the fit and the MSE) in one task. */
  object Predict {
    val features: Seq[String] = Seq("open", "high", "low", "volume")

    def predictions(combined: DataFrame): DataFrame = {
      // predictor lowercases all names then re-discovers (predictor.py:42)
      val lower = combined.toDF(
        combined.columns.map(_.toLowerCase).toIndexedSeq: _*)
      val present = features.filter(lower.columns.contains)
      // missing-key guard mirroring stock_predictor.py:45-46 (the reference
      // raises on missing key columns rather than fitting garbage)
      require(lower.columns.contains("close") &&
        lower.columns.contains("symbol") &&
        lower.columns.contains("datetime") && present.nonEmpty,
        s"predict needs symbol/datetime/close and ≥1 feature; " +
          s"got ${lower.columns.mkString(", ")}")
      val w = Window.partitionBy("symbol").orderBy("datetime")
      val pairs = lower
        .withColumn("target", lead("close", 1).over(w))
        .na.drop(present :+ "target")
      val last = struct((
        date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("last_date") +:
          present.map(col)): _*)
      // min-rows guard per stock_predictor.py:76-77: <2 usable pairs →
      // symbol skipped (the ridge fallback would otherwise fabricate a fit).
      // Each group's sums do not depend on the other groups, so gating
      // after the fit keeps exactly the fits of the eligible symbols.
      val fit = Ols.fit(pairs, "symbol", present, "target", Seq(
        count(lit(1)).as("n_pairs"),
        max_by(last, col("datetime")).as("last")))
        .filter(col("n_pairs") >= 2)
      val mse = pairs.join(fit.select("symbol", "coef"), "symbol")
        .withColumn("resid", col("target") - Ols.predictExpr(present))
        .groupBy("symbol")
        .agg(avg(col("resid") * col("resid")).as("mse_raw"))
      fit.select(col("symbol"), col("coef"), col("last.*"))
        .join(mse, "symbol")
        .select(
          col("symbol"),
          round(Ols.predictExpr(present), 2).as("predicted_close"),
          col("last_date"),
          round(col("mse_raw"), 4).as("mse"))
        .coalesce(1).sortWithinPartitions("symbol")
    }

    def run(spark: SparkSession, combinedDir: String, predictionsDir: String)
        : DataFrame = {
      val out = predictions(spark.read.parquet(combinedDir))
      out.write.mode(SaveMode.Overwrite).parquet(predictionsDir)
      // the schema is known: reading it back infers nothing (no job)
      spark.read.schema(out.schema).parquet(predictionsDir)
    }
  }

  /** Full composed pipeline over a working directory; returns predictions.
    * Each zone is readable after the run (file boundaries kept for parity —
    * a caller wanting one fused lazy plan can compose the stage functions
    * directly).
    *
    * Between Transform and Combine sits the data-quality gate
    * (DataQuality.enforce): each per-symbol processed output must satisfy
    * the bar contract before Combine may union it — the reference installed
    * great_expectations for exactly this seam and never wired it
    * (`docker-compose.yml:32`). Pass `qualityChecks = Nil` to disable.
    *
    * Each stage runs under the [[Retry]] policy (default mirrors the
    * reference DAG's `retries: 1, retry_delay: 5min`,
    * `dags/stock_pipeline_dag.py:14-18`) — every stage write is an
    * idempotent `SaveMode.Overwrite` into its own zone, so a re-attempt
    * after a partial failure is safe. The quality gate deliberately does
    * NOT retry: a contract violation is deterministic, not transient. */
  def run(spark: SparkSession, bars: DataFrame, workDir: String,
      runTs: String = "20260101T000000Z",
      qualityChecks: Seq[DataQuality.Check] = DataQuality.barChecks,
      retry: Retry.Policy = Retry.Policy(),
      rawFormat: RawFormat = RawFormat.JsonLines)
      : DataFrame = {
    import Retry.withRetry
    withRetry(retry, "ingest") {
      Ingest.run(spark, bars, s"$workDir/raw", runTs, rawFormat)
    }
    val syms = withRetry(retry, "transform") {
      Transform.run(spark, s"$workDir/raw", s"$workDir/processed")
    }
    if (qualityChecks.nonEmpty) syms.foreach { sym =>
      DataQuality.enforce(
        spark.read.parquet(s"$workDir/processed/${sym}_processed"),
        qualityChecks, s"processed/$sym")
    }
    withRetry(retry, "combine") {
      Combine.run(spark, s"$workDir/processed", s"$workDir/combined")
    }
    withRetry(retry, "predict") {
      Predict.run(spark, s"$workDir/combined", s"$workDir/predictions")
    }
  }
}
