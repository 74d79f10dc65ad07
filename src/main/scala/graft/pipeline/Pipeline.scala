package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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

  /** The entries of `dir` matching the glob `pattern`, from one
    * driver-side listing (the reference's `list_objects_v2`): metadata
    * only, never data. An absent `dir` lists nothing. */
  private def glob(spark: SparkSession, dir: String, pattern: String)
      : Seq[FileStatus] = {
    val fs = FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(s"$dir/$pattern")))
      .fold(Seq.empty[FileStatus])(_.toSeq)
  }

  /** Stage 1 — ingest (`scripts/stock_ingestor.py`). The yFinance HTTP pull
    * is replaced by a source adapter: any DataFrame with the canonical bar
    * schema (symbol, Datetime, Open, High, Low, Close, Volume). Writes the
    * raw zone like the reference: per-symbol JSON records with flattened
    * "Metric_SYMBOL" names, stringified timestamps (tz-suffixed,
    * `stock_ingestor.py:33-35`), empty frames skipped (`:25-27`).
    *
    * Each symbol's raw entry `<SYM>_stock_raw_<runTs>.json` is Spark's
    * JSON sink (`df.write.json`, SURVEY row 2): a directory holding one
    * JSONL part file, since the write is `coalesce(1)`. The reference
    * uploads one plain file holding one JSON array instead; [[Transform]]
    * reads both.
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
        runTs: String): Seq[String] = {
      // symbols come from the frame itself, so no symbol's filter below is
      // empty (the reference's skip-on-empty guard, `:25-27`); a null
      // symbol, which would match no rows, is dropped here
      val symbols = bars.select("symbol").filter(col("symbol").isNotNull)
        .distinct().collect().map(_.getString(0)).sorted.toSeq
      symbols.map { sym =>
        bars.filter(col("symbol") === sym).select(
          date_format(col("Datetime"), "yyyy-MM-dd HH:mm:ssXXX")
            .as("Datetime_"),
          col("Open").as(s"Open_$sym"),
          col("High").as(s"High_$sym"),
          col("Low").as(s"Low_$sym"),
          col("Close").as(s"Close_$sym"),
          col("Volume").as(s"Volume_$sym"),
          col("symbol"))
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .json(s"$rawDir/${sym}_stock_raw_$runTs.json")
        sym
      }
    }
  }

  /** Stage 2 — transform (`scripts/transform.py`): latest raw file per
    * symbol (max modification time, path as tie-break — `:11-24`), JSON →
    * normalize → per-symbol parquet in the processed zone. */
  object Transform {
    /** Driver-side listing mirroring the reference's `list_objects_v2` +
      * argmax(LastModified); file count is O(symbols × runs). */
    def latestRawPerSymbol(spark: SparkSession, rawDir: String)
        : Map[String, FileStatus] =
      glob(spark, rawDir, "*_stock_raw_*")
        .groupBy(_.getPath.getName.split("_stock_raw_")(0))
        .map { case (sym, files) => sym -> files.maxBy(st =>
          (st.getModificationTime, st.getPath.toString)) }

    def run(spark: SparkSession, rawDir: String, processedDir: String)
        : Seq[String] = {
      val latest = latestRawPerSymbol(spark, rawDir)
      require(latest.nonEmpty, s"no raw files found under $rawDir")
      latest.toSeq.sortBy(_._1).map { case (sym, st) =>
        // a plain file is the reference's raw object, one JSON array
        // (stock_ingestor.py:37-42), and needs multiLine parsing; a
        // directory is Ingest's JSONL sink
        val raw = spark.read.option("multiLine", st.isFile)
          .json(st.getPath.toString)
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
    * unionByName(allowMissingColumns)); single combined output file.
    * Returns the combined zone read back over the schema just written, so
    * the reader infers nothing (no job). */
  object Combine {
    def run(spark: SparkSession, processedDir: String, combinedDir: String)
        : DataFrame = {
      // explicit driver-side listing (mirrors the reference's
      // list_objects_v2 at combine_processed.py:13-19) — also avoids the
      // analyzer's noisy glob-path fallback logging
      val dirs = glob(spark, processedDir, "*_processed")
        .map(_.getPath.toString).sorted
      require(dirs.nonEmpty, s"no processed outputs under $processedDir")
      val combined = spark.read.option("mergeSchema", "true")
        .parquet(dirs.toIndexedSeq: _*)
      val keep = Normalize.canonicalOrder.filter(combined.columns.contains)
      val out = combined.select(keep.map(col): _*)
      // reference writes ONE combined object — coalesce(1) is parity at this
      // scale and deliberately NOT what the 100 TB extension ops do.
      out.coalesce(1).write.mode(SaveMode.Overwrite).parquet(combinedDir)
      spark.read.schema(out.schema).parquet(combinedDir)
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
        : DataFrame =
      write(spark.read.parquet(combinedDir), predictionsDir)

    /** Writes the predictions of `combined` and returns them read back.
      * [[Pipeline.run]] passes [[Combine.run]]'s frame, whose schema is
      * known; [[run]] reads the zone and infers it (one job). */
    def write(combined: DataFrame, predictionsDir: String): DataFrame = {
      val out = predictions(combined)
      out.write.mode(SaveMode.Overwrite).parquet(predictionsDir)
      // the schema is known: reading it back infers nothing (no job)
      combined.sparkSession.read.schema(out.schema).parquet(predictionsDir)
    }
  }

  /** Full composed pipeline over a working directory; returns predictions.
    * Each zone is readable after the run (file boundaries kept for parity —
    * a caller wanting one fused lazy plan can compose the stage functions
    * directly).
    *
    * Between Transform and Combine sits the data-quality gate
    * (DataQuality.enforce): each per-symbol processed output must satisfy
    * the bar contract [[DataQuality.barChecks]] before Combine may union
    * it — the reference installed great_expectations for exactly this seam
    * and never wired it (`docker-compose.yml:32`).
    *
    * Each stage runs under the [[Retry]] policy (default mirrors the
    * reference DAG's `retries: 1, retry_delay: 5min`,
    * `dags/stock_pipeline_dag.py:14-18`) — every stage write is an
    * idempotent `SaveMode.Overwrite` into its own zone, so a re-attempt
    * after a partial failure is safe. Only transient failures are
    * re-attempted: a fatal error, an analysis error or a failed `require`
    * guard (no raw files, no processed outputs, predict's missing key
    * columns) fails the stage at once. The quality gate does not run
    * under the policy at all: a contract violation is deterministic. */
  def run(spark: SparkSession, bars: DataFrame, workDir: String,
      runTs: String = "20260101T000000Z",
      retry: Retry.Policy = Retry.Policy()): DataFrame = {
    import Retry.withRetry
    withRetry(retry, "ingest") {
      Ingest.run(spark, bars, s"$workDir/raw", runTs)
    }
    val syms = withRetry(retry, "transform") {
      Transform.run(spark, s"$workDir/raw", s"$workDir/processed")
    }
    syms.foreach { sym =>
      DataQuality.enforce(
        spark.read.parquet(s"$workDir/processed/${sym}_processed"),
        DataQuality.barChecks, s"processed/$sym")
    }
    val combined = withRetry(retry, "combine") {
      Combine.run(spark, s"$workDir/processed", s"$workDir/combined")
    }
    withRetry(retry, "predict") {
      Predict.write(combined, s"$workDir/predictions")
    }
  }
}
