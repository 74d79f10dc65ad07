package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders over a scale-factor directory (TESTDATA.md) and
  * the one place engine settings and registrations live.
  *
  * [[configure]] is idempotent and works on any session — one built by
  * [[GraftSession]] or one a host application built itself — so queries
  * behave identically through Verify, Bench, a test suite or that
  * session. It pins the runtime-settable confs every query relies on:
  *  - `ansi.enabled=false`: the reference tolerates malformed values by
  *    null-ing them (e.g. Polars `strptime(strict=False)`,
  *    reference `scripts/transform.py:47`), so casts/parses must be
  *    null-on-failure, not error.
  *  - UTC session TZ: timestamp→string formatting must agree with the
  *    DuckDB oracle.
  *  - AQE on: runtime shuffle coalescing + skew-join handling — part of the
  *    100 TB posture.
  * and registers, each exactly once, the native functions (`cosine_sim`,
  * `int_gcd`), the optimizer rules (`ApproxDistinctRewrite`,
  * `MaterializedAgg.Rewrite`) and the as-of join strategy.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // events.ts is parquet TIMESTAMP(NANOS), which Spark has no native type
    // for: read it as raw nanos and convert below (exact integer µs
    // truncation — same value DuckDB produces for its µs timestamps).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.expressions.CosineSimilarity.register(spark)
    graft.expressions.Gcd.register(spark)
    val rules = Seq(graft.plans.ApproxDistinctRewrite(),
      graft.plans.MaterializedAgg.Rewrite())
    rules.foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ r
    }
    graft.plans.AsofJoinOps.registerStrategy(spark)
  }

  /** Load one table; column pruning + predicate pushdown reach the parquet
    * scan because this is a plain lazy `spark.read.parquet`.
    *
    * events.ts normalization: the generator has shipped the column as
    * parquet TIMESTAMP(NANOS) (read as raw Long via nanosAsLong) and as
    * TIMESTAMP(MICROS) without isAdjustedToUTC (read as TIMESTAMP_NTZ).
    * Both are normalized to session-TZ TimestampType here so every
    * downstream operator sees ONE stable type across data drops; under
    * the pinned UTC session the NTZ→TZ conversion is value-identity. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    val path = s"$dir/$name.parquet"
    // Schema memo (optimization guide §6 — metadata cost): a bare
    // spark.read.parquet infers the schema EAGERLY at DataFrame creation
    // by reading parquet footers on the driver, and the suite constructs
    // thousands of table loads per bench/verify pass over the same ~10
    // immutable input files. Inferring once per (path, mtime) and
    // replaying via spark.read.schema(...) removes a per-load driver
    // stall without touching the plan: the scan node, pruning and
    // pushdown are identical, only the redundant footer read goes. This
    // is the catalog-metadata discipline every production table format
    // (Iceberg/Delta/Hive metastore) applies at 100 TB — schemas come
    // from metadata, not from re-reading file footers per query. The
    // (mtime, length) key keeps test fixtures honest: a rewritten path
    // re-infers. Status comes from the Hadoop FileSystem (ADVICE r20):
    // java.io.File.lastModified reads 0 for every non-local URI
    // (hdfs://, s3://), which would have served a remote path ONE cached
    // schema for the JVM's life; the FS status also carries the length,
    // so a same-millisecond rewrite still invalidates. Any NonFatal
    // status/infer failure falls back to a plain uncached read so the
    // real error (or a working inference) surfaces on the normal path —
    // fatal errors are never swallowed.
    val schema =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val st = fs.getFileStatus(p)
        val key = s"$path@${st.getModificationTime}:${st.getLen}"
        if (schemaMemo.size > 512) schemaMemo.clear() // fixture-churn cap
        Some(schemaMemo.computeIfAbsent(key,
          _ => spark.read.parquet(path).schema))
      } catch { case scala.util.control.NonFatal(_) => None }
    val df = schema match {
      case Some(sc) => spark.read.schema(sc).parquet(path)
      case None => spark.read.parquet(path)
    }
    if (name == "events") normalizeTs(df) else df
  }

  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** Normalize an events-shaped frame's `ts` to session-TZ TimestampType,
    * whatever physical type the generator shipped (raw nanos Long or
    * TIMESTAMP_NTZ). Public so streaming readers over the same files can
    * apply the identical rule.
    *
    * The NTZ→TimestampType cast below is value-identity ONLY when the
    * session TZ is UTC, so this method pins the session confs itself
    * (configure is idempotent) — a caller that skips [[load]] cannot get
    * a silent wall-clock shift. */
  def normalizeTs(df: DataFrame): DataFrame = {
    configure(df.sparkSession)
    normalizeTs0(df)
  }

  private def normalizeTs0(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", org.apache.spark.sql.functions
        .expr("timestamp_micros(ts div 1000)"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", org.apache.spark.sql.functions
        .col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => df
  }
}
