package graft

import org.apache.spark.sql.SparkSession

/** The library's one session factory. The builder sets only what must be
  * fixed before the session exists or differs from Spark's defaults:
  *
  *  - the master;
  *  - shuffle partitions sized to the parallelism at hand (not the 200
  *    default);
  *  - zstd as the parquet codec.
  *
  * Every other engine setting and every registration (functions, optimizer
  * rules, the as-of strategy) is applied at runtime by [[Tables.configure]],
  * so callers build here, add their deployment settings (UI, directories),
  * then call `Tables.configure` once; [[get]] does both.
  */
object GraftSession {
  def builder(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.parquet.compression.codec", "zstd")

  def get(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    Tables.configure(s)
    s
  }
}
