package graft

import org.apache.spark.sql.SparkSession

/** The library's one session factory. The builder sets only what must be
  * fixed before the session exists or differs from Spark's defaults:
  *
  *  - the master;
  *  - shuffle partitions sized to the parallelism at hand (not the 200
  *    default);
  *  - zstd as the parquet codec;
  *  - a generated-class cache that holds the working set
  *    (`spark.sql.codegen.cache.maxEntries`, 8192 instead of 100). It is a
  *    static conf: `CodeGenerator` reads it once per JVM, the first time
  *    it generates code, so it cannot be set at runtime. The cache is an
  *    LRU, and a working set that cycles through more classes than it
  *    holds misses on every access. One `batch` benchmark unit compiles
  *    178 distinct classes and the full query suite 5,398 per pass at
  *    sf0.01, so under the default every repeated run recompiled all of
  *    them with Janino.
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
      .config("spark.sql.codegen.cache.maxEntries", "8192")

  def get(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    Tables.configure(s)
    s
  }
}
