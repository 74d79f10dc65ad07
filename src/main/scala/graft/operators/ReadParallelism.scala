package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Guard against unsplittable-input under-parallelism (optimization
  * guide §2.5): a parquet file is splittable only at ROW-GROUP
  * granularity, and this corpus's fixture tables ship as one file with
  * ONE row group each — so every scan plans exactly one partition and
  * any CPU-heavy map stage fused onto it (payload synthesis + decode,
  * tokenization + shingle hashing, the 32-fold bootstrap explode) runs
  * on one core regardless of `local[n]`. The guide's remedy is
  * "repartition immediately after the read" — but unconditionally that
  * would add a corpus-scale exchange on a 100 TB deployment whose scans
  * are already thousands of splits wide. So the fan-out is ADAPTIVE:
  * it inspects the upstream partition count and repartitions by a
  * deterministic key to the session's shuffle parallelism ONLY when the
  * scan cannot fill a quarter of it. At production row-group sizing the
  * branch is a structural no-op; on single-row-group fixtures it
  * unlocks the whole box for the map stage. The key must be
  * deterministic (never rand(): retried map tasks would re-draw and
  * duplicate/lose rows — guide §2.5), and callers put the fan-out where
  * the exchanged rows are still NARROW (ids before payload synthesis,
  * text before gram explode), so what moves is small even when the
  * branch does fire.
  */
object ReadParallelism {

  /** `df` repartitioned on `key` to the session parallelism iff its
    * current partitioning cannot fill a quarter of it. */
  def fanOut(df: DataFrame, key: Column): DataFrame = {
    // streaming short-circuit (ADVICE r20): df.rdd throws AnalysisException
    // on a streaming DataFrame, and this helper is embedded in builders the
    // streaming twins share (wavTable/bmpTable/videoTable, bootstrapCiOf).
    // A micro-batch's parallelism is the source's own rate/partitioning
    // decision anyway — pass streaming frames through untouched.
    if (df.isStreaming) return df
    val np = math.max(1,
      df.sparkSession.sessionState.conf.numShufflePartitions)
    // rdd.getNumPartitions compiles the physical plan. On a frame with no
    // exchange that runs nothing; on a frame WITH one, AQE materializes
    // the upstream query stages to build the final RDD, so the probe runs
    // those stages' jobs (and a later action re-runs them unless the
    // frame is materialized). Apply it to scan-adjacent or checkpointed
    // frames.
    if (df.rdd.getNumPartitions * 4 < np) df.repartition(np, key) else df
  }
}
