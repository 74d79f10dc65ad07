package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftexec.InternalScan
import org.apache.spark.sql.graftexec.InternalScan.FoldCol
import graft.operators.CheckpointBlocks.checkpoint

/** Distributed running aggregates over a TOTAL order — the scale-safe twin
  * of `sum(x)/min(x) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)`, which,
  * like the partition-less rank ([[GlobalRank]]), every SQL engine plans
  * as ONE partition holding the whole input. Same two-pass shape:
  * range-repartition + sort within partitions, then each partition's
  * TOTAL aggregate (one tiny action) becomes a broadcast prefix seed and
  * a second per-partition pass folds rows left-to-right from that seed.
  * The per-row fold over a sorted iterator is genuine per-partition
  * territory (Catalyst expressions cannot carry running state across
  * rows of a partition), the engine's few-RDD-drops rule as in
  * [[GlobalRank]] — and since r21 both operators share ONE InternalRow
  * core ([[org.apache.spark.sql.graftexec.InternalScan]]): the fold runs
  * on primitive ordinals with no external-row round-trip, and a caller
  * needing rank AND running aggregates in the same order pays one range
  * shuffle, one checkpoint and one collect instead of two of each.
  *
  * Values are Long and the folds are exact integer ops (wrap-free up to
  * int64 — callers scale to cents/fixed-point first, the engine-wide
  * de-floating discipline), so results are bit-stable across partition
  * counts and runs given a total `sortExprs` order.
  */
object PrefixScan {

  /** Append `outCol` = running SUM of `valueCol` (inclusive of the current
    * row) in the total order of `sortExprs`. */
  def runningSum(df: DataFrame, valueCol: String, outCol: String,
      sortExprs: Column*): DataFrame =
    InternalScan.scan(df, Seq(FoldCol(valueCol, outCol, 0L, _ + _)),
      None, sortExprs)._1

  /** Append `outCol` = running MIN of `valueCol` (inclusive) in the total
    * order of `sortExprs`. */
  def runningMin(df: DataFrame, valueCol: String, outCol: String,
      sortExprs: Column*): DataFrame =
    InternalScan.scan(df,
      Seq(FoldCol(valueCol, outCol, Long.MaxValue, math.min)),
      None, sortExprs)._1

  /** [[runningMin]] plus the 1-based global rank in the SAME total
    * order, one shuffle + fold pass for both (the q178 sort-scan shape:
    * the rank-shift join that turns an inclusive scan exclusive needs
    * rank and running min together). */
  def runningMinWithRank(df: DataFrame, valueCol: String, outCol: String,
      rankCol: String, sortExprs: Column*): DataFrame =
    InternalScan.scan(df,
      Seq(FoldCol(valueCol, outCol, Long.MaxValue, math.min)),
      Some(rankCol), sortExprs)._1

  /** Append one running-SUM column per `(valueCol, outCol)` pair, all in
    * the SAME total order, in ONE range-shuffle + fold pass. This is the
    * rank-plus-mass shape: a running sum over a ones column IS the
    * 1-based global rank (what [[GlobalRank.withRank]] computes), so a
    * caller needing `row_number()` AND `sum() ROWS UNBOUNDED PRECEDING`
    * over the same order (the q337/q349 vocabulary-coverage curves) pays
    * one shuffle and one checkpoint instead of two of each. */
  def runningSums(df: DataFrame, cols: Seq[(String, String)],
      sortExprs: Column*): DataFrame = {
    require(cols.nonEmpty, "runningSums needs at least one column pair")
    InternalScan.scan(df,
      cols.map { case (v, o) => FoldCol(v, o, 0L, _ + _) },
      None, sortExprs)._1
  }

  /** [[runningSums]], returned as an eager localCheckpoint with the
    * scan's internal range-sorted SCRATCH checkpoint released. The plain
    * form leaves that scratch pinned for the session's life (its blocks
    * back the lazily-read result) — fine for a one-shot query, wrong for
    * a memoized substrate that rebuilds per (session, dir): each rebuild
    * would strand a vocab-scale checkpoint. This is the form a
    * SessionDirMemo build should call. */
  def runningSumsMaterialized(df: DataFrame, cols: Seq[(String, String)],
      sortExprs: Column*): DataFrame = {
    require(cols.nonEmpty, "runningSums needs at least one column pair")
    val (out, _, scratch) = InternalScan.scan(df,
      cols.map { case (v, o) => FoldCol(v, o, 0L, _ + _) },
      None, sortExprs)
    val mat = checkpoint(out)
    // the materialized copy no longer reads the sorted scratch — free
    // its blocks now instead of pinning them for the session's life
    CheckpointBlocks.release(scratch)
    mat
  }
}
