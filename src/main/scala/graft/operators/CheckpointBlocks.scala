package graft.operators

import org.apache.spark.sql.DataFrame

/** The one place that knows how to find a checkpointed frame's cached
  * blocks — used by the iterative loops' eager per-round release
  * ([[BpeTrainer]], [[PrefixScan]]) and the plan gates' leaf checks; a
  * Spark upgrade that moves LogicalRDD must be absorbed exactly once,
  * here. Memo evictions do not come through here: Spark's ContextCleaner
  * frees those blocks once nothing can reach them. */
private[graft] object CheckpointBlocks {

  /** The LogicalRDD leaves of `df`'s analyzed plan — for an eagerly
    * localCheckpoint'd frame, the node holding its cached blocks (and
    * the object every derived plan retains by reference). Best-effort:
    * a frame with no such leaf (not checkpointed) yields Nil. */
  def leaves(df: DataFrame): Seq[org.apache.spark.sql.execution.LogicalRDD] =
    try
      df.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
      }
    catch { case scala.util.control.NonFatal(_) => Nil }

  /** Unpersist every checkpoint block behind `df`, non-blocking and
    * swallowing failures — callers use this only when nothing can read
    * the frame again (a superseded iteration round). */
  def release(df: DataFrame): Unit =
    leaves(df).foreach { l =>
      try l.rdd.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
}
