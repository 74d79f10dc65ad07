package graft.operators

import org.apache.spark.sql.DataFrame

/** The one owner of materialization in `graft`: it makes a checkpoint
  * ([[checkpoint]]), finds its blocks ([[leaves]], also the plan gates'
  * leaf check) and releases them ([[release]], the iterative loops'
  * eager per-round free in [[BpeTrainer]] and [[PrefixScan]]). A frame
  * it returns needs no release by its caller: Spark's ContextCleaner
  * frees the blocks once no plan or RDD reaches them. A change of
  * checkpoint kind, or a Spark upgrade that moves LogicalRDD, is
  * absorbed here once. */
private[graft] object CheckpointBlocks {

  /** Materialize `df` eagerly and return it re-anchored on a LogicalRDD
    * leaf over the computed blocks (a local checkpoint: executor block
    * storage, no reliable copy). */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

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
