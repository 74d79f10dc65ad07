package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Two-slot LRU memo of an expensive shared stage, keyed by (session
  * identity, dir). Two slots keep the correctness dir and the bench dir
  * warm in one session; a third key drops the least-recently-used slot.
  *
  * Builds must be DETERMINISTIC and return an ALREADY-MATERIALIZED value
  * (the call site materializes through [[SessionDirMemo.pin]], or returns
  * a projection of a [[ConnectedComponents]] result, which is already a
  * checkpoint). Eviction only drops the slot and never unpersists
  * (ADVICE r13: a reader may still hold a lineage-truncated frame).
  * Spark's ContextCleaner frees the evicted build's checkpoint blocks
  * once no plan or RDD can reach them.
  *
  * Inside [[SessionDirMemo.rawChain]] `get` runs `build` without reading
  * or writing a slot, and `pin` is the identity, so every memoized
  * builder returns its raw lazy chain: the form the plan gates audit and
  * the neutrality spec compares against the slot.
  *
  * `get` is synchronized, so concurrent first callers build once. A build
  * may `get` another memo; each `get` takes only its own monitor, so locks
  * nest in build-dependency order, which has no cycle. */
private[graft] final class SessionDirMemo[V] {
  private val capacity = 2
  // most-recently-used first; length ≤ capacity
  private var slots: List[(SparkSession, String, V)] = Nil

  def get(s: SparkSession, dir: String)(build: => V): V =
    if (SessionDirMemo.inRawChain) build
    else synchronized {
      slots.find { case (ss, d, _) => (ss eq s) && d == dir } match {
        case Some(hit @ (_, _, v)) =>
          slots = hit :: slots.filterNot(_ eq hit)
          v
        case None =>
          val built = build
          slots = ((s, dir, built) :: slots).take(capacity)
          built
      }
    }

  /** Test hook: how many distinct builds are currently pinned. */
  private[graft] def pinned: Int = synchronized(slots.size)
}

private[graft] object SessionDirMemo {
  // a plain ThreadLocal, not an inheritable one: threads Spark starts
  // inside a raw scope must not keep the mode after it exits
  private val raw = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Whether the calling thread is inside [[rawChain]]. */
  private[graft] def inRawChain: Boolean = raw.get

  /** The one materialization of a memo build: a
    * [[CheckpointBlocks.checkpoint]], or the input itself inside
    * [[rawChain]]. */
  def pin(df: DataFrame): DataFrame =
    if (inRawChain) df else CheckpointBlocks.checkpoint(df)

  /** Test hook: evaluates `body` with every memo bypassed and every
    * [[pin]] a no-op, on this thread only. Scopes nest, and the previous
    * mode comes back even when `body` throws. */
  def rawChain[T](body: => T): T = {
    val prev = raw.get
    raw.set(true)
    try body
    finally raw.set(prev)
  }
}
