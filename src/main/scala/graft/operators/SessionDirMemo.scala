package graft.operators

import org.apache.spark.sql.SparkSession

/** Two-slot LRU memo of an expensive shared stage, keyed by (session
  * identity, dir). Two slots keep the correctness dir and the bench dir
  * warm in one session; a third key drops the least-recently-used slot.
  *
  * Builds must be DETERMINISTIC and return an ALREADY-MATERIALIZED value
  * (the call site does the eager localCheckpoint). Eviction only drops
  * the slot and never unpersists (ADVICE r13: a reader may still hold a
  * lineage-truncated frame). Spark's ContextCleaner frees the evicted
  * build's checkpoint blocks once no plan or RDD can reach them.
  *
  * `get` is synchronized, so concurrent first callers build once. A build
  * may `get` another memo; each `get` takes only its own monitor, so locks
  * nest in build-dependency order, which has no cycle. */
private[graft] final class SessionDirMemo[V] {
  private val capacity = 2
  // most-recently-used first; length ≤ capacity
  private var slots: List[(SparkSession, String, V)] = Nil

  def get(s: SparkSession, dir: String)(build: => V): V = synchronized {
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
