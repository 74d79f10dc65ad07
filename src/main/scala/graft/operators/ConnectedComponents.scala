package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by alternating large-star/small-star (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC 2014) — the
  * missing last step of every dedup pipeline: near-dup operators emit
  * PAIRS (q41/q42/q44), but retention decisions need CLUSTERS (keep one
  * canonical doc per component; similarity is not transitive, so A~B, B~C
  * clusters {A,B,C} even when A~C fails the threshold).
  *
  * Algorithm: each round rewires every node to its neighborhood minimum,
  * so distances shrink geometrically instead of by one hop per round;
  * every component contracts to a star rooted at its min id in O(log n)
  * rounds on any graph, and in about two on dup clusters (dense
  * near-cliques). Each round is keyed window aggregations over the
  * canonical edge set, shuffle-partitioned on node id, with nothing
  * driver-side except the round's convergence metric.
  *
  * It is the only algorithm. Min-label propagation (one hop per round,
  * rounds = graph diameter) used to run first, with star as a fallback
  * after 15 rounds, on the grounds that dup clusters converged in a few
  * cheap rounds without star's fixed-point check. That check now rides
  * the round's own window as an Observation (r21), and a re-A/B then
  * moved q263 — whose percolated blob takes 12 propagation rounds vs ~6
  * star rounds — to star-first, as q299 already was. Propagation also
  * needed its own hash-partitioned symmetric edge cache, one more eager
  * materialization of the whole upstream pair-mining chain per call.
  *
  * The iteration runs ONLY over edge endpoints. In a dedup workload the
  * pair graph touches a small fraction of the corpus (most documents are
  * unique), so the per-round shuffles are O(edges), not O(corpus).
  * Singletons are stitched back with one final join.
  *
  * Iteration hygiene at scale: each round's edges are persisted, the
  * previous round's are unpersisted, and the next round reads them as a
  * plan leaf, so lineage and planning time stay flat across rounds. A
  * run releases every cache it made before it returns or throws; the
  * result is a checkpoint, so callers release nothing.
  */
object ConnectedComponents {

  /** Rounds the last alternating-star run took — test introspection only
    * (the O(log n) convergence claim is asserted, not assumed). */
  @volatile private[graft] var lastStarRounds: Int = -1

  /** Materialize `df`'s cache AND evaluate one scalar aggregate over its
    * rows in a single job with NO extra exchange: the aggregate rides a
    * [[org.apache.spark.sql.Observation]] metric above the persist and
    * the action is a noop-sink write, so the job's last stage is the
    * cache-building scan itself — where a `.count()`/`.agg().head` adds
    * a single-partition final-reduce stage per call (one scheduler-floor
    * round-trip per CC round; measured in ANALYSIS_r13_ccfloor.md).
    * Returns 0 when the metric is null (empty input). */
  private def materializeCounting(df: DataFrame,
      metric: org.apache.spark.sql.Column): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, coalesce(metric, lit(0L)).as("m"))
      .write.mode("overwrite").format("noop").save()
    obs.get("m").asInstanceOf[Long]
  }

  /** Re-anchor a persisted, materialized round result as a logical-plan
    * LEAF (LogicalRDD over its cached blocks). Without this, every round's
    * plan embeds the previous round's plan TWICE (once per arm of the
    * symmetric union), so the logical tree doubles per round — by round ~15
    * the driver spends unbounded CPU in analysis/canonicalization before a
    * single task runs. Lineage-by-cache is not enough: persist() leaves the
    * logical plan intact and only substitutes InMemoryRelation at planning
    * time, after the exponential tree has already been analyzed. At 100 TB
    * the executors never notice; the DRIVER is the component this protects.
    * (r21: deliberately the PUBLIC createDataFrame form, which carries NO
    * statistics — the leaf estimates as "huge", so a mis-estimated round
    * result can never win a size-based broadcast inside the loop. A
    * stats-preserving leaf via LogicalRDD.fromDataset was built and
    * measured for q134's peel — see the negative-result note there.) */
  private def snap(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Connected components of `edges` over the vertex set `nodes`.
    * `edges`: two integral id columns (undirected; either orientation).
    * `nodes`: one id column — declares the vertex set, so isolated nodes
    * come back as their own singleton components; edge endpoints absent
    * from `nodes` join the vertex set implicitly.
    *
    * Returns (id, comp) with comp = min node id reachable, one row per
    * distinct id, as an already-materialized
    * [[CheckpointBlocks.checkpoint]]. Every cache the run makes (edge
    * set, rounds, result) is released before it returns or throws, so
    * the caller has nothing to release; a projection of the result is
    * already materialized too. `maxIter` is the star-round budget: a
    * graph that has not converged within it fails loudly. */
  def components(nodes: DataFrame, edges: DataFrame,
      idCol: String, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    // every cache this run makes; the one finally below releases them
    // all — after the result is checkpointed, on non-convergence and on
    // a failed job alike
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      caches += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // the CANONICAL edge set — (u, v) with u ≥ v, distinct — cached:
      // its lineage may be an arbitrarily expensive upstream pipeline
      // (q67's is the whole shingle→jaccard candidate chain). Self-loops
      // stay as u == v rows, so their endpoints stay in the vertex set;
      // the rounds skip them. One noop write materializes the cache and
      // counts the non-self-loop edges the rounds start from.
      val canon = persisted(edges
        .select(greatest(col(srcCol), col(dstCol)).as("u"),
          least(col(srcCol), col(dstCol)).as("v"))
        .distinct())
      val nEdges = materializeCounting(canon,
        sum(when(col("u") =!= col("v"), 1L).otherwise(0L)))
      // snap: round 1 reads the cache as a leaf, like every later round
      val labels = alternatingStar(snap(canon).filter(col("u") =!= col("v")),
        nEdges, maxIter, persisted)
      // Star labels cover the final forest's endpoints; declared ids and
      // any endpoint that is its own component's root come back through
      // the left join as their own label; distinct() keeps the
      // one-row-per-id contract if `nodes` carries duplicates.
      // Persisted and counted BEFORE the checkpoint: the checkpoint leaf
      // takes its size statistics from the materialized cache, and those
      // are what the callers' broadcast choices read (a checkpoint of the
      // raw join would estimate as huge — the snap leaves carry none).
      val ids = nodes.select(col(idCol).as("id"))
        .union(canon.select(col("u").as("id")))
        .union(canon.select(col("v").as("id")))
        .distinct()
      val result = persisted(ids.join(labels, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp")))
      result.count()
      CheckpointBlocks.checkpoint(result)
    } finally caches.foreach(_.unpersist())
  }

  /** Alternating large-star/small-star over `edges`, the canonical edge
    * set without self-loops ((u, v) with u > v, distinct; `nEdges` rows):
    * contracts every component to a star rooted at its minimum id and
    * returns (id, comp) over the final forest's endpoints. Every round
    * cache goes through `persisted`, the caller's release list, so
    * [[components]]' one `finally` frees them on every exit path.
    *
    * Large-star: every node u computes m = min(N(u) ∪ {u}) and rewires each
    * LARGER neighbor v > u to m (edge (v, m)). Small-star: every node u
    * computes m = min of its smaller neighbors and rewires them all — plus
    * itself — to m. Both halves emit only (bigger, smaller) pairs, so
    * canonical form is preserved without re-normalizing.
    *
    * Convergence is checked EXACTLY via the structural characterization of
    * the algorithm's fixed points (r21; no checksum probabilism): a
    * canonical edge set is a fixed point of the round iff it is a
    * min-rooted star forest, iff NO node has ≥ 2 neighbors AND a smaller
    * neighbor (a root's neighbors are all larger; a leaf has exactly one
    * neighbor, its root — any other degree/order profile contains a
    * 2-path, which large-star rewires). That per-node predicate rides the
    * round's OWN first window (per-node neighbor count and minimum over
    * the same partition — one WindowExec, zero extra exchanges) as a
    * mid-plan Observation summed by the round's materializing noop write.
    * The loop stops after the first round whose INPUT is a star forest. */
  private def alternatingStar(edges0: DataFrame, nEdges: Long,
      maxRounds: Int, persisted: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    var edges = edges0
    var last: Option[DataFrame] = None
    var converged = nEdges == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      val both = edges.union(
        edges.select(col("v").as("u"), col("u").as("v")))
      // Each half-round's per-node neighborhood minimum rides an
      // unordered window over the node key instead of a min-aggregate +
      // join-back (r20, guide §2.4 — the same one-exchange df-gate
      // discipline the pair miners use): the window's partition IS the
      // join key, so the "compute m per u, attach m to every (u, v)
      // row" shape costs ONE keyed exchange where groupBy + join paid
      // an aggregate exchange AND re-listed its input under the join.
      // Per round: 5 exchanges + 2 joins → 3 exchanges + 0 joins,
      // identical emitted pairs.
      // Fixed-point test (see the scaladoc): per node u of `both`, `deg`
      // (neighbor count) and `mn` (neighbor min) come off the SAME window
      // partition the large-star min already pays for; the round's input
      // is a min-rooted star forest — i.e. already converged — iff no
      // node has deg ≥ 2 and mn < u. The violation count rides a
      // mid-plan Observation (CollectMetrics passes every pre-filter row
      // through), summed by the round's own materializing noop write.
      val w = Window.partitionBy("u")
      val obs = org.apache.spark.sql.Observation()
      val withMin = both
        .withColumn("mn", min(col("v")).over(w))
        .withColumn("deg", count(lit(1)).over(w))
        .observe(obs,
          coalesce(sum(when(col("deg") >= 2L && col("mn") < col("u"), 1L)
            .otherwise(0L)), lit(0L)).as("violations"))
        .withColumn("m", least(col("mn"), col("u")))
      // large-star: m = min(N(u) ∪ {u}); every LARGER neighbor v > u
      // rewires to (v, m) — m ≤ u < v, so the pair is already canonical
      // and can never be a self-loop. NOT distinct()ed: duplicates (two
      // old neighbors of v sharing one min) change neither min downstream
      // and `next` dedups.
      val large = withMin.filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: per (renamed) u, m = min of its (all smaller)
      // neighbors; emit (v, m) for every neighbor plus (u, m) itself —
      // the second arm carries one row per source ROW instead of one
      // per u, which the tail distinct collapses identically.
      // v ≥ m by minimality, v = m is the tautological self-loop.
      val sWithMin = large
        .withColumn("m", min(col("v")).over(Window.partitionBy("u")))
      val next = persisted(sWithMin.select(col("v").as("n"), col("m"))
        .union(sWithMin.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct())
      // one noop write materializes the round's cache AND fires the
      // upstream violation metric
      next.write.mode("overwrite").format("noop").save()
      converged = obs.get("violations").asInstanceOf[Long] == 0L
      last.foreach(_.unpersist())
      last = Some(next)
      // snap: the next round's plan must reference THIS round as a leaf,
      // not as a subtree, or plan size doubles per round (see [[snap]])
      edges = snap(next)
      round += 1
    }
    lastStarRounds = round
    require(converged,
      s"connected components (alternating star) did not converge in " +
        s"$maxRounds rounds")
    // the fixed point is a forest of min-rooted stars: every leaf's sole
    // neighbor is its root, every root's neighbors are all larger
    edges.select(col("u").as("id"), col("v").as("nb"))
      .union(edges.select(col("v").as("id"), col("u").as("nb")))
      .groupBy("id").agg(min("nb").as("mv"))
      .select(col("id"), least(col("mv"), col("id")).as("comp"))
  }
}
