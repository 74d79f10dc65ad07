package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components by iterative min-label propagation — the missing
  * last step of every dedup pipeline: near-dup operators emit PAIRS
  * (q41/q42/q44), but retention decisions need CLUSTERS (keep one canonical
  * doc per component; similarity is not transitive, so A~B, B~C clusters
  * {A,B,C} even when A~C fails the threshold).
  *
  * Algorithm: every node starts as its own label (its id); each round,
  * every node takes the min label among itself and its neighbors; stop when
  * no label changes. Rounds needed = graph diameter, which for dup clusters
  * is tiny (they are dense near-cliques); each round is one keyed
  * equi-join (edges ⋈ labels on node id) + one min-aggregation — both
  * shuffle-partitioned on node id, nothing driver-side except the
  * converged? count. This is the standard industrial shape
  * (GraphFrames' default CC is the same loop). Min-label's round count is
  * the graph DIAMETER — tiny for dup clusters (dense near-cliques), but a
  * chained near-dup corpus (crawl mirrors A~B~C~…) can produce long
  * paths; for those the loop auto-falls-back after [[starFallbackAt]]
  * rounds to the literature's alternating large-star/small-star algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  * which contracts every component to a star rooted at its min id in
  * O(log n) rounds of the same join/agg primitives — each round rewires
  * every node to its neighborhood min, so distances shrink geometrically
  * instead of by one hop per round.
  *
  * The iteration runs ONLY over edge endpoints. In a dedup workload the
  * pair graph touches a small fraction of the corpus (most documents are
  * unique), so the per-round shuffles are O(edges), not O(corpus) — at
  * 100 TB the difference between propagating a few hundred million
  * endpoint labels and re-shuffling every document id fifty times.
  * Singletons are stitched back with one final outer join.
  *
  * Iteration hygiene at scale: each round's labels are persisted and the
  * previous round's are unpersisted, so lineage does not grow with the
  * iteration count (re-execution of round k reads round k-1's cached
  * labels, not the whole chain). A run releases every cache it made
  * before it returns or throws; the result is a checkpoint, so callers
  * release nothing.
  */
object ConnectedComponents {

  /** Default min-label rounds before switching to alternating-star: dup
    * clusters converge in 2–4 rounds, so 15 propagation rounds only run in
    * full on a genuinely high-diameter graph — exactly the shape star
    * handles in O(log n). (No fallback when the caller's maxIter is ≤ the
    * cap: a tight explicit budget means "fail loudly", not "try harder".)
    * Callers (tests, mostly) override per-call via the `starFallbackAt`
    * PARAMETER of [[components]] — the round-12 form was a @volatile var,
    * which let any suite mutate CC pacing JVM-wide (ADVICE r12). */
  val StarFallbackDefault = 15

  /** Rounds the last alternating-star run took — test introspection only
    * (the O(log n) convergence claim is asserted, not assumed). */
  @volatile private[graft] var lastStarRounds: Int = -1

  /** Rounds the last min-label propagation phase took — test
    * introspection for the pointer-jumping O(log d) claim. */
  @volatile private[graft] var lastPropRounds: Int = -1

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
    * plan embeds the previous round's plan TWICE (once under the join, once
    * under the union), so the logical tree doubles per round — by round ~15
    * the driver spends unbounded CPU in analysis/canonicalization before a
    * single task runs. Lineage-by-cache is not enough: persist() leaves the
    * logical plan intact and only substitutes InMemoryRelation at planning
    * time, after the exponential tree has already been analyzed. At 100 TB
    * the executors never notice; the DRIVER is the component this protects.
    * (r21: deliberately the PUBLIC createDataFrame form, which carries NO
    * statistics — the leaf estimates as "huge", so a mis-estimated round
    * result can never win a size-based broadcast inside the loop; CC's
    * per-round joins are DESIGNED as keyed shuffles against the
    * pre-partitioned edge cache at any scale. A stats-preserving leaf via
    * LogicalRDD.fromDataset was built and measured this round for q134's
    * peel — see the negative-result note there.) */
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
    * already materialized too.
    *
    * `starFirst = true` skips the min-label propagation phase and goes
    * straight to alternating-star. Labels are IDENTICAL either way (both
    * converge to min-id components — the choice is pure cost); use it
    * when the caller KNOWS the graph is high-diameter (a giant sparse
    * component, e.g. the q108 co-order graph), where the 15 propagation
    * rounds are guaranteed wasted work before the fallback fires anyway
    * — q299 measured 31.7s → ~11s from exactly this. The default stays
    * propagation-first: dup clusters converge in 2–4 cheap rounds and
    * never pay star's per-round exact fixed-point check. */
  def components(nodes: DataFrame, edges: DataFrame,
      idCol: String, srcCol: String, dstCol: String,
      maxIter: Int = 50, starFirst: Boolean = false,
      starFallbackAt: Int = StarFallbackDefault): DataFrame = {
    // every cache this run makes, alternating-star's included; the one
    // finally below releases them all — after the result is checkpointed,
    // on non-convergence and on a failed job alike
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      caches += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // persist the symmetric edge set: it seeds the labels and is read
      // once per round, and its lineage may be an arbitrarily expensive
      // upstream pipeline (q67's is the whole shingle→jaccard candidate
      // chain — recomputing it per round cost 4×).
      // PRE-PARTITIONED on the join key (r20, guide §2.4 — partition
      // once, iterate many): every propagation round joins sym on `src`,
      // and an unpartitioned cache re-shuffled the O(E) edge set EVERY
      // round while the labels side is only O(V). One explicit hash
      // repartition before the persist makes the cached InMemoryRelation
      // carry hashpartitioning(src, n) — each round's join then exchanges
      // only the label table. At 100 TB the edge set is the corpus-scale
      // side; this moves the per-round shuffle from O(E) to O(V).
      val np = math.max(1,
        edges.sparkSession.sessionState.conf.numShufflePartitions)
      val sym = persisted(edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
        .repartition(np, col("src")))
      // materialize NOW: the seed below and round 1 both read sym, and two
      // reads racing inside one first job can each recompute the
      // (expensive) edge lineage before the cache is fully populated
      sym.count()
      var cached = persisted(sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp"), col("id").as("prev")))
      var labels = cached.select("id", "comp")
      var iter = 0
      var changed = 1L
      val propCap = if (starFirst) 0 else math.min(maxIter, starFallbackAt)
      // One propagation step per materialization barrier — measured, not
      // assumed (ANALYSIS_r12_q263.md): at small frontier sizes the round
      // cost is per-STAGE scheduler floor, and both attempted
      // accelerations lost or tied on q263's 12-round percolation core —
      // a label-of-label pointer-jump never shortcuts through regional
      // minima (label sinks: 12 rounds stayed 12, join cost added), and
      // chaining two steps per barrier just serializes the same shuffle
      // stages inside one job (5.9–6.3 s either way). The plain loop is
      // the simplest shape with the same measured cost.
      while (changed > 0 && iter < propCap) {
        // neighbor labels flow along edges; min over {self} ∪ neighbors.
        // The self rows are tagged so the round's OLD label rides through
        // the same aggregation as `prev` — change detection costs no extra
        // join/shuffle, just a filter over the (cached) round output.
        val msgs = sym.join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("comp"), lit(false).as("self"))
        val next = persisted(labels.withColumn("self", lit(true))
          .unionByName(msgs)
          .groupBy("id")
          .agg(min("comp").as("comp"),
            min(when(col("self"), col("comp"))).as("prev")))
        // null prev would mean a vertex with no self row — impossible now
        // that labels seed from the endpoint set itself, but kept as a
        // change signal so a future seeding change cannot fake
        // convergence. The changed-row count rides an observe() metric on
        // the noop write that materializes the cache — NOT a separate
        // .count() action: the count's single-partition final reduce was
        // one extra stage of scheduler floor per round (round-12 verdict
        // item 5; A/B numbers in ANALYSIS_r13_ccfloor.md). The observe
        // node sits ABOVE the persist, so the metric fires off the rows
        // streaming out of the cache-building scan and later cache hits
        // never re-fire it.
        changed = materializeCounting(next,
          sum(when(col("prev").isNull || col("comp") =!= col("prev"), 1L)
            .otherwise(0L)))
        cached.unpersist()
        cached = next
        // snap: next round's plan must reference THIS round as a leaf, not
        // as a subtree, or plan size doubles per round (see [[snap]])
        labels = snap(next).select("id", "comp")
        iter += 1
      }
      lastPropRounds = iter
      if (changed != 0 && maxIter > propCap) {
        // high-diameter graph: min-label is pacing at one hop per round —
        // hand the (still-cached) edge set to alternating-star, which
        // returns materialized labels. Star labels cover the final star
        // forest's endpoints; any endpoint whose component IS itself may
        // have contracted away, so re-anchor on the full endpoint set
        // (computed from the still-persisted sym)
        val starLabels = alternatingStar(sym, maxIter, persisted)
        labels = sym.select(col("src").as("id")).distinct()
          .join(starLabels.select(col("id"), col("comp")), Seq("id"), "left")
          .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
        changed = 0
      }
      require(changed == 0,
        s"connected components did not converge in $maxIter rounds")
      // Singletons (declared nodes with no edges) never entered the loop:
      // a full-outer join stitches them back as their own components
      // while keeping undeclared endpoints from the label side; distinct()
      // keeps the one-row-per-id contract if `nodes` carries duplicates.
      // Persisted and counted BEFORE the checkpoint: the checkpoint leaf
      // takes its size statistics from the materialized cache, and those
      // are what the callers' broadcast choices read (a checkpoint of the
      // raw join would estimate as huge — the snap leaves carry none).
      val result = persisted(nodes.select(col(idCol).as("id")).distinct()
        .join(labels, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp")))
      result.count()
      CheckpointBlocks.checkpoint(result)
    } finally caches.foreach(_.unpersist())
  }

  /** Alternating large-star/small-star (Kiveris et al. 2014): contracts
    * every component to a star rooted at its minimum id in O(log n) rounds.
    * Works on the CANONICAL edge set — (u, v) with u > v, distinct, no
    * self-loops — and returns a materialized (id, comp) frame over the
    * final forest's endpoints. Every cache it makes goes through
    * `persisted`, the caller's release list, so [[components]]' one
    * `finally` frees them on every exit path.
    *
    * Large-star: every node u computes m = min(N(u) ∪ {u}) and rewires each
    * LARGER neighbor v > u to m (edge (v, m)). Small-star: every node u
    * computes m = min of its smaller neighbors and rewires them all — plus
    * itself — to m. Both halves emit only (bigger, smaller) pairs, so
    * canonical form is preserved without re-normalizing; both are one
    * groupBy + one join on u, shuffle-partitioned the same way as the
    * min-label loop.
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
    * mid-plan Observation summed by the round's materializing noop write,
    * replacing the former cardinality-compare + left-anti subset job that
    * paced an extra O(E) join on every candidate-converged round. The
    * tests both stop after the identical round — the first whose INPUT is
    * a star forest, which is exactly the first round the old test found
    * next == edges — so round counts and labels are bit-identical
    * (ConnectedComponentsSpec pins both, plus the forced-star paths). */
  private def alternatingStar(sym: DataFrame, maxRounds: Int,
      persisted: DataFrame => DataFrame): DataFrame = {
    var cache = persisted(sym.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct())
    var edges = snap(cache) // leaf plan — same round-over-round rule as the
    // min-label loop: each round must reference the last as a leaf
    // (count() both materializes the canonical-set cache fully and
    // handles the empty-input case; the per-round loop no longer needs
    // cardinalities — the fixed-point test is structural)
    var converged = cache.count() == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      import org.apache.spark.sql.expressions.Window
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
      // Fixed-point test (r21, see the scaladoc): per node u of `both`,
      // `deg` (neighbor count) and `mn` (neighbor min) come off the SAME
      // window partition the large-star min already pays for; the round's
      // input is a min-rooted star forest — i.e. already converged — iff
      // no node has deg ≥ 2 and mn < u. The violation count rides a
      // mid-plan Observation (CollectMetrics passes every pre-filter row
      // through), summed by the round's own materializing noop write —
      // where the old test paid a cardinality compare plus a separate
      // O(E) left-anti job on every candidate-converged round.
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
      // and `next` dedups as it always did.
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
      // upstream violation metric (same fold as the min-label loop)
      next.write.mode("overwrite").format("noop").save()
      converged = obs.get("violations").asInstanceOf[Long] == 0L
      cache.unpersist()
      cache = next
      edges = snap(next)
      round += 1
    }
    lastStarRounds = round
    require(converged,
      s"connected components (alternating star) did not converge in " +
        s"$maxRounds rounds")
    // the fixed point is a forest of min-rooted stars: every leaf's sole
    // neighbor is its root, every root's neighbors are all larger
    val labels = persisted(edges
      .select(col("u").as("id"), col("v").as("nb"))
      .union(edges.select(col("v").as("id"), col("u").as("nb")))
      .groupBy("id").agg(min("nb").as("mv"))
      .select(col("id"), least(col("mv"), col("id")).as("comp")))
    labels.count()
    labels
  }
}
