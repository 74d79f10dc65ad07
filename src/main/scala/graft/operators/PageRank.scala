package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.intDiv
import graft.operators.CheckpointBlocks.checkpoint

/** Fixed-iteration PageRank over an edge list, in pure int64 fixed-point.
  *
  * Why integer arithmetic: the classic double-precision formulation
  * accumulates per-node contribution sums whose result depends on addition
  * order — unacceptable for an oracle-checked operator (and for
  * reproducible re-runs of a 100 TB job). Here every quantity is an
  * integer number of "rank units" (total mass T = 10^12): the initial rank
  * is ⌊T/N⌋, each out-edge carries ⌊r/outdeg⌋ units, the damped update is
  * ⌊3T/(20N)⌋ + ⌊17·S/20⌋ (damping 0.85 = 17/20 as exact integer
  * multiply-then-divide). Integer sums are order-independent, so the
  * result is bit-identical on any engine, any partitioning, any scale.
  * Rounding mass (≤ outdeg per node per round) is deliberately dropped —
  * identically on both sides.
  *
  * Scale shape (same discipline as [[ConnectedComponents]]): one keyed
  * join ranks⋈edges plus one groupBy per iteration — O(edges) shuffle per
  * round, never an N×N product, no driver-side state beyond the loop
  * counter. For long iteration counts persist `edges` once up front (the
  * fixed 3-to-5-round analytics use recomputes the scan, which keeps this
  * function stateless — same trade as q83's documented re-scan).
  *
  * Overflow/exactness: T = 10^12, so 17·S ≤ 1.7·10^13 < 2^53 — every
  * [[intDiv]] precondition holds through the whole computation.
  */
object PageRank {

  val TotalMass: Long = 1000000000000L // 10^12 rank units

  /** Ranks after `iters` damped rounds over `edges` (columns `src`, `dst`;
    * parallel edges should be pre-deduplicated by the caller if unwanted).
    * Returns (node BIGINT, rank BIGINT) for every node that appears as a
    * source or destination. */
  def ranks(edges: DataFrame, iters: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count() // one tiny action; N is needed as a literal
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))

    val base = ((3L * TotalMass / 20L) / n) // exact: long division of longs
    val r0: Long = TotalMass / n

    var ranks = nodes.withColumn("rank", lit(r0))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("node"))
        .join(outdeg, "src")
        .select(col("dst"), intDiv(col("rank"), col("outdeg")).as("c"))
      val sums = contrib.groupBy("dst")
        .agg(sum(col("c").cast("decimal(38,0)")).cast("long").as("s"))
      ranks = nodes
        .join(sums, nodes("node") === sums("dst"), "left")
        .select(col("node"),
          (lit(base) +
            intDiv(lit(17L) * coalesce(col("s"), lit(0L)), lit(20L)))
            .as("rank"))
    }
    ranks
  }

  /** Personalized PageRank: same fixed-point damped rounds as [[ranks]],
    * but ALL teleport mass returns to the seed set instead of spreading
    * uniformly — the classic "relevance to this cohort" random walk
    * (recommendation candidates, trust propagation, local community
    * scoring). Initial mass ⌊T/|S|⌋ sits on the seeds; per round a node
    * keeps ⌊17·S_in/20⌋ of its inbound mass and seeds additionally
    * receive ⌊3T/(20·|S|)⌋. Non-seed nodes never receive teleport mass,
    * so rank decays with random-walk distance from the cohort — after k
    * rounds a node unreachable in ≤ k hops holds exactly 0. Same
    * per-round plan as [[ranks]]: one keyed join + one groupBy,
    * O(edges) shuffle; the seed table joins keyed (never broadcast
    * assumed — Catalyst/AQE picks broadcast when it is actually small).
    * Integer exactness argument identical to [[ranks]]. */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .distinct()
    // keep only seeds that exist in the graph — a phantom seed would
    // swallow initial mass that can never move
    val s = seeds.select(col("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    // Materialize the flag table eagerly: it is |S| rows (probe-scale by
    // contract), but its LINEAGE contains the full nodes build (a
    // distinct over the edge relation) via the semi-join above — without
    // the checkpoint that build re-executes inside every round's ranks
    // assembly (plan audit: 60 scans → 44, within 10% of ranks()'s 40;
    // warm-JVM wall time at sf0.1 is parity with ranks(), 2.13 vs 2.17s).
    val seedFlag = checkpoint(s.withColumn("is_seed", lit(1L)))
    val nSeeds = seedFlag.count() // tiny action, |S| needed as a literal
    require(nSeeds > 0, "personalizedRanks: no seed is present in the graph")
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val seedBase = (3L * TotalMass / 20L) / nSeeds
    val r0: Long = TotalMass / nSeeds

    var ranks = nodes.join(seedFlag, Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("is_seed"), lit(0L)) * lit(r0)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(ranks, edges("src") === ranks("node"))
        .join(outdeg, "src")
        .select(col("dst"), intDiv(col("rank"), col("outdeg")).as("c"))
      val sums = contrib.groupBy("dst")
        .agg(sum(col("c").cast("decimal(38,0)")).cast("long").as("s"))
      ranks = nodes
        .join(sums, nodes("node") === sums("dst"), "left")
        .join(seedFlag, Seq("node"), "left")
        .select(col("node"),
          (coalesce(col("is_seed"), lit(0L)) * lit(seedBase) +
            intDiv(lit(17L) * coalesce(col("s"), lit(0L)), lit(20L)))
            .as("rank"))
    }
    ranks
  }

  /** Convenience: symmetric (both-direction) edge list from a pair column
    * set — turns a bipartite relation into a sink-free graph. */
  def undirected(pairs: DataFrame, a: Column, b: Column): DataFrame = {
    val ab = pairs.select(a.as("src"), b.as("dst"))
    ab.union(pairs.select(b.as("src"), a.as("dst"))).distinct()
  }
}
