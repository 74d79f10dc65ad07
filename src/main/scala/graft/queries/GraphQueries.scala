package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}
import graft.functions.Rounding.intDivSql
import graft.operators.PageRank
import graft.operators.SessionDirMemo.pin
import graft.operators.CheckpointBlocks.checkpoint

/** Graph analytics over relational edge lists — the iterative-join family
  * ([[graft.operators.ConnectedComponents]] is the other member). The
  * reference has no graph surface; these extend the engine to the
  * link-analysis shapes a crawl-corpus pipeline runs (authority scoring for
  * source weighting, dup-cluster centrality). */
object GraphQueries extends QueryPack {

  /** PageRank (3 damped rounds, pure int64 fixed-point — see [[PageRank]]
    * for why no doubles) over the customer↔supplier co-transaction graph:
    * node ids disambiguate the two key spaces (cust·10 / supp·10+1), the
    * bipartite relation is symmetrized so no node is a sink. Per round:
    * one keyed join + one groupBy — O(edges) shuffle, the plan a
    * 1000-executor web graph needs. The oracle unrolls the same three
    * rounds as chained CTEs; every value BIGINT end to end. */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 10L).as("c"),
        (col("l_suppkey") * 10L + 1L).as("p"))
    PageRank.ranks(PageRank.undirected(pairs, col("c"), col("p")), iters = 3)
      .orderBy("node")
  }

  /** Personalized PageRank from a seed supplier cohort (s_suppkey ≤ 20)
    * over the same customer↔supplier co-transaction graph as q97 —
    * "which nodes are closest to this cohort under a damped random
    * walk", the recommendation/trust-propagation shape. All teleport
    * mass returns to the seeds ([[PageRank.personalizedRanks]] owns the
    * int64 fixed-point exactness argument), so rank decays with walk
    * distance and any node unreachable in ≤ 3 hops holds EXACTLY 0 —
    * the zeros stay in the output (q97's all-nodes contract): a
    * `.filter(rank > 0)` here measured +1.5s steady-state and up to 3×
    * on cold passes with an IDENTICAL plan-audit shape (the predicate
    * re-derives the rank expression through the unrolled 3-round
    * lineage — driver/codegen overhead, not row work; constraint
    * propagation ruled out empirically), and consumers can drop zeros
    * with a trivially cheap filter on the MATERIALIZED result instead.
    * Same O(edges)-per-round plan as q97. */
  private def q231(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 10L).as("c"),
        (col("l_suppkey") * 10L + 1L).as("p"))
    val seeds = Tables.load(s, dir, "supplier")
      .filter(col("s_suppkey") <= 20L)
      .select((col("s_suppkey") * 10L + 1L).as("node"))
    PageRank
      .personalizedRanks(PageRank.undirected(pairs, col("c"), col("p")),
        seeds, iters = 3)
      .orderBy("node")
  }

  /** ONE fused Bellman–Ford loop serving BOTH q264 (shortest path,
    * (min,+)) and q265 (widest path, (max,min)) — the q299 arm-fusion
    * idea applied to semirings instead of graph arms (round-12 verdict
    * item 2): both queries relax over the SAME customer↔supplier edge
    * topology, only the edge weight and the semiring differ, so one
    * round loop carries both labels as two columns (`d` min-plus over
    * the latency weight, `wd` max-min over the capacity weight) through
    * one keyed join + one aggregate per round. Round-trips, shuffles,
    * and the per-round scheduler floor are paid ONCE instead of twice
    * (the unfused pair measured 2×53 static shuffles and ~4.8s combined
    * at sf0.1); the memo means whichever query runs second is a
    * projection of a warm table.
    *
    * Per-arm bit-exactness argument (the fusion contract, pinned by
    * SemiringFusionSpec against the unfused loops):
    *  - the fused edge set is keyed by the same (src, dst) pairs; per
    *    pair both weights come from the one orders⋈lineitem aggregate:
    *    `lat` = min latency over non-negative-latency rows (NULL when a
    *    pair has none — the unfused q264 drops such edges entirely) and
    *    `cap` = the co-transaction count (never NULL).
    *  - (min,+) arm: a NULL `lat` propagates `d + lat = NULL`, and
    *    min() ignores NULLs — so NULL-lat edges contribute exactly
    *    nothing, same as q264's dropped edges; a node reached ONLY via
    *    such edges holds d = NULL and is filtered at projection, same
    *    as never materializing in the unfused frontier-only table.
    *  - (max,min) arm: the capacity arm's edge set is a superset of the
    *    latency arm's, so every fused state row (= reached via ANY
    *    edge) is exactly a capacity-reached row — `wd` is never NULL
    *    and the q265 row set is unchanged.
    * Fixed 4 rounds ⇒ both engines drop identical not-yet-relaxed
    * tails; each DuckDB oracle unrolls its OWN unfused rounds, so the
    * driver hash-check independently re-proves the fusion per query.
    * At 100 TB each round is the O(edges) PageRank exchange with the
    * semiring swapped — (min,+) → shortest, (max,min) → widest,
    * (max,×-on-[0,1]) → most-reliable all ride the same exchange, and
    * fusion batches ANY number of them at one label column each.
    * Per-round localCheckpoint truncates lineage (the q108Stages
    * discipline) so round i replans one join over two materialized
    * tables, not i nested rounds. */
  private val semiringMemo = new graft.operators.SessionDirMemo[DataFrame]

  private[graft] def semiringStages(s: SparkSession, dir: String)
      : DataFrame =
    semiringMemo.get(s, dir) {
      val li = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
      val lat0 = datediff(col("l_shipdate"), col("o_orderdate"))
        .cast("long")
      val pairW = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 10L).as("c"),
          (col("l_suppkey") * 10L + 1L).as("p"))
        .agg(min(when(lat0 >= 0L, lat0)).as("lat"),
          count(lit(1)).as("cap"))
      val edges = pin(pairW.select(col("c").as("src"), col("p").as("dst"),
          col("lat"), col("cap"))
        .unionAll(pairW.select(col("p").as("src"), col("c").as("dst"),
          col("lat"), col("cap"))))
      var state = s.range(1).select(lit(11L).as("node"),
        lit(0L).as("d"), lit(Long.MaxValue).as("wd"))
      for (_ <- 1 to 4) {
        val relaxed = edges.join(state, edges("src") === state("node"))
          .select(col("dst").as("node"), (col("d") + col("lat")).as("d"),
            least(col("wd"), col("cap")).as("wd"))
        state = pin(state.unionAll(relaxed)
          .groupBy("node").agg(min("d").as("d"), max("wd").as("wd")))
      }
      state
    }

  /** Weighted single-source shortest paths (4 Bellman–Ford relaxation
    * rounds) — the min-plus sibling of q113's hop-count BFS: edges are
    * the q97 customer↔supplier relation WEIGHTED by the pair's best
    * observed order→ship latency in integer days (min over their
    * lineitems — an exact date_diff, no floats), each round relaxing
    * dist' = min(dist, min_src(dist_src + w)) over only the REACHED
    * frontier (unreached nodes never materialize — no ∞ sentinel rows).
    * The loop itself is the fused two-semiring run ([[semiringStages]]);
    * this projection keeps exactly the latency-reached rows. */
  private def q264(s: SparkSession, dir: String): DataFrame =
    semiringStages(s, dir)
      .filter(col("d").isNotNull)
      .select(col("node"), col("d"))
      .orderBy("node")

  /** Widest (bottleneck) paths from the same seed — q264's loop with the
    * semiring swapped: capacity = the pair's co-transaction count, a
    * path's width = its MINIMUM edge capacity, and each round keeps the
    * MAXIMUM width per node: width' = max(width, max_src(min(width_src,
    * w))). Shares the one fused loop ([[semiringStages]] owns the
    * bit-exactness argument). The source's conventional width is ∞ (the
    * Long.MaxValue seed the first min() absorbs) — that row is dropped
    * so no sentinel leaves the engine; every emitted width is a real
    * bottleneck capacity. */
  private def q265(s: SparkSession, dir: String): DataFrame =
    semiringStages(s, dir)
      .filter(col("node") =!= 11L)
      .select(col("node"), col("wd").as("width"))
      .orderBy("node")

  /** Degree assortativity of the part co-order graph (does a hub co-occur
    * with hubs?) — Pearson correlation over the (deg(u), deg(v)) pairs of
    * every DIRECTED edge (both orientations, the standard undirected
    * convention, which also makes sx = sy and sxx = syy so one pass of
    * three exact power sums suffices). The q82 de-floating discipline:
    * degrees are integers, the sums accumulate exactly through
    * decimal(38,0), and both engines run one identical double formula on
    * identical integers — output is e6-scaled BIGINT. Graph build is
    * shared with q108/q113 ([[TemporalQueries.q108Stages]]). */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    val (edges, deg, _) = TemporalQueries.q108Stages(s, dir)
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    sym
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("du").cast("decimal(38,0)")).cast("double").as("sx"),
        sum((col("du") * col("dv")).cast("decimal(38,0)")).cast("double")
          .as("sxy"),
        sum((col("du") * col("du")).cast("decimal(38,0)")).cast("double")
          .as("sxx"))
      .select(
        expr("CAST(n / 2 AS BIGINT)").as("n_edges"),
        // degree-regular graph ⇒ zero variance ⇒ assortativity undefined:
        // emit NULL explicitly — Spark's non-ANSI cast would turn the NaN
        // into silent garbage while DuckDB's cast hard-errors
        expr("""CASE WHEN n * sxx - sx * sx = 0 THEN NULL
          ELSE CAST(floor(((n * sxy - sx * sx) / (n * sxx - sx * sx))
          * 1000000.0 + 0.5) AS BIGINT) END""").as("assortativity_e6"))
  }

  /** Bounded-round k-core peel (k=3, 4 rounds) over the part co-order
    * graph: each round drops every node whose CURRENT degree is below k,
    * then every edge that lost an endpoint — the standard iterative
    * density filter (dup-cluster cores, spam-farm detection). Per round:
    * one degree aggregation + two keyed semi-join filters, O(edges)
    * shuffle, with the surviving edge set localCheckpoint'ed so round
    * r+1 replans against a materialized table instead of r nested
    * subtrees (the q108Stages discipline). The ROUND COUNT is part of
    * the operator contract (like q97's 3 PageRank rounds): both engines
    * peel exactly 4 rounds, so the census matches even if the peel has
    * not reached its fixpoint. Census rows are all-BIGINT. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    val k = 3
    val rounds = 4
    val (edges0, _, _) = TemporalQueries.q108Stages(s, dir)
    var edges = edges0
    val stats = Seq.newBuilder[(Long, Long, Long)]
    for (r <- 1 to rounds) {
      val deg = edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      // eager-checkpoint the survivor set: keep feeds BOTH semi-joins
      // and its own count — without this the degree aggregation re-runs
      // three times per round.
      // (r21, measured and REVERTED: folding the two count() jobs into
      // persist + ConnectedComponents.materializeCounting saved 8
      // scheduler-floor jobs but a PERSISTED round frame materializes
      // with the plan's full 32 reduce partitions — AQE cannot
      // re-coalesce a cached plan's output partitioning by default — so
      // every downstream stage paid 32 tasks where the checkpoint's
      // AQE-coalesced leaf paid 1:
      // noop-write job probe 41 jobs/48 tasks/1.16s before, 25/404/1.68s
      // after. The checkpoint + count form is the cheaper shape here;
      // the observe-fold only wins where rounds are persist-based with
      // session-parallelism partitioning by design, i.e. the CC loops.)
      val keep = deg.filter(col("deg") >= k).select("n")
        .transform(checkpoint)
      val next = edges
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .transform(checkpoint)
      stats += ((r.toLong, keep.count(), next.count()))
      edges = next
    }
    val spark = s
    import spark.implicits._
    stats.result().toDF("round", "n_nodes", "n_edges")
  }

  /** Local clustering coefficient (how clique-like is each node's
    * neighborhood — the per-node refinement of q108's global triangle
    * count): coefficient(v) = 2·T_v / (deg(v)·(deg(v)−1)), emitted as the
    * exact integer rational (2·T_v, deg·(deg−1)) — no division
    * engine-side. Triangle credit comes from the SAME degree-ordered
    * arc-intersect join as q108, but the intersection ELEMENTS explode —
    * that materializes exactly the triangle list (O(#triangles) rows,
    * the metric's own size), never the wedge set — and each triangle
    * credits its three corners via one unpivot. Nodes of degree < 2
    * (coefficient undefined) are excluded. Top 100 by (coefficient,
    * node) keeps the output bounded; the rational compare is exact via
    * cross-multiplication-free sorting on the e6-scaled integer ratio —
    * num·1e6 div den is a portable integer. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDiv
    val (_, deg, arcs0) = TemporalQueries.q108Stages(s, dir)
    val arcs = checkpoint(arcs0)
    val adj = arcs.groupBy("a")
      .agg(sort_array(collect_list("b")).as("nbrs"))
    val tris = arcs
      .join(adj.select(col("a").as("ja"), col("nbrs").as("na")),
        col("a") === col("ja"))
      .join(adj.select(col("a").as("jb"), col("nbrs").as("nb")),
        col("b") === col("jb"))
      .select(col("a"), col("b"),
        explode(array_intersect(col("na"), col("nb"))).as("c"))
    val credit = tris.select(col("a").as("n"))
      .unionAll(tris.select(col("b").as("n")))
      .unionAll(tris.select(col("c").as("n")))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.filter(col("deg") >= 2)
      .join(credit, Seq("n"), "left")
      .select(col("n").as("node"),
        (coalesce(col("t"), lit(0L)) * 2L).as("coeff_num"),
        (col("deg") * (col("deg") - 1L)).as("coeff_den"))
      .withColumn("coeff_e6",
        intDiv(col("coeff_num") * lit(1000000L), col("coeff_den")))
      .orderBy(col("coeff_e6").desc, col("node"))
      .limit(100)
  }

  /** Synchronous label-propagation communities (3 rounds) over the
    * co-order graph — the community-detection face of the iterative-join
    * family (q67's CC answers "connected at all?", this answers "densely
    * connected with WHOM?"): every node starts as its own label; each
    * round it adopts the most frequent label among its NEIGHBORS,
    * ties to the smallest label — the argmax is one
    * `min(struct(-count, label))` so the whole update is two keyed
    * exchanges per round (edge⋈label on the neighbor id, then the
    * per-node mode), O(edges) like q97's PageRank rounds, with the same
    * per-round localCheckpoint lineage truncation. Synchronous + min
    * tie-break makes the fixed-round result a pure function of the
    * graph, so the oracle can state the identical three rounds as
    * chained CTEs (QUALIFY row_number = the same argmax). */
  /** The 3-round synchronous label table (n, lbl) — shared by q201 (the
    * community report) and q215 (the modularity audit of those same
    * communities). Memoized per (session, dir) (r20, the jaccardPairs
    * precedent): both consumers re-ran the three eager LP rounds (~6
    * construction-time jobs each) for a bit-identical label table.
    * O(nodes) rows, deterministic (synchronous rounds + min tie-break),
    * and the build's own round checkpoints are what the memo retains —
    * already-materialized per the memo contract. */
  private val lpMemo = new graft.operators.SessionDirMemo[DataFrame]
  private def lpLabels(s: SparkSession, dir: String): DataFrame =
    lpMemo.get(s, dir)(lpLabelsBuild(s, dir))

  private def lpLabelsBuild(s: SparkSession, dir: String): DataFrame = {
    val (edges, _, _) = TemporalQueries.q108Stages(s, dir)
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      .transform(checkpoint)
    var labels = sym.select(col("u").as("n")).distinct()
      .withColumn("lbl", col("n"))
      .transform(checkpoint)
    for (_ <- 1 to 3) {
      val cnt = sym
        .join(labels.select(col("n").as("v"), col("lbl")), "v")
        .groupBy("u", "lbl").agg(count(lit(1)).as("c"))
      labels = cnt.groupBy("u")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("u").as("n"), col("m.l").as("lbl"))
        .transform(checkpoint)
    }
    labels
  }

  private def q201(s: SparkSession, dir: String): DataFrame =
    lpLabels(s, dir)
      .select(col("n").as("node"), col("lbl").as("community"))
      .orderBy("node")

  /** Newman modularity audit of the q201 communities — the "did
    * community detection find anything?" number, per community and in
    * EXACT arithmetic: a community's modularity term is
    * `L_c/m − (D_c/2m)²` (L_c intra-community edges, D_c degree mass,
    * m total edges), emitted as the e6 fixed-point of the common-
    * denominator form `(4·m·L_c − D_c²)·1e6 div (4·m²)` — one signed
    * exact integer division per community ([[graft.functions.Rounding
    * .intDivExact]]'s decimal chain; HUGEINT `//` mirrors it, both
    * truncate dividend-signed), so Σ(q_term_e6) IS the corpus
    * modularity to within one ulp-free truncation per community.
    * Scale shape: two keyed label joins classify every edge once
    * (O(edges)), the degree mass is a keyed join + groupBy, and the
    * only scalar (m) rides a one-row broadcast — the q170 cross-
    * multiply discipline, no driver-side arithmetic. */
  private def q215(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val (edges, deg, _) = TemporalQueries.q108Stages(s, dir)
    val lbl = lpLabels(s, dir)
    val mDf = edges.agg(count(lit(1)).as("m"))
    val intra = edges
      .join(lbl.select(col("n").as("u"), col("lbl").as("cu")), "u")
      .join(lbl.select(col("n").as("v"), col("lbl").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("l_intra"))
    val md = col("m").cast("decimal(14,0)")
    lbl.join(deg, "n")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_sum"))
      .join(intra, Seq("community"), "left")
      .withColumn("l_intra", coalesce(col("l_intra"), lit(0L)))
      .crossJoin(broadcast(mDf))
      .select(col("community"), col("n_nodes"), col("l_intra"),
        col("d_sum"),
        intDivExact(
          (md * col("l_intra").cast("decimal(14,0)") * lit(4L) -
            col("d_sum").cast("decimal(14,0)") *
              col("d_sum").cast("decimal(14,0)")) * lit(1000000L),
          md * md * lit(4L)).as("q_term_e6"))
      .orderBy("community")
  }

  /** Hub-removal robustness census — the network-resilience probe a
    * graph pipeline runs before trusting hub-mediated structure ("does
    * connectivity survive losing the top hubs, or is it an illusion of
    * ten nodes?"): connected components of the q108 co-order part graph
    * BEFORE and AFTER deleting the 10 highest-degree nodes (ties to the
    * smaller id — deterministic). Per arm: node/edge counts, component
    * count, the largest component and its exact e4 share of surviving
    * nodes. Percolation theory says scale-free-ish graphs shatter under
    * targeted hub removal — the before/after delta IS the measurement.
    * Scale: the shared [[TemporalQueries.q108Stages]] edge build
    * (checkpointed), ONE fused [[graft.operators.ConnectedComponents]]
    * run over both arms (see below), and a 10-row broadcast anti-join
    * for the deletion — no new exchange shapes.
    *
    * Arm fusion (round-11 verdict item 4): the two CC runs used to pace
    * ~28 alternating-star round-trips EACH, and every round's cost at
    * sf0.1 is scheduler floor, not data — so the arms are folded into
    * ONE closure by encoding the arm into the id (`id' = 2·id + arm`).
    * The encoding is order-preserving within an arm (id ↦ 2·id + c is
    * strictly monotone) and arms can never connect (edges stay within
    * one parity class), so the fused min-id label of a node decodes to
    * exactly the label its per-arm run would produce: comp' = 2·comp +
    * arm, proven bit-identical in ConnectedComponentsSpec. Round count
    * becomes max(arms), not sum — the same trick batches ANY number of
    * what-if deletion arms through one CC at id headroom cost of
    * ⌈log₂ arms⌉ bits. Headroom precondition (ADVICE r12): `2·id + arm`
    * requires ids < 2⁶², which part keys satisfy by construction at
    * every TPC-H scale factor (P = SF·200 000 ≪ 2⁶²) — a caller tagging
    * arbitrary external ids must check before encoding. */
  private def q299(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val (edges, deg, _) = TemporalQueries.q108Stages(s, dir)
    val hubs = deg.orderBy(col("deg").desc, col("n"))
      .limit(10).select(col("n").as("hub"))
      .transform(checkpoint)
    val nodes = deg.select("n")
    val dehubNodes = nodes.join(hubs, col("n") === col("hub"), "left_anti")
    val dehubEdges = edges
      .join(hubs, col("u") === col("hub"), "left_anti")
      .join(hubs, col("v") === col("hub"), "left_anti")
    def tagN(df: DataFrame, arm: Int): DataFrame =
      df.select((col("n") * 2L + lit(arm.toLong)).as("n"))
    def tagE(df: DataFrame, arm: Int): DataFrame =
      df.select((col("u") * 2L + lit(arm.toLong)).as("u"),
        (col("v") * 2L + lit(arm.toLong)).as("v"))
    val taggedEdges = tagE(edges, 0).unionAll(tagE(dehubEdges, 1))
    val comp = graft.operators.ConnectedComponents.components(
      tagN(nodes, 0).unionAll(tagN(dehubNodes, 1)), taggedEdges,
      "n", "u", "v")
    def armOf(c: org.apache.spark.sql.Column) =
      when(c % 2L === 0L, "full").otherwise("dehubbed")
    val sizes = comp.groupBy(armOf(col("id")).as("arm"), col("comp"))
      .agg(count(lit(1)).as("cnt"))
    val ecs = taggedEdges
      .groupBy(armOf(col("u")).as("arm")).agg(count(lit(1)).as("n_edges"))
    sizes.groupBy("arm")
      .agg(count(lit(1)).as("n_components"), sum("cnt").as("n_nodes"),
        max("cnt").as("largest_size"))
      // LEFT join + coalesce (ADVICE r12): if an arm loses every edge
      // (hub removal could in principle delete them all), its ecs row
      // vanishes — the arm must still report n_edges = 0, matching the
      // oracle, which emits the row from the node side
      .join(broadcast(ecs), Seq("arm"), "left")
      .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
      .select(col("arm"), col("n_nodes"), col("n_edges"),
        col("n_components"), col("largest_size"),
        intDivExact(
          col("largest_size").cast("decimal(38,0)") * lit(20000L) +
            col("n_nodes"),
          lit(2L) * col("n_nodes")).as("largest_share_e4"))
      .orderBy("arm")
  }

  /** Landmark harmonic centrality — closeness estimation the way a
    * billion-node graph actually computes it (exact all-pairs BFS is
    * O(n·m); landmark BFS is O(L·m)): multi-source BFS from the 5
    * highest-degree nodes (ties to the smaller id), 3 bounded rounds
    * (the q113 frontier-join discipline, per-round localCheckpoint),
    * then per node the harmonic sum Σ_landmarks ⌊10⁶/dist⌋ over reached
    * landmarks — each term exact (dist ∈ {1,2,3} → 10⁶, 5·10⁵,
    * 333 333), unreached landmarks contribute 0 by the harmonic
    * convention (no ∞ to dodge). Landmarks themselves rank highest by
    * construction — the output is a RELATIVE centrality order, which is
    * all a landmark estimate promises. */
  private def q309(s: SparkSession, dir: String): DataFrame = {
    val (edges, deg, _) = TemporalQueries.q108Stages(s, dir)
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      .transform(checkpoint)
    val landmarks = deg.orderBy(col("deg").desc, col("n"))
      .limit(5).select(col("n").as("lm"))
      .transform(checkpoint)
    var dist = landmarks.select(col("lm"), col("lm").as("pt"))
      .withColumn("dist", lit(0L))
      .transform(checkpoint)
    for (_ <- 1 to 3) {
      val hop = dist.join(sym, col("pt") === col("u"))
        .select(col("lm"), col("v").as("pt"), (col("dist") + 1L).as("dist"))
      dist = dist.unionAll(hop)
        .groupBy("lm", "pt").agg(min("dist").as("dist"))
        .transform(checkpoint)
    }
    dist.filter(col("dist") > 0L)
      .groupBy(col("pt").as("node"))
      .agg(count(lit(1)).as("n_landmarks_reached"),
        sum(graft.functions.Rounding.intDiv(lit(1000000L), col("dist")))
          .as("harmonic_e6"))
      .orderBy("node")
  }

  val defs: Map[String, Q] = Map(
    "q299_hub_robustness" -> (q299 _),
    "q309_landmark_centrality" -> (q309 _),
    "q97_pagerank" -> (q97 _),
    "q231_ppr" -> (q231 _),
    "q264_sssp" -> (q264 _),
    "q265_widest_path" -> (q265 _),
    "q201_label_prop" -> (q201 _),
    "q215_modularity" -> (q215 _),
    "q119_assortativity" -> (q119 _),
    "q134_kcore" -> (q134 _),
    "q140_clustering_coeff" -> (q140 _),
    "q173_link_prediction" -> (q173 _))

  /** Link prediction over the part co-order graph: for non-adjacent node
    * pairs, the common-neighbor count and exact-ppm Jaccard of their
    * neighborhoods (the two classical unsupervised link-prediction
    * scores), top 100. Wedges are enumerated THROUGH their center — one
    * self-join of the (center, spoke) relation keyed on the center — and
    * a center-degree cap (≤ 30) bounds per-center fan-out at C(30,2),
    * the same df-cap discipline as q41's shingle join: a hub node cannot
    * quadratically explode a reducer, at the documented cost of missing
    * wedges through hubs (at real scale the cap is the recall/cost knob).
    * Existing edges leave via a LEFT ANTI join on the canonical (u < v)
    * edge list; degrees join back keyed, never broadcast (the degree
    * table scales with the node count). */
  private def q173(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Rounding.intDivExact
    val (edges, deg, _) = TemporalQueries.q108Stages(s, dir)
    val sym = edges.select(col("u"), col("v"))
      .unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val centers = deg.filter(col("deg") <= 30).select(col("n").as("c"))
    val spokes = sym.select(col("v").as("c"), col("u").as("x"))
      .join(centers, "c")
    val wedges = spokes.as("l")
      .join(spokes.withColumnRenamed("x", "y").as("r"), "c")
      .filter(col("x") < col("y"))
    val cn = wedges.groupBy("x", "y").agg(count(lit(1)).as("cn"))
    val cand = cn.join(edges.select(col("u").as("x"), col("v").as("y")),
      Seq("x", "y"), "left_anti")
    cand
      .join(deg.select(col("n").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("deg").as("dy")), "y")
      .withColumn("jaccard_e6",
        intDivExact(col("cn").cast("decimal(38,0)") * lit(1000000L),
          col("dx") + col("dy") - col("cn")))
      .select(col("x").as("u"), col("y").as("v"), col("cn"),
        col("dx").as("deg_u"), col("dy").as("deg_v"), col("jaccard_e6"))
      .orderBy(col("cn").desc, col("u"), col("v"))
      .limit(100)
  }

  /** Shared label-prop oracle chain (no leading WITH; ends at
    * `l3(n, lbl)` over `edges`/`sym`) — used by q201 and q215. Three
    * unrolled synchronous rounds; the QUALIFY argmax (c DESC, lbl ASC)
    * is the engine side's min(struct(-c, lbl)). A def for
    * object-init-order safety. */
  private def lpOracleCtes: String = {
    val rounds = (1 to 3).map { r =>
      s"""c$r AS (
         |  SELECT s.u, l.lbl, count(*) AS c
         |  FROM sym s JOIN l${r - 1} l ON l.n = s.v
         |  GROUP BY 1, 2),
         |l$r AS (
         |  SELECT u AS n, lbl FROM c$r
         |  QUALIFY row_number()
         |    OVER (PARTITION BY u ORDER BY c DESC, lbl) = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
       |  WHERE year(l_shipdate) = 1995),
       |capped AS (
       |  SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
       |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
       |edges AS (
       |  SELECT DISTINCT a.pt AS u, b.pt AS v
       |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
       |sym AS (
       |  SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
       |l0 AS (SELECT DISTINCT u AS n, u AS lbl FROM sym),
       |$rounds""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // same top-5 landmarks, depth-bounded recursive BFS, identical
    // engine-portable floor division for the harmonic terms
    "q309_landmark_centrality" -> {
      val h = intDivSql("1000000", "dist")
      s"""WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
        |  WHERE year(l_shipdate) = 1995),
        |capped AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
        |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
        |edges AS (
        |  SELECT DISTINCT a.pt AS u, b.pt AS v
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
        |deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY n),
        |lms AS (SELECT n FROM deg ORDER BY deg DESC, n LIMIT 5),
        |syme AS (SELECT u AS src, v AS dst FROM edges
        |         UNION ALL SELECT v, u FROM edges),
        |lmbfs(lm, pt, dist) AS (
        |  SELECT n, n, 0 FROM lms
        |  UNION
        |  SELECT b.lm, e.dst, b.dist + 1
        |  FROM lmbfs b JOIN syme e ON e.src = b.pt WHERE b.dist < 3),
        |md AS (SELECT lm, pt, CAST(min(dist) AS BIGINT) AS dist
        |       FROM lmbfs GROUP BY 1, 2)
        |SELECT pt AS node, count(*) AS n_landmarks_reached,
        |  CAST(sum($h) AS BIGINT) AS harmonic_e6
        |FROM md WHERE dist > 0 GROUP BY pt ORDER BY node""".stripMargin
    },
    // the q108 edge build, the top-10 hub cut, and TWO recursive
    // min-label closures (full / dehubbed); exact HUGEINT e4 shares
    "q299_hub_robustness" -> {
      import graft.functions.Rounding.intDivExactSql
      val share = intDivExactSql(
        "CAST(largest_size AS HUGEINT) * 20000 + n_nodes", "2 * n_nodes")
      s"""WITH RECURSIVE op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
        |  WHERE year(l_shipdate) = 1995),
        |capped AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
        |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
        |edges AS (
        |  SELECT DISTINCT a.pt AS u, b.pt AS v
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
        |deg AS (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY n),
        |hubs AS (SELECT n FROM deg ORDER BY deg DESC, n LIMIT 10),
        |nodes AS (SELECT n FROM deg),
        |e2 AS (
        |  SELECT u, v FROM edges
        |  WHERE u NOT IN (SELECT n FROM hubs)
        |    AND v NOT IN (SELECT n FROM hubs)),
        |n2 AS (SELECT n FROM nodes WHERE n NOT IN (SELECT n FROM hubs)),
        |symf AS (SELECT u AS src, v AS dst FROM edges
        |         UNION ALL SELECT v, u FROM edges),
        |symd AS (SELECT u AS src, v AS dst FROM e2
        |         UNION ALL SELECT v, u FROM e2),
        |reachf(id, comp) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT e.dst, r.comp FROM reachf r JOIN symf e ON e.src = r.id),
        |reachd(id, comp) AS (
        |  SELECT n, n FROM n2
        |  UNION
        |  SELECT e.dst, r.comp FROM reachd r JOIN symd e ON e.src = r.id),
        |szf AS (SELECT min_comp, count(*) AS cnt FROM (
        |    SELECT id, min(comp) AS min_comp FROM reachf GROUP BY id)
        |  GROUP BY min_comp),
        |szd AS (SELECT min_comp, count(*) AS cnt FROM (
        |    SELECT id, min(comp) AS min_comp FROM reachd GROUP BY id)
        |  GROUP BY min_comp),
        |af AS (
        |  SELECT 'full' AS arm, CAST(sum(cnt) AS BIGINT) AS n_nodes,
        |    (SELECT count(*) FROM edges) AS n_edges,
        |    count(*) AS n_components,
        |    CAST(max(cnt) AS BIGINT) AS largest_size
        |  FROM szf),
        |ad AS (
        |  SELECT 'dehubbed' AS arm, CAST(sum(cnt) AS BIGINT) AS n_nodes,
        |    (SELECT count(*) FROM e2) AS n_edges,
        |    count(*) AS n_components,
        |    CAST(max(cnt) AS BIGINT) AS largest_size
        |  FROM szd),
        |arms AS (SELECT * FROM af UNION ALL SELECT * FROM ad)
        |SELECT arm, n_nodes, n_edges, n_components, largest_size,
        |  $share AS largest_share_e4
        |FROM arms ORDER BY arm""".stripMargin
    },
    "q201_label_prop" ->
      s"""WITH $lpOracleCtes
         |SELECT n AS node, CAST(lbl AS BIGINT) AS community
         |FROM l3 ORDER BY node""".stripMargin,
    // same l3 labels, same canonical edge set; the modularity term's
    // HUGEINT // mirrors the engine's decimal intDivExact (both
    // truncate dividend-signed — negative terms agree)
    "q215_modularity" ->
      s"""WITH $lpOracleCtes,
         |deg AS (
         |  SELECT n, count(*) AS deg FROM (
         |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
         |  GROUP BY n),
         |mm AS (SELECT count(*) AS m FROM edges),
         |intra AS (
         |  SELECT la.lbl AS community, count(*) AS l_intra
         |  FROM edges e
         |  JOIN l3 la ON la.n = e.u
         |  JOIN l3 lb ON lb.n = e.v
         |  WHERE la.lbl = lb.lbl GROUP BY 1),
         |ds AS (
         |  SELECT l.lbl AS community, count(*) AS n_nodes,
         |    CAST(sum(d.deg) AS BIGINT) AS d_sum
         |  FROM l3 l JOIN deg d ON d.n = l.n GROUP BY 1)
         |SELECT CAST(ds.community AS BIGINT) AS community, n_nodes,
         |  coalesce(l_intra, 0) AS l_intra, d_sum,
         |  CAST((CAST(4 AS HUGEINT) * m * coalesce(l_intra, 0)
         |      - CAST(d_sum AS HUGEINT) * d_sum) * 1000000
         |    // (CAST(4 AS HUGEINT) * m * m) AS BIGINT) AS q_term_e6
         |FROM ds LEFT JOIN intra USING (community), mm
         |ORDER BY community""".stripMargin,
    "q265_widest_path" -> {
      // the same (max,min) rounds; 9223372036854775807 is the seed ∞
      def round(prev: String, i: Int): String =
        s"""r$i AS (
           |  SELECT node, CAST(max(wd) AS BIGINT) AS wd FROM (
           |    SELECT node, wd FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, least(p.wd, e.w) AS wd
           |    FROM $prev p JOIN edges e ON e.src = p.node)
           |  GROUP BY node)""".stripMargin
      s"""WITH pw AS (
         |  SELECT o_custkey * 10 AS c, l_suppkey * 10 + 1 AS p,
         |    count(*) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT c AS src, p AS dst, w FROM pw
         |  UNION ALL
         |  SELECT p AS src, c AS dst, w FROM pw),
         |r0 AS (SELECT CAST(11 AS BIGINT) AS node,
         |       CAST(9223372036854775807 AS BIGINT) AS wd),
         |${round("r0", 1)},
         |${round("r1", 2)},
         |${round("r2", 3)},
         |${round("r3", 4)}
         |SELECT node, wd AS width FROM r4
         |WHERE node <> 11 ORDER BY node""".stripMargin
    },
    "q264_sssp" -> {
      // the same min-plus rounds unrolled; frontier-only dist tables
      def round(prev: String, i: Int): String =
        s"""r$i AS (
           |  SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
           |    SELECT node, d FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.d + e.w AS d
           |    FROM $prev p JOIN edges e ON e.src = p.node)
           |  GROUP BY node)""".stripMargin
      s"""WITH pw AS (
         |  SELECT o_custkey * 10 AS c, l_suppkey * 10 + 1 AS p,
         |    CAST(min(date_diff('day', o_orderdate, l_shipdate))
         |      AS BIGINT) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE date_diff('day', o_orderdate, l_shipdate) >= 0
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT c AS src, p AS dst, w FROM pw
         |  UNION ALL
         |  SELECT p AS src, c AS dst, w FROM pw),
         |r0 AS (SELECT CAST(11 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d),
         |${round("r0", 1)},
         |${round("r1", 2)},
         |${round("r2", 3)},
         |${round("r3", 4)}
         |SELECT node, d FROM r4 ORDER BY node""".stripMargin
    },
    "q231_ppr" -> {
      // q97's unrolled rounds with teleport mass CASE-gated to the seed
      // set: rank' = [is_seed]·⌊3T/(20·|S|)⌋ + ⌊17·S_in/20⌋
      def round(prev: String, i: Int): String =
        s"""c$i AS (
           |  SELECT e.dst, ${intDivSql("r.rank", "d.outdeg")} AS c
           |  FROM $prev r
           |  JOIN deg d ON r.node = d.src
           |  JOIN edges e ON e.src = d.src),
           |s$i AS (
           |  SELECT dst, CAST(sum(CAST(c AS DECIMAL(38,0))) AS BIGINT) AS s
           |  FROM c$i GROUP BY dst),
           |r$i AS (
           |  SELECT n0.node,
           |    CASE WHEN sg.node IS NOT NULL
           |      THEN ${intDivSql("150000000000", "ns.n")} ELSE 0 END +
           |    ${intDivSql(s"17 * coalesce(s$i.s, 0)", "20")} AS rank
           |  FROM nodes n0
           |  LEFT JOIN s$i ON n0.node = s$i.dst
           |  LEFT JOIN sg ON n0.node = sg.node, ns)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT o_custkey * 10 AS c, l_suppkey * 10 + 1 AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT c AS src, p AS dst FROM pairs
         |  UNION
         |  SELECT p AS src, c AS dst FROM pairs),
         |nodes AS (
         |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |seeds AS (
         |  SELECT s_suppkey * 10 + 1 AS node FROM supplier
         |  WHERE s_suppkey <= 20),
         |sg AS (SELECT DISTINCT s.node FROM seeds s
         |       JOIN nodes n ON s.node = n.node),
         |ns AS (SELECT count(*) AS n FROM sg),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (
         |  SELECT n0.node,
         |    CASE WHEN sg.node IS NOT NULL
         |      THEN ${intDivSql("1000000000000", "ns.n")} ELSE 0 END AS rank
         |  FROM nodes n0 LEFT JOIN sg ON n0.node = sg.node, ns),
         |${round("r0", 1)},
         |${round("r1", 2)},
         |${round("r2", 3)}
         |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
    },
    "q97_pagerank" -> {
      // one damped round: contributions ⌊r/outdeg⌋ along edges, exact
      // integer sum per destination, rank' = ⌊3T/20N⌋ + ⌊17·S/20⌋
      def round(prev: String, i: Int): String =
        s"""c$i AS (
           |  SELECT e.dst, ${intDivSql("r.rank", "d.outdeg")} AS c
           |  FROM $prev r
           |  JOIN deg d ON r.node = d.src
           |  JOIN edges e ON e.src = d.src),
           |s$i AS (
           |  SELECT dst, CAST(sum(CAST(c AS DECIMAL(38,0))) AS BIGINT) AS s
           |  FROM c$i GROUP BY dst),
           |r$i AS (
           |  SELECT node,
           |    ${intDivSql("150000000000", "n")} +
           |    ${intDivSql("17 * coalesce(s, 0)", "20")} AS rank
           |  FROM nodes LEFT JOIN s$i ON node = dst, nn)""".stripMargin
      s"""WITH pairs AS (
         |  SELECT o_custkey * 10 AS c, l_suppkey * 10 + 1 AS p
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT c AS src, p AS dst FROM pairs
         |  UNION
         |  SELECT p AS src, c AS dst FROM pairs),
         |nodes AS (
         |  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
         |r0 AS (
         |  SELECT node, ${intDivSql("1000000000000", "n")} AS rank
         |  FROM nodes, nn),
         |${round("r0", 1)},
         |${round("r1", 2)},
         |${round("r2", 3)}
         |SELECT node, rank FROM r3 ORDER BY node""".stripMargin
    },
    "q119_assortativity" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
        |  WHERE year(l_shipdate) = 1995),
        |capped AS (
        |  SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
        |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
        |edges AS (
        |  SELECT DISTINCT a.pt AS u, b.pt AS v
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
        |deg AS (
        |  SELECT nd, count(*) AS deg FROM (
        |    SELECT u AS nd FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY nd),
        |sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v
        |        FROM edges),
        |sums AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(du.deg AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(du.deg * dv.deg AS DECIMAL(38,0))) AS DOUBLE)
        |      AS sxy,
        |    CAST(sum(CAST(du.deg * du.deg AS DECIMAL(38,0))) AS DOUBLE)
        |      AS sxx
        |  FROM sym JOIN deg du ON du.nd = sym.u JOIN deg dv ON dv.nd = sym.v)
        |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE CAST(floor(((n * sxy - sx * sx) / (n * sxx - sx * sx))
        |      * 1000000.0 + 0.5) AS BIGINT) END AS assortativity_e6
        |FROM sums""".stripMargin,
    "q134_kcore" -> {
      // same edge build as q108/q119; one peel round per chained CTE
      val peel = (1 to 4).map { r =>
        val prev = if (r == 1) "edges" else s"e${r - 1}"
        s"""d$r AS MATERIALIZED (
           |  SELECT n, count(*) AS deg FROM (
           |    SELECT u AS n FROM $prev UNION ALL SELECT v FROM $prev)
           |  GROUP BY n),
           |k$r AS MATERIALIZED (SELECT n FROM d$r WHERE deg >= 3),
           |e$r AS MATERIALIZED (
           |  SELECT u, v FROM $prev
           |  WHERE u IN (SELECT n FROM k$r)
           |    AND v IN (SELECT n FROM k$r))""".stripMargin
      }.mkString(",\n")
      val census = (1 to 4).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT count(*) FROM k$r) AS n_nodes,
           |  (SELECT count(*) FROM e$r) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
         |  WHERE year(l_shipdate) = 1995),
         |capped AS (
         |  SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
         |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT a.pt AS u, b.pt AS v
         |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
         |$peel
         |SELECT * FROM (
         |$census
         |) ORDER BY round""".stripMargin
    },
    "q140_clustering_coeff" ->
      s"""WITH op AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
         |  WHERE year(l_shipdate) = 1995),
         |capped AS (
         |  SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
         |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
         |edges AS MATERIALIZED (
         |  SELECT DISTINCT a.pt AS u, b.pt AS v
         |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
         |deg AS MATERIALIZED (
         |  SELECT n, count(*) AS deg FROM (
         |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
         |  GROUP BY n),
         |arcs AS MATERIALIZED (
         |  SELECT
         |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |      THEN e.u ELSE e.v END AS a,
         |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
         |      THEN e.v ELSE e.u END AS b
         |  FROM edges e
         |  JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
         |tris AS MATERIALIZED (
         |  SELECT ab.a AS a, ab.b AS b, ac.b AS c
         |  FROM arcs ab
         |  JOIN arcs ac ON ac.a = ab.a
         |  JOIN arcs bc ON bc.a = ab.b AND bc.b = ac.b),
         |credit AS (
         |  SELECT n, count(*) AS t FROM (
         |    SELECT a AS n FROM tris UNION ALL SELECT b FROM tris
         |    UNION ALL SELECT c FROM tris)
         |  GROUP BY n)
         |SELECT n AS node,
         |  CAST(coalesce(t, 0) * 2 AS BIGINT) AS coeff_num,
         |  CAST(deg * (deg - 1) AS BIGINT) AS coeff_den,
         |  ${intDivSql("CAST(coalesce(t, 0) * 2 AS BIGINT) * 1000000",
               "CAST(deg * (deg - 1) AS BIGINT)")} AS coeff_e6
         |FROM deg LEFT JOIN credit USING (n)
         |WHERE deg >= 2
         |ORDER BY coeff_e6 DESC, node LIMIT 100""".stripMargin,
    "q173_link_prediction" ->
      """WITH op AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS pt FROM lineitem
        |  WHERE year(l_shipdate) = 1995),
        |capped AS (SELECT o FROM op GROUP BY o HAVING count(*) <= 40),
        |pairs AS (SELECT op.o, op.pt FROM op JOIN capped USING (o)),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT a.pt AS u, b.pt AS v
        |  FROM pairs a JOIN pairs b ON a.o = b.o AND a.pt < b.pt),
        |deg AS MATERIALIZED (
        |  SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
        |  GROUP BY n),
        |sym AS (
        |  SELECT u, v FROM edges
        |  UNION ALL SELECT v AS u, u AS v FROM edges),
        |spokes AS (
        |  SELECT s.v AS c, s.u AS x FROM sym s
        |  JOIN deg d ON d.n = s.v WHERE d.deg <= 30),
        |wedges AS (
        |  SELECT l.x AS x, r.x AS y FROM spokes l
        |  JOIN spokes r ON l.c = r.c AND l.x < r.x),
        |cn AS (
        |  SELECT x, y, CAST(count(*) AS BIGINT) AS cn
        |  FROM wedges GROUP BY 1, 2),
        |cand AS (
        |  SELECT cn.* FROM cn
        |  WHERE NOT EXISTS (SELECT 1 FROM edges e
        |                    WHERE e.u = cn.x AND e.v = cn.y))
        |SELECT cand.x AS u, cand.y AS v, cn,
        |  CAST(du.deg AS BIGINT) AS deg_u, CAST(dv.deg AS BIGINT) AS deg_v,
        |  CAST(CAST(cn AS HUGEINT) * 1000000 //
        |    CAST(du.deg + dv.deg - cn AS HUGEINT) AS BIGINT) AS jaccard_e6
        |FROM cand
        |JOIN deg du ON du.n = cand.x
        |JOIN deg dv ON dv.n = cand.y
        |ORDER BY cn DESC, u, v LIMIT 100""".stripMargin)
}
