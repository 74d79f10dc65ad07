package graft.operators

import graft.SparkSuite

/** Alternating large/small-star connected components: multi-hop chains
  * (the rounds must iterate), disjoint components, isolated nodes,
  * self-loops and undeclared endpoints, checked against a driver-side
  * union-find, plus non-convergence detection and the job floor. */
class ConnectedComponentsSpec extends SparkSuite {

  private def comp(nodes: Seq[Long], edges: Seq[(Long, Long)],
      maxIter: Int = 50): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    ConnectedComponents.components(
      nodes.toDF("id"), edges.toDF("a", "b"), "id", "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a 6-node path collapses to one component (needs several rounds)") {
    val got = comp(0L to 5L, Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L)))
    assert(got == (0L to 5L).map(_ -> 0L).toMap)
  }

  test("disjoint components and isolated nodes keep separate labels") {
    // component {1,2,3} via chain, {10,11} via edge, 20 isolated
    val got = comp(Seq(1L, 2L, 3L, 10L, 11L, 20L),
      Seq((3L, 2L), (2L, 1L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("transitive closure: A~B, B~C clusters A with C without an A~C edge") {
    val got = comp(Seq(7L, 8L, 9L), Seq((7L, 8L), (8L, 9L)))
    assert(got(9L) == 7L)
  }

  test("undeclared edge endpoints propagate labels instead of faking convergence") {
    // node 2 is absent from the vertex set but bridges 3 to 1: its
    // first-appearance round must count as a change, or the loop would
    // stop with 3 still labeled 3
    val got = comp(Seq(1L, 3L), Seq((3L, 2L), (2L, 1L)))
    assert(got(3L) == 1L && got(1L) == 1L && got(2L) == 1L)
  }

  test("duplicate ids in the vertex set still yield one row per id") {
    val got = comp(Seq(1L, 1L, 2L, 2L, 5L), Seq((1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
    val s = spark
    import s.implicits._
    val n = ConnectedComponents.components(
      Seq(1L, 1L, 2L).toDF("id"), Seq((1L, 2L)).toDF("a", "b"),
      "id", "a", "b").count()
    assert(n == 2, s"expected one row per distinct id, got $n")
  }

  test("high-diameter chain falls back to alternating star in O(log n) rounds") {
    // a 201-node path has diameter 200 — one-hop-per-round min-label
    // propagation would need 200 rounds; alternating large/small-star
    // must finish the job within the default maxIter=50 budget AND in a
    // logarithmic round count
    val s = spark
    import s.implicits._
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    ConnectedComponents.lastStarRounds = -1
    val result = ConnectedComponents.components(
      (0L to 200L).toDF("id"),
      (0L until 200L).map(i => (i + 1, i)).toDF("a", "b"), "id", "a", "b")
    val got = result.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 200L).map(_ -> 0L).toMap)
    val rounds = ConnectedComponents.lastStarRounds
    assert(rounds > 0, "star rounds did not run for a diameter-200 graph")
    assert(rounds <= 15, s"star took $rounds rounds on 201 nodes — not O(log n)")
    // the result is a checkpoint, whose blocks ContextCleaner frees once
    // it is unreachable; release them here so the check below sees that
    // everything else — star rounds, edge and result caches — is
    // already gone
    CheckpointBlocks.release(result)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"star fallback leaked cached RDDs: $leaked")
  }

  test("star fallback keeps disjoint components and singletons separate") {
    // two long chains + an isolated node: the star rounds must not merge
    // components, and the final join must not drop declared singletons
    val chainA = (0L until 30L).map(i => (i + 1, i))
    val chainB = (100L until 130L).map(i => (i + 1, i))
    ConnectedComponents.lastStarRounds = -1
    val got = comp((0L to 30L) ++ (100L to 130L) :+ 999L, chainA ++ chainB)
    assert(ConnectedComponents.lastStarRounds > 0, "expected the star path")
    assert((0L to 30L).forall(got(_) == 0L))
    assert((100L to 130L).forall(got(_) == 100L))
    assert(got(999L) == 999L)
  }

  test("labels equal a driver-side union-find on a mixed graph") {
    // chain (high diameter) + dense pair + singleton — every regime
    val nodes = (0L to 9L) ++ Seq(20L, 21L, 30L)
    val edges = Seq((9L, 8L), (8L, 7L), (7L, 6L), (6L, 5L), (5L, 4L),
      (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L), (20L, 21L))
    val got = comp(nodes, edges)
    assert(got == ConnectedComponentsSpec.unionFind(nodes, edges))
    assert(got(9L) == 0L && got(21L) == 20L && got(30L) == 30L)
  }

  test("labels equal a driver-side union-find on seeded random graphs " +
    "(chains, cliques, self-loops, undeclared endpoints, duplicate ids)") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val base = seed * 1000L
      // a shuffled chain, a clique, a few self-loops (declared and not)
      // and sparse random edges; the shuffle hides the chain's order
      val chain = rnd.shuffle((0L until 25L).toList).map(base + _)
      val chainEdges = chain.zip(chain.tail)
      val clique = (100L until 106L).map(base + _)
      val cliqueEdges = for (a <- clique; b <- clique if a < b) yield (a, b)
      val loops = Seq((base + 200L, base + 200L), (base + 201L, base + 201L),
        (base + 3L, base + 3L))
      val randomEdges = Seq.fill(15)((base + 300L + rnd.nextInt(40),
        base + 300L + rnd.nextInt(40)))
      val edges = rnd.shuffle(
        chainEdges ++ cliqueEdges ++ loops ++ randomEdges).map {
          case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
      val endpoints = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      // declare only part of the endpoints (the rest join implicitly),
      // some isolated ids, and duplicates of both
      val declared = endpoints.filter(_ => rnd.nextInt(3) > 0) ++
        Seq(base + 500L, base + 501L)
      val nodes = declared ++ declared.take(5)
      val got = comp(nodes, edges)
      assert(got == ConnectedComponentsSpec.unionFind(nodes, edges),
        s"seed $seed: labels diverge from union-find")
    }
  }

  test("arm-in-the-id fusion decodes to bit-identical per-arm labels — " +
    "the q299 single-closure contract") {
    val s = spark
    import s.implicits._
    // arm 0: the full graph; arm 1: the same graph minus a "hub" (node 2),
    // which splits the chain — the exact q299 before/after shape
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 10L)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val nodes1 = nodes.filterNot(_ == 2L)
    val edges1 = edges.filterNot { case (a, b) => a == 2L || b == 2L }
    def run(ns: Seq[Long], es: Seq[(Long, Long)]) =
      ConnectedComponents.components(
        ns.toDF("id"), es.toDF("a", "b"), "id", "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perArm0 = run(nodes, edges)
    val perArm1 = run(nodes1, edges1)
    val fused = run(
      nodes.map(_ * 2L) ++ nodes1.map(_ * 2L + 1L),
      edges.map { case (a, b) => (a * 2L, b * 2L) } ++
        edges1.map { case (a, b) => (a * 2L + 1L, b * 2L + 1L) })
    val decoded0 = fused.collect { case (id, c) if id % 2 == 0 =>
      id / 2 -> c / 2 }
    val decoded1 = fused.collect { case (id, c) if id % 2 == 1 =>
      id / 2 -> c / 2 }
    assert(decoded0 == perArm0, "arm 0 labels diverged under fusion")
    assert(decoded1 == perArm1, "arm 1 labels diverged under fusion")
    // the hub split is real: arm 1 has components {0,1}, {3,4}, {10}
    assert(perArm1(4L) == 3L && perArm1(1L) == 0L && perArm1(10L) == 10L)
  }

  test("job floor holds: the observe-fold keeps one driver action per " +
    "round (measured 30 jobs on the two-path fixture, +2 slack)") {
    // pins ANALYSIS_r13_ccfloor's win structurally: a separate
    // convergence count() reappearing adds ≥ 1 job per star round. AQE
    // query-stage jobs are part of the measured floor; the pin is for
    // THIS Spark version (re-measure on upgrade, like the PlanGate pins).
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.functions.{col, lit}
    import java.util.concurrent.atomic.AtomicInteger
    val nodes = spark.range(0, 12).toDF("id")
    val edges = spark.range(0, 5)
      .select(col("id").as("a"), (col("id") + lit(1L)).as("b"))
      .unionAll(spark.range(6, 11)
        .select(col("id").as("a"), (col("id") + lit(1L)).as("b")))
    // warm run: JIT + codegen compilation jobs are not part of the floor
    ConnectedComponents.components(nodes, edges, "id", "a", "b").unpersist()
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val c = ConnectedComponents.components(nodes, edges, "id", "a", "b")
    // components() is eager — every round's jobs have been submitted by
    // now; wait for the async listener bus to drain before reading
    Thread.sleep(2000)
    spark.sparkContext.removeSparkListener(l)
    c.unpersist()
    assert(jobs.get <= 30 + 2,
      s"CC round floor regressed: ${jobs.get} jobs > measured 30+2 — " +
        "did a per-round action (convergence count?) come back?")
  }

  test("non-convergence within maxIter fails loudly instead of truncating") {
    // the failure path must also release its iteration caches: nothing
    // caller-visible references them after the throw
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      comp(0L to 5L, Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L)),
        maxIter = 2)
    }
    assert(e.getMessage.contains("converge"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"non-convergence leaked cached RDDs: $leaked")
  }

  test("star-path non-convergence fails loudly and releases its caches") {
    // the same 6-node path with a one-round budget: the failure is
    // raised inside alternatingStar, with its round cache and the edge
    // cache both live
    val s = spark
    import s.implicits._
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.components((0L to 5L).toDF("id"),
        Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L)).toDF("a", "b"),
        "id", "a", "b", maxIter = 1)
    }
    assert(e.getMessage.contains("alternating star"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"star non-convergence leaked cached RDDs: $leaked")
  }
}

object ConnectedComponentsSpec {

  /** Min-id component labels of `nodes` ∪ the endpoints of `edges`, by a
    * driver-side union-find: the reference the distributed labels must
    * equal. */
  def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)])
      : Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // the smaller root wins, so every root is its component's min id
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    nodes.foreach(find)
    edges.foreach { case (a, b) => union(a, b) }
    parent.keys.map(x => x -> find(x)).toMap
  }
}
