package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkSuite, SparkEntry, Tables}
import graft.operators.SessionDirMemo.rawChain

/** Pins the q264/q265 two-semiring fusion contract (round-12 verdict
  * item 2, mirroring ConnectedComponentsSpec's arm-fusion test): the ONE
  * fused Bellman–Ford loop in [[GraphQueries.semiringStages]] must
  * produce labels BIT-IDENTICAL per arm to two independently-coded
  * unfused loops — the (min,+) latency loop over only non-negative-
  * latency edges (q264's original frontier-only table) and the
  * (max,min) capacity loop over all edges (q265's original). The unfused
  * twins below are deliberately re-derived from the operator contract,
  * not shared code, so a fusion bug (NULL-lat leakage into min(), a
  * capacity row lost to the latency arm's narrower reach) cannot cancel
  * out. The DuckDB oracles re-prove the same thing per driver round;
  * this spec keeps the proof in `sbt test`. */
class SemiringFusionSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  /** Unfused (min,+) loop — q264's pre-fusion shape, kept verbatim. */
  private def unfusedSssp(dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val pairW = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 10L).as("c"),
        (col("l_suppkey") * 10L + 1L).as("p"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("w"))
      .filter(col("w") >= 0L)
      .groupBy("c", "p").agg(min("w").as("w"))
    val edges = pairW.select(col("c").as("src"), col("p").as("dst"),
        col("w"))
      .unionAll(pairW.select(col("p").as("src"), col("c").as("dst"),
        col("w")))
    var dist = spark.range(1)
      .select(lit(11L).as("node"), lit(0L).as("d"))
    for (_ <- 1 to 4) {
      val relaxed = edges.join(dist, edges("src") === dist("node"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionAll(relaxed)
        .groupBy("node").agg(min("d").as("d"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Unfused (max,min) loop — q265's pre-fusion shape, kept verbatim. */
  private def unfusedWidest(dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val pairW = o.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 10L).as("c"),
        (col("l_suppkey") * 10L + 1L).as("p"))
      .agg(count(lit(1)).as("w"))
    val edges = pairW.select(col("c").as("src"), col("p").as("dst"),
        col("w"))
      .unionAll(pairW.select(col("p").as("src"), col("c").as("dst"),
        col("w")))
    var width = spark.range(1)
      .select(lit(11L).as("node"), lit(Long.MaxValue).as("wd"))
    for (_ <- 1 to 4) {
      val relaxed = edges.join(width, edges("src") === width("node"))
        .select(col("dst").as("node"), least(col("wd"), col("w")).as("wd"))
      width = width.unionAll(relaxed)
        .groupBy("node").agg(max("wd").as("wd"))
        .localCheckpoint(true)
    }
    width.filter(col("node") =!= 11L)
      .select(col("node"), col("wd").as("width"))
  }

  private def asMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("fused (min,+) arm is bit-identical to the unfused SSSP loop") {
    val fused = asMap(SparkEntry.queries("q264_sssp")(spark, sf))
    val ref = asMap(unfusedSssp(sf))
    assert(fused == ref,
      s"SSSP arm diverged under fusion: ${fused.size} vs ${ref.size} rows")
    assert(fused.nonEmpty && fused(11L) == 0L, "seed row missing")
  }

  test("fused (max,min) arm is bit-identical to the unfused widest loop") {
    val fused = asMap(SparkEntry.queries("q265_widest_path")(spark, sf))
    val ref = asMap(unfusedWidest(sf))
    assert(fused == ref,
      s"widest arm diverged under fusion: ${fused.size} vs ${ref.size} rows")
    assert(!fused.contains(11L), "the ∞-width seed sentinel leaked")
    assert(fused.valuesIterator.forall(_ < Long.MaxValue),
      "a Long.MaxValue sentinel survived relaxation")
  }

  test("fused state: wd never NULL; NULL d only where latency arm " +
      "never reached (capacity reach is a superset)") {
    val st = rawChain(GraphQueries.semiringStages(spark, sf))
    assert(st.filter(col("wd").isNull).count() == 0L,
      "capacity arm produced a NULL width — reach-superset argument broken")
    // on TPC-H-shaped data every latency is >= 0, so the two reached
    // sets coincide; a NULL d here would mean NULL-lat edges leaked in
    assert(st.filter(col("d").isNull).count() == 0L,
      "latency arm lost reach on data where every datediff >= 0")
  }

  test("second consumer hits the memo (build-once across q264/q265)") {
    val before = SparkEntry.queries("q264_sssp")(spark, sf)
    val again = SparkEntry.queries("q265_widest_path")(spark, sf)
    // both ride the same checkpointed state: the plans must be stubs
    // over an RDD scan, not two rebuilt 4-round chains
    val a264 = graft.operators.PlanAudit.of(before)
    val a265 = graft.operators.PlanAudit.of(again)
    assert(a264.shuffles <= 1L, s"q264 rebuilt its loop: $a264")
    assert(a265.shuffles <= 1L, s"q265 rebuilt its loop: $a265")
  }
}
