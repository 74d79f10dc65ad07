package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** [[PlanAudit]] — plan-shape statistics must reflect what the optimizer
  * actually planned. */
class PlanAuditSpec extends SparkSuite {

  import spark.implicits._

  private def big = spark.range(10000).select(col("id"),
    (col("id") % 97).as("k"), (col("id") % 7).as("v"))

  test("a groupBy counts exactly one shuffle, zero cartesians") {
    val a = PlanAudit.of(big.groupBy("k").agg(sum("v")))
    assert(a.shuffles == 1 && a.cartesians == 0, a)
  }

  test("a broadcast join counts a broadcast, not a shuffle pair") {
    val dim = Seq((0L, "x"), (1L, "y")).toDF("k", "name")
    val a = PlanAudit.of(big.join(broadcast(dim), "k"))
    assert(a.broadcasts == 1 && a.shuffles == 0, a)
  }

  test("maxBroadcastBytes reads the broadcast under a noop write's plan") {
    // the write exec holds the query as a NESTED AQE child, which a walk
    // that only unwraps an AQE root never reaches
    val seen = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.accumulateAndGet(PlanAudit.maxBroadcastBytes(qe.executedPlan),
          math.max(_, _))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val dim = Seq((0L, "x"), (1L, "y")).toDF("k", "name")
      big.join(broadcast(dim), "k")
        .write.mode("overwrite").format("noop").save()
      org.apache.spark.graftbench.ListenerFlush.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(seen.get > 0L, "no materialized broadcast seen under the write")
  }

  test("a crossJoin of non-broadcast sides is flagged") {
    val a = PlanAudit.of(big.crossJoin(big.select(col("id").as("id2"))))
    assert(a.cartesians + a.nestedLoopJoins >= 1, a)
  }

  test("codegen spans and scans are visible on a parquet-backed query") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(col("o_totalprice") > 100.0)
      .groupBy("o_orderpriority").count()
    val a = PlanAudit.of(df)
    assert(a.scans >= 1 && a.codegenSpans >= 1 && a.nodes > 3, a)
  }

  test("a self-union of one aggregate counts a reused exchange") {
    // the two union branches build canonically-identical shuffles; the
    // reuse pass must see ONE collapse — while the main shuffle counter
    // still reports the pre-reuse tree (2), because the per-query pins
    // and the PLANS.json round-over-round diff are calibrated on it
    val agg = big.groupBy("k").agg(sum("v").as("s"))
    val a = PlanAudit.of(agg.union(agg))
    assert(a.reusedExchanges == 1, a)
    assert(a.shuffles == 2, s"main counter must stay pre-reuse: $a")
  }

  test("a single aggregate reuses nothing") {
    val a = PlanAudit.of(big.groupBy("k").agg(sum("v")))
    assert(a.reusedExchanges == 0 && a.reusedSubqueries == 0, a)
  }

  test("the audit DataFrame carries the same numbers") {
    val df = big.groupBy("k").agg(sum("v"))
    val row = PlanAudit.audit(df).head()
    assert(row.getAs[Long]("shuffles") == PlanAudit.of(df).shuffles)
  }
}
