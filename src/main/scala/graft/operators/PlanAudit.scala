package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollapseCodegenStages, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, EnsureRequirements, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Physical-plan shape statistics as data — the library form of the plan
  * assertions a scale-conscious team otherwise hand-writes in tests
  * (PlanSpec-style). `audit` compiles the query (no execution) and counts
  * the operators whose presence or absence IS the 100 TB posture:
  * shuffle exchanges (each one a full-data network pass), broadcasts,
  * file scans, cartesian products / nested-loop joins (the shapes that
  * cannot survive a scale-up), and whole-stage-codegen coverage. CI then
  * gates on `shuffles <= k && cartesians == 0` instead of grepping
  * explain text.
  *
  * Works on the pre-AQE physical plan (the static shape — AQE's runtime
  * re-plans depend on sizes, so gating on them would make tests
  * data-dependent); AQE wrapper nodes are unwrapped, not counted.
  */
object PlanAudit {

  final case class Audit(
      shuffles: Long, broadcasts: Long, scans: Long,
      cartesians: Long, nestedLoopJoins: Long,
      codegenSpans: Long, nodes: Long,
      unpartitionedWindows: Long = 0L,
      singlePartitionExchanges: Long = 0L,
      reusedExchanges: Long = 0L,
      reusedSubqueries: Long = 0L)

  /** Walk every node of the compiled physical plan, including the plans
    * nested inside AQE wrappers and subquery expressions. */
  def of(df: DataFrame): Audit = {
    var shuffles, broadcasts, scans, cartesians, bnlj, codegen, nodes = 0L
    var unpWindows, spExchanges = 0L
    def walk(p: SparkPlan): Unit = {
      val unwrapped = p match {
        // AQE defers plan preparation: inputPlan has neither exchanges
        // nor codegen spans yet — run the two preparation rules the
        // non-adaptive path would have run, so the audited shape is the
        // static pre-runtime plan (what PlanSpec-style assertions read)
        case a: AdaptiveSparkPlanExec =>
          CollapseCodegenStages()(EnsureRequirements()(a.inputPlan))
        case other => other
      }
      unwrapped.foreach { n =>
        nodes += 1
        n match {
          case e: ShuffleExchangeLike =>
            shuffles += 1
            // an exchange that funnels EVERYTHING into one partition: the
            // shape behind `OVER (ORDER BY …)` windows and the one a
            // 1000-executor cluster serializes on. (Global aggregates also
            // plan one, but theirs carries ~1 pre-aggregated row per
            // upstream partition — which is why this is a separate counter
            // and the gate below keys on unpartitionedWindows instead.)
            if (e.outputPartitioning == SinglePartition) spExchanges += 1
          case _: BroadcastExchangeLike => broadcasts += 1
          case _: CartesianProductExec => cartesians += 1
          case _: BroadcastNestedLoopJoinExec => bnlj += 1
          case _: WholeStageCodegenExec => codegen += 1
          // a window with no PARTITION BY holds its ENTIRE input in one
          // task — correct at 10^3 rows, dead at 10^9 (the q337/q349
          // r14-verdict defect class). Legitimate only over frames bounded
          // by something other than data volume; PlanSpec allowlists those.
          case w: WindowExecBase if w.partitionSpec.isEmpty =>
            unpWindows += 1
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
            unpWindows += 1
          case f if f.nodeName.contains("Scan") => scans += 1
          case _ => ()
        }
        n.subqueries.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    val (rex, rsub) = reuseCounts(df.queryExecution.executedPlan)
    Audit(shuffles, broadcasts, scans, cartesians, bnlj, codegen, nodes,
      unpWindows, spExchanges, rex, rsub)
  }

  /** Substrate sharing as data (round-15 verdict item 6): how many
    * exchange/subquery subtrees the reuse rule collapses because a
    * SIBLING branch builds the identical one. Counted in a SEPARATE pass
    * — the main counters above deliberately see the pre-reuse tree (the
    * per-query shuffle pins and the round-over-round PLANS.json diff are
    * calibrated against it), while these two fields make a claimed
    * shared chain visible: a "shared" substrate that silently diverges
    * (one branch perturbed so its exchange no longer canonicalizes equal)
    * shows up as a reuse-count DROP in PLANS.json / a PlanSpec pin, not
    * as a bench mystery. Non-AQE runs reuse via this very rule; AQE
    * reuses per-stage at runtime with the same canonical-equality test,
    * so the static count is the right shared-shape proxy for both. */
  private def reuseCounts(executed: SparkPlan): (Long, Long) = {
    import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
    import org.apache.spark.sql.execution.ReusedSubqueryExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // fully-prepared static tree: AQE wrappers (root AND inside subquery
    // expressions) replaced by their prepared input plans
    def prep(p: SparkPlan): SparkPlan = p.transformUpWithSubqueries {
      case a: AdaptiveSparkPlanExec =>
        prep(CollapseCodegenStages()(EnsureRequirements()(a.inputPlan)))
    }
    var rex, rsub = 0L
    ReuseExchangeAndSubquery(prep(executed)).foreachWithSubqueries {
      case _: ReusedExchangeExec => rex += 1
      case _: ReusedSubqueryExec => rsub += 1
      case _ => ()
    }
    (rex, rsub)
  }

  /** Max MATERIALIZED broadcast size (bytes) across every broadcast
    * exchange in the runtime plan — read AFTER an action so the
    * `dataSize` SQLMetric is populated. Plan shape cannot see memory: a
    * data-scale broadcast compiles identically to a bounded one, so the
    * bench records this runtime number per query and ArtifactGateSpec
    * bounds it (r16 verdict item 5). Takes the plan that actually RAN —
    * obtain it from a QueryExecutionListener's onSuccess (an action like
    * a noop write compiles its OWN QueryExecution; the constructed df's
    * plan never executes, so its metrics stay zero). Descends into AQE
    * nodes at any depth (a V2 write exec holds its query as an AQE
    * child), their final stages (QueryStageExec wraps its materialized
    * plan as a LEAF — plain foreach never reaches it), reused exchanges,
    * and subqueries.
    * A never-executed branch's metric reads 0 — this is a max over what
    * RAN, which is exactly the memory claim being bounded. */
  def maxBroadcastBytes(executed: SparkPlan): Long = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    var mx = 0L
    def walk(p: SparkPlan): Unit =
      p.foreach { n =>
        n match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case qs: QueryStageExec => walk(qs.plan)
          case r: ReusedExchangeExec => walk(r.child)
          case b: BroadcastExchangeLike =>
            b.metrics.get("dataSize")
              .foreach(m => mx = math.max(mx, m.value))
          case _ => ()
        }
        n.subqueries.foreach(walk)
      }
    walk(executed)
    mx
  }

  /** The audit as a 1-row DataFrame, for dashboards / CI artifacts. */
  def audit(df: DataFrame): DataFrame = {
    val a = of(df)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((a.shuffles, a.broadcasts, a.scans, a.cartesians,
      a.nestedLoopJoins, a.codegenSpans, a.nodes,
      a.unpartitionedWindows, a.singlePartitionExchanges,
      a.reusedExchanges, a.reusedSubqueries))
      .toDF("shuffles", "broadcasts", "scans", "cartesians",
        "nested_loop_joins", "codegen_spans", "nodes",
        "unpartitioned_windows", "single_partition_exchanges",
        "reused_exchanges", "reused_subqueries")
  }
}
