package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in approximate-query-processing rewrite: `count(DISTINCT x)` →
  * HyperLogLog++ (`approx_count_distinct(x, rsd)`), applied by the
  * OPTIMIZER under a session flag — the query text does not change, the
  * plan does. This is the engine-level AQP switch interactive/exploratory
  * workloads flip at 100 TB, where an exact distinct forces a full shuffle
  * of every distinct key (the q72 accuracy-contract query measures exactly
  * this sketch's error against the exact count; this rule lets a session
  * choose that trade for every query at once).
  *
  * Scope and safety:
  *  - disabled by default; enabled per session via
  *    `SET spark.graft.approxDistinct.enabled=true`, precision tuned via
  *    `spark.graft.approxDistinct.rsd` (default 0.01 → ~1% error, the q72
  *    contract bound with 5× margin);
  *  - rewrites only single-column `Count(DISTINCT x)` — multi-column
  *    distinct counts and DISTINCT in other aggregates (sum, avg) keep
  *    exact semantics;
  *  - the replacement preserves the AggregateExpression's result
  *    ExprId and LongType, so nothing upstream re-resolves — output
  *    column names still read `count(DISTINCT x)`, which is the point:
  *    the CONSUMER opted into approximation, the query didn't.
  *
  * Registered by [[graft.Tables.configure]] as a user-provided optimizer
  * rule, next to the `cosine_sim` function and the as-of join strategy.
  * User-provided rules run after
  * the main optimizer batches but BEFORE single-distinct aggregates are
  * planned physically (only multi-distinct is expanded earlier by
  * RewriteDistinctAggregates), so the `isDistinct` flag is still visible
  * here.
  */
case class ApproxDistinctRewrite() extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = conf
      .getConfString("spark.graft.approxDistinct.enabled", "false") == "true"
    if (!enabled) plan
    else {
      val rsd = conf.getConfString("spark.graft.approxDistinct.rsd", "0.01")
        .toDouble
      plan.transformAllExpressions {
        // Seq(child), not child :: Nil — Count's children arrive as an
        // ArraySeq, which the List cons pattern silently fails to match
        case ae @ AggregateExpression(Count(Seq(child)), _, true, _, _) =>
          ae.copy(
            aggregateFunction =
              HyperLogLogPlusPlus(child, rsd),
            isDistinct = false)
      }
    }
  }
}
