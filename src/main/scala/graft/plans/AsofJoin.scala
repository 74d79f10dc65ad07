package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the one whole-operator semantic genuinely missing
  * from Spark's join zoo (DuckDB ships `ASOF JOIN`; Spark users fall back
  * to a union+running-last window or a range join).
  *
  * For each left row, emit the LAST right row of the same key whose time is
  * at or before the left row's time (left-outer semantics: unmatched left
  * rows keep null right columns). Ties on right time resolve to the last
  * row in (time, tieBreak) order, matching DuckDB's behavior on the test
  * corpus and the union+window formulation (ExtraQueries.q25).
  *
  * Physical execution: both sides hash-partitioned on the key and sorted by
  * (key, time) — declared via `requiredChildDistribution` /
  * `requiredChildOrdering`, so Catalyst inserts exactly one shuffle + sort
  * per side and AQE still applies — then a single O(n+m) merge scan per
  * partition with one buffered right row. No per-key state beyond that row,
  * so a key with a billion rows streams through without buffering —
  * the property the window formulation lacks (its running-`last` holds
  * whole partitions in the window buffer).
  *
  * Scope: single equi key of LongType; time and tie-break columns of any
  * 8-byte-orderable type (timestamp/long). That covers the engine's event
  * streams; widening to arbitrary key tuples is mechanical (swap the
  * getLong calls for an UnsafeProjection + ordering).
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy mapping the logical node to the physical merge scan. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, tb) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTieBreak, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  /** Rows never leave their left partition, so the left child's hash
    * partitioning survives — declaring it lets a downstream groupBy/join
    * on the key reuse it instead of inserting another Exchange. */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans
      .physical.Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    // capture only serializable pieces; projections are code-generated and
    // must be instantiated inside the partition closure
    val lKeyExprs = Seq(leftKey, leftTime)
    val rKeyExprs = Seq(rightKey, rightTime)
    val lOutput = left.output
    val rOutput = right.output
    val rightWidth = rOutput.size
    val resultSchema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOutput)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOutput)
      val resultProj = UnsafeProjection.create(resultSchema, resultSchema)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      // One buffered right row per partition: the last right row with
      // (rKey, rTime) <= the current left (lKey, lTime). Both iterators
      // advance monotonically — O(n + m), constant memory. SQL null
      // semantics: a null key or time on either side never matches
      // (ascending sort puts nulls first, so skipping them preserves the
      // monotone advance).
      var rRow: InternalRow = null
      var rKeyV = 0L; var rTimeV = 0L
      var matchRow: InternalRow = null // .copy()'d last match for current key
      var matchKey = 0L
      def advanceR(): Unit = {
        rRow = null
        while (rRow == null && rIter.hasNext) {
          val cand = rIter.next()
          val k = rKeyProj(cand)
          if (!k.isNullAt(0) && !k.isNullAt(1)) {
            rRow = cand; rKeyV = k.getLong(0); rTimeV = k.getLong(1)
          }
        }
      }
      advanceR()
      lIter.map { lRow =>
        val lk = lKeyProj(lRow)
        if (lk.isNullAt(0) || lk.isNullAt(1)) {
          resultProj(joined(lRow, nullRight)) // null key/time: no match
        } else {
          val lKeyV = lk.getLong(0); val lTimeV = lk.getLong(1)
          // advance the right side up to (lKeyV, lTimeV) inclusive
          while (rRow != null &&
            (rKeyV < lKeyV || (rKeyV == lKeyV && rTimeV <= lTimeV))) {
            if (rKeyV == lKeyV) { matchRow = rRow.copy(); matchKey = lKeyV }
            advanceR()
          }
          val r =
            if (matchRow != null && matchKey == lKeyV) matchRow else nullRight
          resultProj(joined(lRow, r))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsofJoinOps.asofLeft(purchases, clicks, "user_id", "ts")`.
  * Column names must be unambiguous across the two sides apart from the key
  * (rename the right side's columns first, as with any self-join). */
object AsofJoinOps {
  def asofLeft(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTieBreak: String): DataFrame = {
    val spark = leftDf.sparkSession
    registerStrategy(spark)
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not in ${p.output.map(_.name).mkString(",")}"))
    // The merge scan reads key/time/tie-break as raw 8-byte longs
    // (getLong); narrower or differently-encoded types (Int, Date) would
    // compare WRONG silently (an int is zero-extended, so negatives read as
    // large positives). Fail fast instead.
    def requireOrderableLong(a: Attribute, role: String): Attribute = {
      a.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => a
        case t => throw new IllegalArgumentException(
          s"asofLeft $role column ${a.name} must be LongType, " +
            s"TimestampType or TimestampNTZType (8-byte long-ordered); got $t")
      }
    }
    // A right side sharing exprIds with the left (un-renamed self-join)
    // would silently mis-bind columns in the projections — require the
    // caller to rename one side first, as with any self-join.
    val shared = lp.outputSet.intersect(rp.outputSet)
    require(shared.isEmpty,
      s"asofLeft left/right sides share attributes ${shared.map(_.name).mkString(", ")}; " +
        "rename one side's columns before joining (self-join rule)")
    val lKey = requireOrderableLong(attr(lp, leftKey), "left key")
    val rKey = requireOrderableLong(attr(rp, rightKey), "right key")
    val lTime = requireOrderableLong(attr(lp, leftTime), "left time")
    val rTime = requireOrderableLong(attr(rp, rightTime), "right time")
    // The per-column check above admits each 8-byte type independently,
    // but the raw-long comparison is only meaningful when BOTH sides use
    // the same encoding: TimestampType holds UTC epoch micros while
    // TimestampNTZType holds wall-clock micros, so a mixed pair compares
    // different epochs and silently mis-matches in any non-UTC session.
    // Require each compared pair to share one exact type.
    def requireSameType(l: Attribute, r: Attribute, role: String): Unit =
      require(l.dataType == r.dataType,
        s"asofLeft $role columns must share one type (raw 8-byte " +
          s"comparison): left ${l.name}: ${l.dataType} vs " +
          s"right ${r.name}: ${r.dataType}")
    requireSameType(lKey, rKey, "key")
    requireSameType(lTime, rTime, "time")
    val plan = AsofJoin(lp, rp, lKey, rKey, lTime, rTime,
      requireOrderableLong(attr(rp, rightTieBreak), "right tie-break"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, plan)
  }

  /** Idempotent registration of [[AsofJoinStrategy]] — called from
    * Tables.configure, and from `asofLeft` so the operator also plans on
    * a session that was never configured. */
  def registerStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
}
