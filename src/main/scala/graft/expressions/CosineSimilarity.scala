package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double-array
  * columns, with whole-stage codegen (`doGenCode`).
  *
  * One fused loop accumulates dot product and both norms — no intermediate
  * arrays, unlike the equivalent `aggregate(zip_with(...))` higher-order
  * chain, and the accumulation order (left fold, index order) is identical
  * to that chain and to DuckDB's `list_cosine_similarity`, so results are
  * bit-compatible with the oracle.
  *
  * Null ELEMENTS inside the arrays are not expected (embedding vectors);
  * null array inputs propagate null via `BinaryExpression`'s default
  * null-safety.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null // dimension mismatch → null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null // zero vector → null, not NaN
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // Locals come from ctx.freshName so two cosine_sim instances can share
      // one generated function without duplicate declarations.
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if ($na == 0.0 || $nb == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API form — lets callers apply the native expression to
    * constructed columns (e.g. literal plane arrays) without a SQL-text
    * round-trip through `expr(...)`. */
  def sim(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftSqlBridge
    GraftSqlBridge.column(CosineSimilarity(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  }

  /** Registration (idempotent) so `expr("cosine_sim(a, b)")` and SQL
    * work on any session — the engine's only path, called from
    * Tables.configure. Guarded on functionExists:
    * createOrReplaceTempFunction emits a
    * SimpleFunctionRegistry "replaced a previously registered function"
    * WARN on every repeat call, and configure runs per table load — the
    * unguarded flood pushed the bench JSON line out of the driver's tail
    * capture in round 9 (BENCH_r09.json parsed:null). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")))
      reg.createOrReplaceTempFunction(
        "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "scala_udf")
  }
}
