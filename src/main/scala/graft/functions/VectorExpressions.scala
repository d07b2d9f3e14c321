package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for the float-embedding dot product
  * (SURVEY.md §7.3: "custom Expression only if codegen perf demands" — it
  * does: the `zip_with`+`aggregate` composition is evaluated interpreted,
  * allocating an intermediate array per pair; over millions of candidate
  * pairs that dominated the dedup/ANN runtime ~30x).
  *
  * Semantics are EXACTLY the built-in composition (and the DuckDB oracle):
  * per element float→double cast, multiply, left-to-right accumulate —
  * bit-identical results. The loop is [[DotFold]]'s, a tight primitive
  * loop with zero allocation; the IVF-PQ serving kernel calls the same
  * fold.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<float>, array<float>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotFold.floatFloat(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DotFold.floatFloat($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native dot product of a float vector against a DOUBLE vector (centroid
  * scoring in the k-means embedding-dedup path). Identical operation
  * sequence to the `zip_with`+`aggregate` composition and the oracle's
  * list-comprehension sum: float→double cast, multiply, left-to-right
  * accumulate ([[DotFold]]) — bit-identical, zero allocation. */
case class DotFloatDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot_fd expects (array<float>, array<double>), " +
          s"got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotFold.floatDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.DotFold.floatDouble($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Column API for the native dot product. */
  def dotNative(a: Column, b: Column): Column =
    GraftBridge.column(DotProductFloat(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column API for the native float×double dot product. */
  def dotFloatDoubleNative(a: Column, c: Column): Column =
    GraftBridge.column(DotFloatDouble(
      GraftBridge.expression(a), GraftBridge.expression(c)))

  /** SQL registration (`SELECT graft_dot(a, b)`), for the SQL surface. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot",
      exprs => DotProductFloat(exprs(0), exprs(1)),
      "scala_udf")
}
