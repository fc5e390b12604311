package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.core.Kmv

/** KMV (bottom-k / theta-style) sketch expressions over
  * [[KmvKernel]]'s builds. KMV's niche vs HLL: EXACT below k (estimates and set operations are
  * true set computations until the sketch saturates) and a principled
  * single-threshold intersection estimator instead of inclusion-
  * exclusion over three compounding estimates.
  */

/** `kmv_estimate(sketch) -> bigint` — exact size below k, (k-1)/theta
  * rounded at/above.
  */
case class KmvEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"kmv_estimate expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    KmvEstimate.estimate(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvEstimate.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.estimate($c)")
  }
  override def prettyName: String = "kmv_estimate"
  override protected def withNewChildInternal(c: Expression): KmvEstimate = copy(child = c)
}

object KmvEstimate {
  def estimate(bytes: Array[Byte]): Long = math.round(Kmv.fromBytes(bytes).estimate)
}

/** `kmv_intersect_estimate(a, b) -> bigint` — theta-style intersection:
  * both sketches restricted below min(theta_a, theta_b), the surviving
  * common hashes scaled back by that single threshold. EXACT while both
  * sketches are unsaturated (they then hold their full hash sets).
  */
case class KmvIntersectEstimate(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"kmv_intersect_estimate expects two binary sketches, got (${l.sql}, ${r.sql})")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    KmvIntersectEstimate.estimate(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvIntersectEstimate.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, (a, b) => s"$o$$.MODULE$$.estimate($a, $b)")
  }
  override def prettyName: String = "kmv_intersect_estimate"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvIntersectEstimate =
    copy(left = newLeft, right = newRight)
}

object KmvIntersectEstimate {
  def estimate(aBytes: Array[Byte], bBytes: Array[Byte]): Long =
    math.round(Kmv.intersectEstimate(Kmv.fromBytes(aBytes), Kmv.fromBytes(bBytes)))
}

/** `kmv_describe(sketch) -> struct<k:int, n:int, saturated:boolean,
  * theta:double>` — read-only properties.
  */
case class KmvDescribe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("saturated", BooleanType, nullable = false),
    StructField("theta", DoubleType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"kmv_describe expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    KmvDescribe.describe(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvDescribe.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.describe($c)")
  }
  override def prettyName: String = "kmv_describe"
  override protected def withNewChildInternal(c: Expression): KmvDescribe = copy(child = c)
}

object KmvDescribe {
  def describe(bytes: Array[Byte]): InternalRow = {
    val s = Kmv.fromBytes(bytes)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s.k, s.size, s.isSaturated, s.theta))
  }
}
