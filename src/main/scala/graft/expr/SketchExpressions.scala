package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.core.{CountMin, Hll}

/** Scalar query expressions over the stored binary form of the sibling
  * mergeable sketches (north rule, SURVEY.md §7.4); their builds are
  * [[SketchBuildAgg]] over the family kernels ([[HllKernel]],
  * [[CmsKernel]], ...).
  */

// ------------------------------------------------------------------- HLL

/** `hll_estimate(sketch_binary) -> bigint`. */
case class HllEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"hll_estimate expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    Hll.fromBytes(input.asInstanceOf[Array[Byte]]).estimate
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.core.Hll$$.MODULE$$.fromBytes($c).estimate()")
  override def prettyName: String = "hll_estimate"
  override protected def withNewChildInternal(c: Expression): HllEstimate = copy(child = c)
}

/** `hll_intersect_estimate(a, b) -> bigint` — inclusion-exclusion
  * estimate of |A INTERSECT B| from two HLL sketches of the same
  * precision: est(A) + est(B) - est(A UNION B), clamped at 0. Error
  * compounds from the three estimates (can exceed the single-sketch
  * bound when the true intersection is small relative to the union —
  * the standard inclusion-exclusion caveat).
  */
case class HllIntersectEstimate(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hll_intersect_estimate expects two binary sketches, got (${l.sql}, ${r.sql})")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    HllIntersectEstimate.estimate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = HllIntersectEstimate.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, (a, b) => s"$o$$.MODULE$$.estimate($a, $b)")
  }
  override def prettyName: String = "hll_intersect_estimate"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllIntersectEstimate =
    copy(left = newLeft, right = newRight)
}

object HllIntersectEstimate {
  def estimate(aBytes: Array[Byte], bBytes: Array[Byte]): Long = {
    val a = Hll.fromBytes(aBytes)
    val b = Hll.fromBytes(bBytes)
    val ea = a.estimate
    val eb = b.estimate
    val union = a.merge(b).estimate // a is a fresh parse; mutation is local
    math.max(0L, ea + eb - union)
  }
}

// ------------------------------------------------------------- count-min

/** `cms_inner_product(a, b) -> bigint` — AMS/CMS estimate of the inner
  * product sum_k fA(k)*fB(k) = the equi-join cardinality of the two key
  * streams. Never underestimates; over by <= eps*totalA*totalB w.p.
  * 1-delta (see [[graft.core.CountMin.innerProduct]]).
  */
case class CmsInnerProduct(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_inner_product expects two binary sketches, got (${l.sql}, ${r.sql})")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchRuntime.innerProductCms(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expr.SketchRuntime$$.MODULE$$.innerProductCms($a, $b)")
  override def prettyName: String = "cms_inner_product"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsInnerProduct =
    copy(left = l, right = r)
}

/** Runtime helpers of the scalar query expressions; single-sketch parses
  * go through the family codec's cache ([[SketchCodec.parse]]).
  */
object SketchRuntime {
  // a TWO-slot cache for the inner product: routing its two operands
  // through the single-slot CmsCodec.parse would evict alternately and
  // re-decode BOTH sketches every row (the lit()-reparse trap)
  private val cmsPairCache =
    new ThreadLocal[(Array[Byte], CountMin, Array[Byte], CountMin)]

  def innerProductCms(a: Array[Byte], b: Array[Byte]): Long = {
    val c = cmsPairCache.get()
    val sa = if (c != null && (c._1 eq a)) c._2 else CountMin.fromBytes(a)
    val sb = if (c != null && (c._3 eq b)) c._4 else CountMin.fromBytes(b)
    cmsPairCache.set((a, sa, b, sb))
    sa.innerProduct(sb)
  }
}
