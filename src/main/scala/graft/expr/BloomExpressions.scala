package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.core.{Hashing, Sbbf}

/** `bloom_union(a, b)` — new filter = word-wise OR of two serialized
  * filters (`__or__`, `_abloom.c:238-281`). Both sides must have identical
  * (capacity, fp_rate) or the expression throws, like the reference.
  */
case class BloomUnion(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_union expects two binary filters, got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    BloomCodec.mergeBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.BloomCodec$$.MODULE$$.mergeBytes($a, $b)")

  override def prettyName: String = "bloom_union"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomUnion =
    copy(left = newLeft, right = newRight)
}

/** `bloom_is_empty(filter) -> boolean` — true iff no bit is set
  * (`__bool__` inverted, `_abloom.c:309-317`).
  */
case class BloomIsEmpty(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"bloom_is_empty expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    Sbbf.fromBytes(input.asInstanceOf[Array[Byte]]).isEmpty
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Sbbf$$.MODULE$$.fromBytes($c).isEmpty()")
  override def prettyName: String = "bloom_is_empty"
  override protected def withNewChildInternal(c: Expression): BloomIsEmpty = copy(child = c)
}

/** `bloom_describe(filter)` -> struct of the reference's read-only
  * properties (`_abloom.c:568-598`): capacity, fp_rate, block_count,
  * byte_count, bit_count, k, is_empty.
  */
case class BloomDescribe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BloomDescribe.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"bloom_describe expects binary, got ${dt.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val f = Sbbf.fromBytes(input.asInstanceOf[Array[Byte]])
    InternalRow(f.capacity, f.fpRate, f.blockCount, f.byteCount, f.bitCount,
      f.k, f.isEmpty)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val desc = BloomDescribe.getClass.getName.stripSuffix("$")
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $desc$$.MODULE$$.describe($c);"
    })

  override def prettyName: String = "bloom_describe"

  override protected def withNewChildInternal(newChild: Expression): BloomDescribe =
    copy(child = newChild)
}

object BloomDescribe {
  val schema: StructType = StructType(Seq(
    StructField("capacity", LongType, nullable = false),
    StructField("fp_rate", DoubleType, nullable = false),
    StructField("block_count", LongType, nullable = false),
    StructField("byte_count", LongType, nullable = false),
    StructField("bit_count", LongType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("is_empty", BooleanType, nullable = false)))

  def describe(bytes: Array[Byte]): InternalRow = {
    val f = Sbbf.fromBytes(bytes)
    InternalRow(f.capacity, f.fpRate, f.blockCount, f.byteCount, f.bitCount,
      f.k, f.isEmpty)
  }
}

/** `bloom_cardinality_estimate(filter) -> double` — linear-counting
  * distinct estimate from bit occupancy (see
  * [[graft.core.Sbbf.estimateCardinality]]).
  */
case class BloomCardinalityEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"bloom_cardinality_estimate expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    Sbbf.fromBytes(input.asInstanceOf[Array[Byte]]).estimateCardinality
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.core.Sbbf$$.MODULE$$.fromBytes($c).estimateCardinality()")
  override def prettyName: String = "bloom_cardinality_estimate"
  override protected def withNewChildInternal(c: Expression): BloomCardinalityEstimate =
    copy(child = c)
}

/** `bloom_intersect_estimate(a, b) -> double` — inclusion-exclusion over
  * the linear-counting estimates (`est(A) + est(B) - est(A|B)`), the SBBF
  * sibling of `hll_intersect_estimate`; filters must be compatible
  * (same capacity + fp_rate). See [[graft.core.Sbbf.intersectEstimate]]
  * for the error model (absolute error scales with |A| + |B|).
  */
case class BloomIntersectEstimate(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_intersect_estimate expects (binary, binary), got (${l.sql}, ${r.sql})")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    Sbbf.fromBytes(a.asInstanceOf[Array[Byte]])
      .intersectEstimate(Sbbf.fromBytes(b.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.core.Sbbf$$.MODULE$$.fromBytes($a).intersectEstimate(graft.core.Sbbf$$.MODULE$$.fromBytes($b))")
  override def prettyName: String = "bloom_intersect_estimate"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomIntersectEstimate =
    copy(left = newLeft, right = newRight)
}
