package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Kmv, KmvSample}

/** KMV distinct-sample-with-payload expressions: bottom-k on the key
  * hash with an attached STRING payload per retained key — a uniform
  * distinct-sample plus a cardinality estimate in one aggregation pass
  * ([[KmvSampleKernel]] builds it).
  */

/** `kmv_sample_estimate(sketch) -> bigint` — exact size below k,
  * (k-1)/theta rounded at/above (identical estimator to `kmv_estimate`).
  */
case class KmvSampleEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"kmv_sample_estimate expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    KmvSampleEstimate.estimate(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvSampleEstimate.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.estimate($c)")
  }
  override def prettyName: String = "kmv_sample_estimate"
  override protected def withNewChildInternal(c: Expression): KmvSampleEstimate =
    copy(child = c)
}

object KmvSampleEstimate {
  def estimate(bytes: Array[Byte]): Long =
    math.round(KmvSample.fromBytes(bytes).estimate)
}

/** `kmv_sample_values(sketch) -> array<string>` — the retained payloads
  * in ascending key-hash order (a uniform distinct-sample; sort
  * downstream for a display order).
  */
case class KmvSampleValues(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"kmv_sample_values expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    KmvSampleValues.values(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvSampleValues.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.values($c)")
  }
  override def prettyName: String = "kmv_sample_values"
  override protected def withNewChildInternal(c: Expression): KmvSampleValues =
    copy(child = c)
}

object KmvSampleValues {
  def values(bytes: Array[Byte]): GenericArrayData = {
    val s = KmvSample.fromBytes(bytes)
    val out = new Array[Any](s.size)
    var i = 0
    s.payloads.foreach { p =>
      out(i) = UTF8String.fromBytes(p)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `kmv_sample_describe(sketch) -> struct<k, n, saturated, theta>` —
  * read-only properties (mirrors `kmv_describe`).
  */
case class KmvSampleDescribe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("saturated", BooleanType, nullable = false),
    StructField("theta", DoubleType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"kmv_sample_describe expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    KmvSampleDescribe.describe(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvSampleDescribe.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.describe($c)")
  }
  override def prettyName: String = "kmv_sample_describe"
  override protected def withNewChildInternal(c: Expression): KmvSampleDescribe =
    copy(child = c)
}

object KmvSampleDescribe {
  def describe(bytes: Array[Byte]): InternalRow = {
    val s = KmvSample.fromBytes(bytes)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s.k, s.size, s.isSaturated, s.theta))
  }
}
