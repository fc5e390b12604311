package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.WeightedSample

/** Weighted distinct-sample query expressions (Efraimidis-Spirakis A-RES
  * bottom-k by priority); the build is [[WeightedSampleKernel]].
  */

/** `weighted_sample_entries(sketch) ->
  * array<struct<value:string, weight:double>>` — the retained sample
  * ascending by key hash.
  */
case class WeightedSampleEntries(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("weight", DoubleType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"weighted_sample_entries expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    WeightedSampleEntries.entries(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = WeightedSampleEntries.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.entries($c)")
  }
  override def prettyName: String = "weighted_sample_entries"
  override protected def withNewChildInternal(c: Expression): WeightedSampleEntries =
    copy(child = c)
}

object WeightedSampleEntries {
  def entries(bytes: Array[Byte]): GenericArrayData = {
    val s = WeightedSample.fromBytes(bytes)
    val out = new Array[Any](s.size)
    var i = 0
    s.entries.foreach { case (_, w, p) =>
      out(i) = new GenericInternalRow(Array[Any](UTF8String.fromBytes(p), w))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `weighted_sample_describe(sketch) -> struct<k, n, saturated,
  * threshold>`. */
case class WeightedSampleDescribe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("saturated", BooleanType, nullable = false),
    StructField("threshold", DoubleType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"weighted_sample_describe expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    WeightedSampleDescribe.describe(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = WeightedSampleDescribe.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.describe($c)")
  }
  override def prettyName: String = "weighted_sample_describe"
  override protected def withNewChildInternal(c: Expression): WeightedSampleDescribe =
    copy(child = c)
}

object WeightedSampleDescribe {
  def describe(bytes: Array[Byte]): InternalRow = {
    val s = WeightedSample.fromBytes(bytes)
    new GenericInternalRow(
      Array[Any](s.k, s.size, s.isSaturated, s.threshold))
  }
}
