package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.core.Sbf

/** `sbf_describe(filter)` -> struct(initial_capacity, fp0, growth,
  * tightening, stage_count, inserted_count, compound_fp_bound).
  */
case class SbfDescribe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = SbfDescribe.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"sbf_describe expects binary, got ${dt.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    SbfDescribe.describe(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val d = SbfDescribe.getClass.getName.stripSuffix("$")
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $d$$.MODULE$$.describe($c);"
    })

  override def prettyName: String = "sbf_describe"

  override protected def withNewChildInternal(newChild: Expression): SbfDescribe =
    copy(child = newChild)
}

object SbfDescribe {
  val schema: StructType = StructType(Seq(
    StructField("initial_capacity", LongType, nullable = false),
    StructField("fp0", DoubleType, nullable = false),
    StructField("growth", LongType, nullable = false),
    StructField("tightening", DoubleType, nullable = false),
    StructField("stage_count", IntegerType, nullable = false),
    StructField("inserted_count", LongType, nullable = false),
    StructField("compound_fp_bound", DoubleType, nullable = false)))

  def describe(bytes: Array[Byte]): InternalRow = {
    val f = Sbf.fromBytes(bytes)
    InternalRow(f.initialCapacity, f.fp0, f.growth, f.tightening,
      f.stageCount, f.insertedCount, f.compoundFpBound)
  }
}
