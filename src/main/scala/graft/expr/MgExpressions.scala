package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.MisraGries

/** `mg_topk(sketch, m) -> array<struct<item, count_lb, count_ub>>` —
  * the top-m tracked keys by counter, with the deterministic count
  * interval `[counter, counter + err]`.
  */
case class MgTopK(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = MgTopK.schema

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"mg_topk expects (binary sketch, int m), got (${l.sql}, ${r.sql})")
    }

  override def nullSafeEval(sketch: Any, m: Any): Any =
    MgTopK.topK(sketch.asInstanceOf[Array[Byte]], m.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, m) => {
      val o = MgTopK.getClass.getName.stripSuffix("$")
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.GenericArrayData) $o$$.MODULE$$.topK($s, $m);"
    })

  override def prettyName: String = "mg_topk"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MgTopK =
    copy(left = newLeft, right = newRight)
}

object MgTopK {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count_lb", LongType, nullable = false),
    StructField("count_ub", LongType, nullable = false))), containsNull = false)

  def topK(bytes: Array[Byte], m: Int): GenericArrayData = {
    val entries = MisraGries.fromBytes(bytes).topK(m).map { case (key, lb, ub) =>
      InternalRow(UTF8String.fromString(key), lb, ub)
    }
    new GenericArrayData(entries.toArray[Any])
  }
}
