package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.MisraGries

/** Distributed Misra–Gries frequent-items build: a mergeable typed
  * aggregate over a STRING key column (unlike the hash-based sketches,
  * heavy hitters must return the actual keys, so the summary stores
  * them). Deterministic guarantees per [[graft.core.MisraGries]]:
  * `counter <= true <= counter + err`, `err <= n/(k+1)`, and exact
  * counts whenever the distinct-key count never exceeds k.
  */
case class MgAgg(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MisraGries] {

  def this(child: Expression, kExpr: Expression) = this(child, kExpr, 0, 0)

  private lazy val k: Int = kExpr.eval() match {
    case d: Decimal => d.toInt
    case n: Number => n.intValue()
  }

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"mg_agg expects a string key (heavy hitters return keys), got ${child.dataType.sql}")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("k must be a constant")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): MisraGries = MisraGries.empty(k)

  override def update(buffer: MisraGries, input: InternalRow): MisraGries = {
    val v = child.eval(input)
    // UTF8String-native: no per-row String allocation (the summary
    // clones only a key's first insertion)
    if (v != null) buffer.add(v.asInstanceOf[UTF8String])
    buffer
  }

  override def merge(buffer: MisraGries, other: MisraGries): MisraGries =
    buffer.merge(other)

  override def eval(buffer: MisraGries): Any = buffer.toBytes

  override def serialize(buffer: MisraGries): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): MisraGries = MisraGries.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): MgAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MgAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MgAgg =
    copy(child = c(0), kExpr = c(1))

  override def prettyName: String = "mg_agg"
}

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
