package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.core.Sbf

/** Distributed Scalable-Bloom-filter build for UNKNOWN-cardinality key
  * streams: no capacity sizing needed — each partition's partial grows its
  * own stage series, the merge is a pure stage concatenation, and `eval`
  * runs one deterministic compaction pass. Because concatenation is a
  * multiset union and both serialization and compaction are pure
  * functions of the stage multiset (canonical stage order — see
  * [[graft.core.Sbf]]), the OUTPUT BYTES ARE MERGE-ORDER-CANONICAL:
  * the same partials produce the same blob under any aggregation tree,
  * matching the byte-determinism contract of the fixed filters. (The
  * partials themselves still depend on the PARTITIONING of the input —
  * which keys grew which lineage — as any partitioned SBF build must.)
  */
case class SbfAgg(
    child: Expression,
    capacityExpr: Expression,
    fpRateExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Sbf] {

  def this(child: Expression, capacityExpr: Expression, fpRateExpr: Expression) =
    this(child, capacityExpr, fpRateExpr, 0, 0)

  private lazy val initialCapacity: Long = capacityExpr.eval() match {
    case d: Decimal => d.toLong
    case n: Number => n.longValue()
  }
  private lazy val fp0: Double = fpRateExpr.eval() match {
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }

  override def children: Seq[Expression] = Seq(child, capacityExpr, fpRateExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"sbf_agg expects a 64-bit key hash (use abloom_key_hash), got ${child.dataType.sql}")
    else if (!capacityExpr.foldable || !fpRateExpr.foldable)
      TypeCheckResult.TypeCheckFailure("initial_capacity and fp_rate must be constants")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Sbf = Sbf.empty(initialCapacity, fp0)

  override def update(buffer: Sbf, input: InternalRow): Sbf = {
    val v = child.eval(input)
    if (v != null) buffer.addHash(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Sbf, other: Sbf): Sbf = buffer.mergeInPlace(other)

  // compact ONLY at finalization: intermediate serialize must preserve
  // the raw stage multiset (compacting mid-tree is not confluent)
  override def eval(buffer: Sbf): Any = buffer.compact().toBytes

  override def serialize(buffer: Sbf): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): Sbf = Sbf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SbfAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SbfAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SbfAgg =
    copy(child = newChildren(0), capacityExpr = newChildren(1), fpRateExpr = newChildren(2))

  override def prettyName: String = "sbf_agg"
}

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
