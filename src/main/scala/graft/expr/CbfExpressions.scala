package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

import graft.core.Cbf

/** Distributed Counting-Bloom-filter build: a mergeable typed aggregate
  * over (key hash, weight) pairs — weight +1 inserts, -1 deletes, any int
  * adds that net count. Signed cells make the merge (cell-wise add)
  * commutative/associative with the zero filter as identity, so inserts
  * and deletes may arrive in ANY partition and ANY order and the merged
  * filter is exact (see [[graft.core.Cbf]]).
  *
  * Shuffle format == wire format (ABCM v1). At scale the exchange ships
  * O(partitions x filter_size) like the SBBF build — but the filter is
  * 32x larger (int cells), so size capacity honestly.
  */
case class CbfAgg(
    child: Expression,
    weightExpr: Expression,
    capacityExpr: Expression,
    fpRateExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Cbf] {

  def this(child: Expression, weightExpr: Expression,
      capacityExpr: Expression, fpRateExpr: Expression) =
    this(child, weightExpr, capacityExpr, fpRateExpr, 0, 0)

  private lazy val capacity: Long = capacityExpr.eval() match {
    case d: Decimal => d.toLong
    case n: Number => n.longValue()
  }
  private lazy val fpRate: Double = fpRateExpr.eval() match {
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }

  override def children: Seq[Expression] = Seq(child, weightExpr, capacityExpr, fpRateExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"cbf_agg expects a 64-bit key hash (use abloom_key_hash), got ${child.dataType.sql}")
    else if (weightExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"cbf_agg expects an integer weight, got ${weightExpr.dataType.sql}")
    else if (!capacityExpr.foldable || !fpRateExpr.foldable)
      TypeCheckResult.TypeCheckFailure("capacity and fp_rate must be constants")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Cbf = Cbf.empty(capacity, fpRate)

  override def update(buffer: Cbf, input: InternalRow): Cbf = {
    val h = child.eval(input)
    if (h != null) {
      val w = weightExpr.eval(input)
      if (w != null) buffer.addHash(h.asInstanceOf[Long], w.asInstanceOf[Int])
    }
    buffer
  }

  override def merge(buffer: Cbf, other: Cbf): Cbf = buffer.addInPlace(other)

  override def eval(buffer: Cbf): Any = buffer.toBytes

  override def serialize(buffer: Cbf): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): Cbf = Cbf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): CbfAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CbfAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CbfAgg =
    copy(child = newChildren(0), weightExpr = newChildren(1),
      capacityExpr = newChildren(2), fpRateExpr = newChildren(3))

  override def prettyName: String = "cbf_agg"
}
