package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.core.{Hashing, Sbbf}

/** Distributed SBBF build: a mergeable typed aggregate whose buffer IS the
  * filter. The Spark execution trace mirrors the reference's build path
  * (SURVEY.md §3): per-partition `update` = hash+insert (`bloom_insert`),
  * the partial->final exchange ships ABLM v2 bytes (`to_bytes`), and
  * `merge` is the word-wise OR (`__ior__`) whose algebraic laws
  * (commutative/associative/idempotent) make partial aggregation correct
  * under any partitioning.
  *
  * `child` must be the pre-computed 64-bit key hash ([[AbloomKeyHash]]) —
  * one hash per key, computed inside whole-stage codegen upstream of the
  * aggregate, exactly the reference's "one hash, reuse upper/lower halves"
  * design (`_abloom.c:132-135`).
  *
  * At 100 TB scale: the map side reduces each partition to one
  * `capacity`-sized bitset before any shuffle, so the exchange volume is
  * O(partitions x filter_size), independent of row count.
  */
case class BloomFilterAgg(
    child: Expression,
    capacityExpr: Expression,
    fpRateExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Sbbf] {

  def this(child: Expression, capacityExpr: Expression, fpRateExpr: Expression) =
    this(child, capacityExpr, fpRateExpr, 0, 0)

  // SQL numeric literals may arrive as Decimal (e.g. `0.01`), Scala API as Long/Double
  private lazy val capacity: Long = capacityExpr.eval() match {
    case d: Decimal => d.toLong
    case n: Number => n.longValue()
  }
  private lazy val fpRate: Double = fpRateExpr.eval() match {
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }

  override def children: Seq[Expression] = Seq(child, capacityExpr, fpRateExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_agg expects a 64-bit key hash (use abloom_key_hash), got ${child.dataType.sql}")
    else if (!capacityExpr.foldable || !fpRateExpr.foldable)
      TypeCheckResult.TypeCheckFailure("capacity and fp_rate must be constants")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): Sbbf = Sbbf.empty(capacity, fpRate)

  override def update(buffer: Sbbf, input: InternalRow): Sbbf = {
    val v = child.eval(input)
    if (v != null) buffer.insertHash(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Sbbf, other: Sbbf): Sbbf = buffer.orInPlace(other)

  override def eval(buffer: Sbbf): Any = buffer.toBytes

  /** Shuffle format == wire format == checkpoint format (ABLM v2). */
  override def serialize(buffer: Sbbf): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): Sbbf = Sbbf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomFilterAgg =
    copy(child = newChildren(0), capacityExpr = newChildren(1), fpRateExpr = newChildren(2))

  override def prettyName: String = "bloom_agg"
}

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
