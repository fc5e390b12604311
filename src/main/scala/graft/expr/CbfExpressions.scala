package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
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

/** Runtime parse cache for counting filters (same identity-keyed,
  * task-scoped design as [[BloomRuntime]]).
  */
object CbfRuntime {
  private val cache = new ThreadLocal[(Array[Byte], Cbf)]

  // driver-side (no TaskContext) single-slot cache: SoftReference so the
  // GC — not a task-completion hook, which does not exist there — bounds
  // the blob's lifetime; without it a constant-folded probe over a
  // LocalRelation would re-parse the same literal array per ROW
  private val driverCache =
    new ThreadLocal[java.lang.ref.SoftReference[(Array[Byte], Cbf)]]

  def parse(bytes: Array[Byte]): Cbf = {
    val c = cache.get()
    if (c != null && (c._1 eq bytes)) c._2
    else {
      val tc = org.apache.spark.TaskContext.get()
      if (tc == null) {
        val sr = driverCache.get()
        val entry = if (sr != null) sr.get() else null
        if (entry != null && (entry._1 eq bytes)) entry._2
        else {
          val f = Cbf.fromBytes(bytes)
          driverCache.set(new java.lang.ref.SoftReference((bytes, f)))
          f
        }
      } else {
        val f = Cbf.fromBytes(bytes)
        if (c == null) tc.addTaskCompletionListener[Unit](_ => cache.remove())
        cache.set((bytes, f))
        f
      }
    }
  }

  def checkHash(filterBytes: Array[Byte], hash: Long): Boolean =
    parse(filterBytes).checkHash(hash)

  def countHash(filterBytes: Array[Byte], hash: Long): Long =
    parse(filterBytes).countHash(hash)
}

/** `cbf_contains(filter, key_hash)` — membership with positive net count;
  * zero FN, SBBF-rate FP.
  */
case class CbfContains(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cbf_contains expects (binary filter, long key hash), got (${l.sql}, ${r.sql})")
    }

  @transient private lazy val foldedFilter: Cbf =
    if (left.foldable) {
      val b = left.eval(null)
      if (b == null) null else Cbf.fromBytes(b.asInstanceOf[Array[Byte]])
    } else null

  override def nullSafeEval(filterBytes: Any, hash: Any): Any = {
    val f =
      if (foldedFilter != null) foldedFilter
      else CbfRuntime.parse(filterBytes.asInstanceOf[Array[Byte]])
    f.checkHash(hash.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (left.foldable && foldedFilter != null) {
      val ref = ctx.addReferenceObj("cbf", foldedFilter, classOf[Cbf].getName)
      defineCodeGen(ctx, ev, (_, h) => s"$ref.checkHash($h)")
    } else {
      val rt = CbfRuntime.getClass.getName.stripSuffix("$")
      defineCodeGen(ctx, ev, (f, h) => s"$rt$$.MODULE$$.checkHash($f, $h)")
    }
  }

  override def prettyName: String = "cbf_contains"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CbfContains =
    copy(left = newLeft, right = newRight)
}

/** Broadcast-backed CBF membership probe: counting filters are 32x the
  * SBBF's bytes (int cells), so even modest capacities cross the ~1 MB
  * "ship it as a literal" line — the broadcast variant sends the blob
  * once per executor and parses it once (cf. [[BloomBroadcastContain]]).
  */
case class CbfBroadcastContains(
    bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"cbf_contains(broadcast) expects a long key hash, got ${dt.sql}")
  }

  @transient private lazy val filter: Cbf = Cbf.fromBytes(bcast.value)

  def probe(hash: Long): Boolean = filter.checkHash(hash)

  override def nullSafeEval(hash: Any): Any = probe(hash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cbfBcExpr", this, classOf[CbfBroadcastContains].getName)
    defineCodeGen(ctx, ev, h => s"$ref.probe($h)")
  }

  override def prettyName: String = "cbf_contains_bc"

  override protected def withNewChildInternal(newChild: Expression): CbfBroadcastContains =
    copy(child = newChild)
}

/** Broadcast-backed CBF net-count upper bound (see [[CbfBroadcastContains]]). */
case class CbfBroadcastCount(
    bcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"cbf_count(broadcast) expects a long key hash, got ${dt.sql}")
  }

  @transient private lazy val filter: Cbf = Cbf.fromBytes(bcast.value)

  def probe(hash: Long): Long = filter.countHash(hash)

  override def nullSafeEval(hash: Any): Any = probe(hash.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cbfBcExpr", this, classOf[CbfBroadcastCount].getName)
    defineCodeGen(ctx, ev, h => s"$ref.probe($h)")
  }

  override def prettyName: String = "cbf_count_bc"

  override protected def withNewChildInternal(newChild: Expression): CbfBroadcastCount =
    copy(child = newChild)
}

/** `cbf_count(filter, key_hash)` — count-min style upper bound on the
  * key's net count (never an underestimate, clamped at 0).
  */
case class CbfCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cbf_count expects (binary filter, long key hash), got (${l.sql}, ${r.sql})")
    }

  @transient private lazy val foldedFilter: Cbf =
    if (left.foldable) {
      val b = left.eval(null)
      if (b == null) null else Cbf.fromBytes(b.asInstanceOf[Array[Byte]])
    } else null

  override def nullSafeEval(filterBytes: Any, hash: Any): Any = {
    val f =
      if (foldedFilter != null) foldedFilter
      else CbfRuntime.parse(filterBytes.asInstanceOf[Array[Byte]])
    f.countHash(hash.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    if (left.foldable && foldedFilter != null) {
      val ref = ctx.addReferenceObj("cbf", foldedFilter, classOf[Cbf].getName)
      defineCodeGen(ctx, ev, (_, h) => s"$ref.countHash($h)")
    } else {
      val rt = CbfRuntime.getClass.getName.stripSuffix("$")
      defineCodeGen(ctx, ev, (f, h) => s"$rt$$.MODULE$$.countHash($f, $h)")
    }
  }

  override def prettyName: String = "cbf_count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CbfCount =
    copy(left = newLeft, right = newRight)
}
