package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import graft.core.{CountMin, CountMinBuffer, Hll, HllBuffer, Kll, TDigest}

/** Sibling mergeable sketches (north rule, SURVEY.md §7.4) — the same
  * TypedImperativeAggregate shape the SBBF establishes: per-partition
  * `update`, associative `merge`, versioned-codec `serialize`, binary
  * `eval`. Each ships with scalar query expressions over the stored
  * binary form.
  */

// ------------------------------------------------------------------- HLL

/** `hll_agg(key_hash, p) -> binary` — distinct-count sketch, merge =
  * register-wise max (idempotent: safe under replay and re-aggregation).
  *
  * The aggregation buffer is the memory-adaptive [[HllBuffer]]: sparse
  * (bytes proportional to observed distinct keys) until it pays to go
  * dense — at high group cardinality this is the difference between
  * 16 KB and tens of bytes per group in both the agg map AND the
  * partial-row shuffle (the wire codec is sparse-aware too). Output is
  * content-canonical: identical bytes to a dense build of the same set.
  */
case class HllAgg(
    child: Expression,
    pExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] {

  private lazy val p: Int = pExpr.eval() match {
    case d: Decimal => d.toInt
    case n: Number => n.intValue()
  }

  override def children: Seq[Expression] = Seq(child, pExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"hll_agg expects a 64-bit key hash (use abloom_key_hash), got ${child.dataType.sql}")
    else if (!pExpr.foldable)
      TypeCheckResult.TypeCheckFailure("precision must be a constant")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): HllBuffer = HllBuffer.empty(p)
  override def update(buffer: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.addHash(v.asInstanceOf[Long])
    buffer
  }
  override def merge(buffer: HllBuffer, other: HllBuffer): HllBuffer = buffer.mergeIn(other)
  override def eval(buffer: HllBuffer): Any = buffer.toBytes
  override def serialize(buffer: HllBuffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): HllBuffer = HllBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): HllAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllAgg =
    copy(child = c(0), pExpr = c(1))
  override def prettyName: String = "hll_agg"
}

/** `hll_estimate(sketch_binary) -> bigint`. */
case class HllEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"hll_estimate expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    Hll.fromBytes(input.asInstanceOf[Array[Byte]]).estimate
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.core.Hll$$.MODULE$$.fromBytes($c).estimate()")
  override def prettyName: String = "hll_estimate"
  override protected def withNewChildInternal(c: Expression): HllEstimate = copy(child = c)
}

/** `hll_intersect_estimate(a, b) -> bigint` — inclusion-exclusion
  * estimate of |A INTERSECT B| from two HLL sketches of the same
  * precision: est(A) + est(B) - est(A UNION B), clamped at 0. Error
  * compounds from the three estimates (can exceed the single-sketch
  * bound when the true intersection is small relative to the union —
  * the standard inclusion-exclusion caveat).
  */
case class HllIntersectEstimate(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hll_intersect_estimate expects two binary sketches, got (${l.sql}, ${r.sql})")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    HllIntersectEstimate.estimate(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = HllIntersectEstimate.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, (a, b) => s"$o$$.MODULE$$.estimate($a, $b)")
  }
  override def prettyName: String = "hll_intersect_estimate"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HllIntersectEstimate =
    copy(left = newLeft, right = newRight)
}

object HllIntersectEstimate {
  def estimate(aBytes: Array[Byte], bBytes: Array[Byte]): Long = {
    val a = Hll.fromBytes(aBytes)
    val b = Hll.fromBytes(bBytes)
    val ea = a.estimate
    val eb = b.estimate
    val union = a.merge(b).estimate // a is a fresh parse; mutation is local
    math.max(0L, ea + eb - union)
  }
}

// ------------------------------------------------------------- count-min

/** `cms_agg(key_hash, eps, delta) -> binary` — frequency sketch, merge =
  * cell-wise add.
  *
  * The aggregation buffer is the memory-adaptive [[CountMinBuffer]]
  * (same design as [[HllBuffer]]): touched cells in a small hash table
  * until the dense depth x width matrix pays for itself — at high group
  * cardinality this shrinks both the agg map and the partial-row shuffle
  * from ~8 bytes/cell (106 KB at eps=1e-3, delta=1e-2) to ~12 wire bytes
  * per TOUCHED cell. Output is content-canonical either way.
  */
case class CmsAgg(
    child: Expression,
    epsExpr: Expression,
    deltaExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountMinBuffer] {

  private def num(e: Expression): Double = e.eval() match {
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }
  private lazy val eps: Double = num(epsExpr)
  private lazy val delta: Double = num(deltaExpr)

  override def children: Seq[Expression] = Seq(child, epsExpr, deltaExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_agg expects a 64-bit key hash (use abloom_key_hash), got ${child.dataType.sql}")
    else if (!epsExpr.foldable || !deltaExpr.foldable)
      TypeCheckResult.TypeCheckFailure("eps and delta must be constants")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): CountMinBuffer = CountMinBuffer.forError(eps, delta)
  override def update(buffer: CountMinBuffer, input: InternalRow): CountMinBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.addHash(v.asInstanceOf[Long])
    buffer
  }
  override def merge(buffer: CountMinBuffer, other: CountMinBuffer): CountMinBuffer =
    buffer.mergeIn(other)
  override def eval(buffer: CountMinBuffer): Any = buffer.toBytes
  override def serialize(buffer: CountMinBuffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): CountMinBuffer = CountMinBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CmsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsAgg =
    copy(child = c(0), epsExpr = c(1), deltaExpr = c(2))
  override def prettyName: String = "cms_agg"
}

/** `cms_inner_product(a, b) -> bigint` — AMS/CMS estimate of the inner
  * product sum_k fA(k)*fB(k) = the equi-join cardinality of the two key
  * streams. Never underestimates; over by <= eps*totalA*totalB w.p.
  * 1-delta (see [[graft.core.CountMin.innerProduct]]).
  */
case class CmsInnerProduct(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_inner_product expects two binary sketches, got (${l.sql}, ${r.sql})")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchRuntime.innerProductCms(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.expr.SketchRuntime$$.MODULE$$.innerProductCms($a, $b)")
  override def prettyName: String = "cms_inner_product"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsInnerProduct =
    copy(left = l, right = r)
}

// -------------------------------------------------------------- t-digest

/** `tdigest_agg(value_double, compression) -> binary`. */
case class TDigestAgg(
    child: Expression,
    compressionExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigest] {

  private lazy val compression: Double = compressionExpr.eval() match {
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }

  override def children: Seq[Expression] = Seq(child, compressionExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"tdigest_agg expects a double value column, got ${child.dataType.sql}")
    else if (!compressionExpr.foldable)
      TypeCheckResult.TypeCheckFailure("compression must be a constant")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): TDigest = TDigest.empty(compression)
  override def update(buffer: TDigest, input: InternalRow): TDigest = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Double])
    buffer
  }
  override def merge(buffer: TDigest, other: TDigest): TDigest = buffer.merge(other)
  override def eval(buffer: TDigest): Any = buffer.toBytes
  override def serialize(buffer: TDigest): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): TDigest = TDigest.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TDigestAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TDigestAgg =
    copy(child = c(0), compressionExpr = c(1))
  override def prettyName: String = "tdigest_agg"
}

// ------------------------------------------------------------------- KLL

/** `kll_agg(value_double, k) -> binary`. */
case class KllAgg(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Kll] {

  private lazy val k: Int = kExpr.eval() match {
    case d: Decimal => d.toInt
    case n: Number => n.intValue()
  }

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"kll_agg expects a double value column, got ${child.dataType.sql}")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("k must be a constant")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Kll = Kll.empty(k)
  override def update(buffer: Kll, input: InternalRow): Kll = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Double])
    buffer
  }
  override def merge(buffer: Kll, other: Kll): Kll = buffer.merge(other)
  override def eval(buffer: Kll): Any = buffer.toBytes
  override def serialize(buffer: Kll): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): Kll = Kll.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KllAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllAgg =
    copy(child = c(0), kExpr = c(1))
  override def prettyName: String = "kll_agg"
}

/** Runtime helpers of the scalar query expressions; single-sketch parses
  * go through the family codec's cache ([[SketchCodec.parse]]).
  */
object SketchRuntime {
  // a TWO-slot cache for the inner product: routing its two operands
  // through the single-slot CmsCodec.parse would evict alternately and
  // re-decode BOTH sketches every row (the lit()-reparse trap)
  private val cmsPairCache =
    new ThreadLocal[(Array[Byte], CountMin, Array[Byte], CountMin)]

  def innerProductCms(a: Array[Byte], b: Array[Byte]): Long = {
    val c = cmsPairCache.get()
    val sa = if (c != null && (c._1 eq a)) c._2 else CountMin.fromBytes(a)
    val sb = if (c != null && (c._3 eq b)) c._4 else CountMin.fromBytes(b)
    cmsPairCache.set((a, sa, b, sb))
    sa.innerProduct(sb)
  }
}
