package graft.expr

import java.lang.invoke.{MethodHandle, MethodHandles, MethodType}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Kmv, KmvSample, MisraGries, Sbbf, Sbf, WeightedSample}

/** One function over stored sketch bytes: the family's codec parses the
  * blob and the row's call answers. Every function that reads a stored
  * sketch without building one is a row of [[SketchOp.all]]; a new
  * family adds a kernel, a codec and its rows here.
  *
  * @param shape    what the function takes besides the sketch
  * @param dataType the call's result type
  * @param call     the core's own method (generated code calls it on the
  *                 typed sketch; interpreted evaluation through a method
  *                 handle), or a function of the parsed sketch(es)
  */
case class SketchOp(
    name: String,
    codec: SketchCodec[_ <: AnyRef],
    shape: SketchOp.Shape,
    dataType: DataType,
    call: SketchOp.Call) {
  import SketchOp._

  @transient private lazy val handle: MethodHandle = call match {
    case Method(m) =>
      val params: Array[Class[_]] = shape match {
        case Alone => Array()
        case Pair => Array(codec.sketchClass)
        case Arg(t, _) => Array(javaType(t))
      }
      MethodHandles.publicLookup().findVirtual(codec.sketchClass, m,
        MethodType.methodType(javaType(dataType), params))
    case _: Fn => null
  }
  require(call.isInstanceOf[Fn] || handle != null) // a core without the method fails here, not per row

  /** The call on a parsed sketch and the parsed or raw second operand
    * (ignored by an [[Alone]] row). */
  def invoke(sketch: AnyRef, arg: Any): Any = call match {
    case Fn(f) => f(sketch, arg)
    case Method(_) =>
      if (shape == Alone) handle.invokeWithArguments(sketch)
      else handle.invokeWithArguments(sketch, arg.asInstanceOf[AnyRef])
  }

  /** Java source for the call on the typed sketch `sketch` and the second
    * operand `arg`. */
  private[expr] def callCode(ctx: CodegenContext, sketch: String, arg: String): String =
    call match {
      case Method(m) => s"$sketch.$m(${if (shape == Alone) "" else arg})"
      case _: Fn =>
        val ref = ctx.addReferenceObj("op", this, classOf[SketchOp].getName)
        s"(${CodeGenerator.boxedType(dataType)}) $ref.invoke($sketch, $arg)"
    }

  def arity: Int = if (shape == Alone) 1 else 2

  /** The SQL signature, reported on a wrong argument count. */
  def signature: String = shape match {
    case Alone => s"$name(sketch)"
    case Pair => s"$name(sketch, sketch)"
    case Arg(_, argName) => s"$name(sketch, $argName)"
  }

  private[expr] def expects: String = shape match {
    case Alone => "binary"
    case Pair => "(binary, binary)"
    case Arg(t, _) => s"(binary, ${if (t == LongType) "long key hash" else t.simpleString})"
  }
}

object SketchOp {
  sealed trait Shape
  /** `name(sketch)` */
  case object Alone extends Shape
  /** `name(sketch, sketch)`: two sketches of the row's family */
  case object Pair extends Shape
  /** `name(sketch, arg)`; a LongType argument is a 64-bit key hash */
  case class Arg(dataType: DataType, sqlName: String) extends Shape
  private val Key = Arg(LongType, "key")
  private val X = Arg(DoubleType, "x")

  sealed trait Call
  case class Method(name: String) extends Call
  case class Fn(f: (AnyRef, Any) => Any) extends Call

  private def alone[S <: AnyRef](name: String, codec: SketchCodec[S], dataType: DataType)(
      f: S => Any): SketchOp =
    SketchOp(name, codec, Alone, dataType, Fn((s, _) => f(s.asInstanceOf[S])))

  // the struct results; every field is non-nullable
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private val SampleDescribe = struct(
    "k" -> IntegerType, "n" -> IntegerType, "saturated" -> BooleanType, "theta" -> DoubleType)

  // ---- the filter probes and the cms/t-digest/KLL point queries
  val BloomContains = SketchOp("bloom_contains", BloomCodec, Key, BooleanType, Method("checkHash"))
  val CbfContains = SketchOp("cbf_contains", CbfCodec, Key, BooleanType, Method("checkHash"))
  val CbfCount = SketchOp("cbf_count", CbfCodec, Key, LongType, Method("countHash"))
  val SbfContains = SketchOp("sbf_contains", SbfCodec, Key, BooleanType, Method("checkHash"))
  val CmsQuery = SketchOp("cms_query", CmsCodec, Key, LongType, Method("queryHash"))
  val TDigestQuantile = SketchOp("tdigest_quantile", TDigestCodec, X, DoubleType, Method("quantile"))
  val TDigestCdf = SketchOp("tdigest_cdf", TDigestCodec, X, DoubleType, Method("cdf"))
  val KllQuantile = SketchOp("kll_quantile", KllCodec, X, DoubleType, Method("quantile"))
  val KllRank = SketchOp("kll_rank", KllCodec, X, DoubleType, Method("rank"))

  // ---- bloom: the reference's read-only questions (`_abloom.c:238-317, 568-598`)
  val BloomDescribe = alone("bloom_describe", BloomCodec, struct(
    "capacity" -> LongType, "fp_rate" -> DoubleType, "block_count" -> LongType,
    "byte_count" -> LongType, "bit_count" -> LongType, "k" -> IntegerType,
    "is_empty" -> BooleanType)) { (f: Sbbf) =>
    InternalRow(f.capacity, f.fpRate, f.blockCount, f.byteCount, f.bitCount, f.k, f.isEmpty)
  }
  val BloomIsEmpty = SketchOp("bloom_is_empty", BloomCodec, Alone, BooleanType, Method("isEmpty"))
  val BloomCardinalityEstimate = SketchOp(
    "bloom_cardinality_estimate", BloomCodec, Alone, DoubleType, Method("estimateCardinality"))
  val BloomIntersectEstimate = SketchOp(
    "bloom_intersect_estimate", BloomCodec, Pair, DoubleType, Method("intersectEstimate"))
  /** A new filter: `or` copies, so a cached or folded operand stays as parsed. */
  val BloomUnion = SketchOp("bloom_union", BloomCodec, Pair, BinaryType,
    Fn((a, b) => a.asInstanceOf[Sbbf].or(b.asInstanceOf[Sbbf]).toBytes))

  val SbfDescribe = alone("sbf_describe", SbfCodec, struct(
    "initial_capacity" -> LongType, "fp0" -> DoubleType, "growth" -> LongType,
    "tightening" -> DoubleType, "stage_count" -> IntegerType, "inserted_count" -> LongType,
    "compound_fp_bound" -> DoubleType)) { (f: Sbf) =>
    InternalRow(f.initialCapacity, f.fp0, f.growth, f.tightening, f.stageCount,
      f.insertedCount, f.compoundFpBound)
  }

  // ---- distinct counts and distinct samples
  val HllEstimate = SketchOp("hll_estimate", HllCodec, Alone, LongType, Method("estimate"))
  val HllIntersectEstimate = SketchOp(
    "hll_intersect_estimate", HllCodec, Pair, LongType, Method("intersectEstimate"))
  val KmvEstimate = alone("kmv_estimate", KmvCodec, LongType)((s: Kmv) => math.round(s.estimate))
  val KmvIntersectEstimate = SketchOp("kmv_intersect_estimate", KmvCodec, Pair, LongType,
    Fn((a, b) => math.round(Kmv.intersectEstimate(a.asInstanceOf[Kmv], b.asInstanceOf[Kmv]))))
  val KmvDescribe = alone("kmv_describe", KmvCodec, SampleDescribe) { (s: Kmv) =>
    InternalRow(s.k, s.size, s.isSaturated, s.theta)
  }
  val KmvSampleEstimate =
    alone("kmv_sample_estimate", KmvSampleCodec, LongType)((s: KmvSample) => math.round(s.estimate))
  /** The retained payloads ascending by key hash. */
  val KmvSampleValues = alone("kmv_sample_values", KmvSampleCodec,
    ArrayType(StringType, containsNull = false)) { (s: KmvSample) =>
    new GenericArrayData(s.payloads.map(p => UTF8String.fromBytes(p)).toArray[Any])
  }
  val KmvSampleDescribe = alone("kmv_sample_describe", KmvSampleCodec, SampleDescribe) {
    (s: KmvSample) => InternalRow(s.k, s.size, s.isSaturated, s.theta)
  }
  /** The retained (value, weight) entries ascending by key hash. */
  val WeightedSampleEntries = alone("weighted_sample_entries", WeightedSampleCodec,
    ArrayType(struct("value" -> StringType, "weight" -> DoubleType), containsNull = false)) {
    (s: WeightedSample) =>
      new GenericArrayData(s.entries.map { case (_, w, p) => InternalRow(UTF8String.fromBytes(p), w) }
        .toArray[Any])
  }
  val WeightedSampleDescribe = alone("weighted_sample_describe", WeightedSampleCodec, struct(
    "k" -> IntegerType, "n" -> IntegerType, "saturated" -> BooleanType,
    "threshold" -> DoubleType)) { (s: WeightedSample) =>
    InternalRow(s.k, s.size, s.isSaturated, s.threshold)
  }

  // ---- frequencies
  val CmsInnerProduct = SketchOp("cms_inner_product", CmsCodec, Pair, LongType, Method("innerProduct"))
  /** The top-m tracked keys with their count interval `[counter, counter + err]`. */
  val MgTopK = SketchOp("mg_topk", MgCodec, Arg(IntegerType, "m"),
    ArrayType(struct("item" -> StringType, "count_lb" -> LongType, "count_ub" -> LongType),
      containsNull = false),
    Fn((s, m) => new GenericArrayData(s.asInstanceOf[MisraGries].topK(m.asInstanceOf[Int]).map {
      case (key, lb, ub) => InternalRow(UTF8String.fromString(key), lb, ub)
    }.toArray[Any])))

  /** The filter probes; each also takes a broadcast filter ([[SketchBroadcastQuery]]). */
  lazy val filters: Seq[SketchOp] = Seq(BloomContains, CbfContains, CbfCount, SbfContains)
  lazy val all: Seq[SketchOp] = filters ++ Seq(CmsQuery, TDigestQuantile, TDigestCdf,
    KllQuantile, KllRank, BloomDescribe, BloomIsEmpty, BloomCardinalityEstimate,
    BloomIntersectEstimate, BloomUnion, SbfDescribe, HllEstimate, HllIntersectEstimate,
    KmvEstimate, KmvIntersectEstimate, KmvDescribe, KmvSampleEstimate, KmvSampleValues,
    KmvSampleDescribe, WeightedSampleEntries, WeightedSampleDescribe, CmsInnerProduct, MgTopK)

  private def javaType(dt: DataType): Class[_] = dt match {
    case BooleanType => classOf[Boolean]
    case LongType => classOf[Long]
    case DoubleType => classOf[Double]
  }
}

/** The sketch operand of a [[SketchOp]] expression. A foldable sketch (a
  * literal) is parsed once and the generated code calls the op on it
  * directly. Any other sketch goes through the codec's per-thread cache
  * ([[SketchCodec.parse]]), which parses each distinct blob array once
  * per task.
  */
private[expr] trait SketchOperand extends Expression {
  def op: SketchOp
  protected def sketchChild: Expression

  override def dataType: DataType = op.dataType
  override def prettyName: String = op.name

  @transient private lazy val folded: AnyRef =
    if (!sketchChild.foldable) null
    else sketchChild.eval() match {
      case null => null
      case bytes: Array[Byte] =>
        if (bytes.length > SketchQuery.LitMaxBytes && SketchOp.filters.contains(op)) {
          // a literal rides every stage's task binary; a broadcast ships once per executor
          SketchQuery.log.warn(s"${op.name} literal filter is ${bytes.length} bytes " +
            s"(> ${SketchQuery.LitMaxBytes}): prefer the broadcast variant " +
            s"${op.name}(sparkContext.broadcast(bytes), key)")
        }
        op.codec.fromBytes(bytes)
    }

  protected def sketch(bytes: Any): AnyRef =
    if (folded != null) folded else op.codec.parse(bytes.asInstanceOf[Array[Byte]])

  /** Java source for the typed sketch, given the code of the blob. A
    * folded sketch rides the task binary; one that cannot be serialized
    * is parsed once per task through the cache instead.
    */
  protected def sketchCode(ctx: CodegenContext): String => String =
    if (folded.isInstanceOf[java.io.Serializable]) {
      val ref = ctx.addReferenceObj("sketch", folded, op.codec.sketchClass.getName)
      _ => ref
    } else op.codec.parseCode
}

/** `name(sketch_binary)` for every [[SketchOp.Alone]] row: the
  * describe/estimate/values summaries.
  */
case class SketchSummary(child: Expression, op: SketchOp)
  extends UnaryExpression with SketchOperand {

  override protected def sketchChild: Expression = child
  // the op takes part in equality, so CSE never merges kmv_estimate with
  // kmv_describe; plan strings still read name(sketch)
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${op.name} expects ${op.expects}, got ${child.dataType.sql}")

  override def nullSafeEval(bytes: Any): Any = op.invoke(sketch(bytes), null)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = sketchCode(ctx)
    defineCodeGen(ctx, ev, c => op.callCode(ctx, s(c), "null"))
  }

  override protected def withNewChildInternal(newChild: Expression): SketchSummary =
    copy(child = newChild)
}

/** `name(sketch_binary, sketch_binary)` and `name(sketch_binary, arg)` for
  * every other [[SketchOp]]: the filter probes (zero false negatives — the
  * reference's `item in bf`, `_abloom.c:558-566`), the cms/t-digest/KLL/MG
  * queries and the pairwise estimates. A second sketch always goes through
  * the codec's cache, which holds two blobs per thread, so the two
  * operands never evict each other row by row.
  */
case class SketchQuery(left: Expression, right: Expression, op: SketchOp)
  extends BinaryExpression with SketchOperand {

  override protected def sketchChild: Expression = left
  // the op takes part in equality, so CSE never merges cbf_contains with
  // cbf_count; plan strings still read name(sketch, arg)
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  private def argType: DataType = op.shape match {
    case SketchOp.Arg(t, _) => t
    case _ => BinaryType
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == argType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${op.name} expects ${op.expects}, " +
      s"got (${left.dataType.sql}, ${right.dataType.sql})")

  override def nullSafeEval(bytes: Any, arg: Any): Any = op.invoke(sketch(bytes),
    if (op.shape == SketchOp.Pair) op.codec.parse(arg.asInstanceOf[Array[Byte]]) else arg)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = sketchCode(ctx)
    defineCodeGen(ctx, ev, (l, r) =>
      op.callCode(ctx, s(l), if (op.shape == SketchOp.Pair) op.codec.parseCode(r) else r))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SketchQuery =
    copy(left = newLeft, right = newRight)
}

object SketchQuery {
  /** The one lit-vs-broadcast size gate. Above it a literal filter costs
    * more in task-binary shipping (a measured 14-30x per-task
    * deserialize+parse tax) than the probe saves: the harness probes with
    * a broadcast instead, and a literal filter this large logs a warning.
    */
  final val LitMaxBytes: Int = 1 << 20
  private[expr] val log = org.slf4j.LoggerFactory.getLogger(classOf[SketchQuery])
}

/** `name_bc(key)`: a filter probe ([[SketchOp.filters]]) against a
  * broadcast filter, for filters above [[SketchQuery.LitMaxBytes]]. The
  * bytes ship once per executor instead of inside every task binary;
  * each task parses them once through [[SketchCodec.parse]] and the
  * generated code probes that sketch directly.
  */
case class SketchBroadcastQuery(bcast: Broadcast[Array[Byte]], child: Expression, op: SketchOp)
  extends UnaryExpression {

  override def dataType: DataType = op.dataType
  override def prettyName: String = s"${op.name}_bc"
  override protected def stringArgs: Iterator[Any] = Iterator(bcast, child)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${op.name}(broadcast) expects a long key hash, got ${child.dataType.sql}")

  /** The parsed broadcast filter; generated code reads it once per task. */
  def sketch: AnyRef = op.codec.parse(bcast.value)

  override def nullSafeEval(arg: Any): Any = op.invoke(sketch, arg)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("query", this, classOf[SketchBroadcastQuery].getName)
    val cls = op.codec.sketchClass.getName
    val s = ctx.addMutableState(cls, "sketch", v => s"$v = ($cls) $ref.sketch();")
    defineCodeGen(ctx, ev, a => op.callCode(ctx, s, a))
  }

  override protected def withNewChildInternal(newChild: Expression): SketchBroadcastQuery =
    copy(child = newChild)
}
