package graft.expr

import java.lang.invoke.{MethodHandle, MethodHandles, MethodType}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** One query over a parsed sketch, `name(sketch, arg)`: the family's codec
  * parses the blob and the core's `method(arg)` answers. Generated code
  * calls `method` on the typed sketch; interpreted evaluation calls the
  * same method through a method handle.
  *
  * @param argType  the core method's parameter: LongType (a 64-bit key
  *                 hash) or DoubleType
  * @param dataType the core method's result: BooleanType, LongType or
  *                 DoubleType
  */
case class SketchOp(
    name: String,
    codec: SketchCodec[_ <: AnyRef],
    argType: DataType,
    dataType: DataType,
    method: String) {

  @transient private lazy val handle: MethodHandle =
    MethodHandles.publicLookup().findVirtual(codec.sketchClass, method,
      MethodType.methodType(SketchOp.javaType(dataType), SketchOp.javaType(argType)))
  require(handle != null) // a core without `method` fails here, not per row

  def invoke(sketch: AnyRef, arg: Any): Any =
    handle.invokeWithArguments(sketch, arg.asInstanceOf[AnyRef])

  private[expr] def argDescription: String =
    if (argType == LongType) "long key hash" else argType.simpleString
}

object SketchOp {
  val BloomContains = SketchOp("bloom_contains", BloomCodec, LongType, BooleanType, "checkHash")
  val CbfContains = SketchOp("cbf_contains", CbfCodec, LongType, BooleanType, "checkHash")
  val CbfCount = SketchOp("cbf_count", CbfCodec, LongType, LongType, "countHash")
  val SbfContains = SketchOp("sbf_contains", SbfCodec, LongType, BooleanType, "checkHash")
  val CmsQuery = SketchOp("cms_query", CmsCodec, LongType, LongType, "queryHash")
  val TDigestQuantile = SketchOp("tdigest_quantile", TDigestCodec, DoubleType, DoubleType, "quantile")
  val TDigestCdf = SketchOp("tdigest_cdf", TDigestCodec, DoubleType, DoubleType, "cdf")
  val KllQuantile = SketchOp("kll_quantile", KllCodec, DoubleType, DoubleType, "quantile")
  val KllRank = SketchOp("kll_rank", KllCodec, DoubleType, DoubleType, "rank")

  /** The filter probes; each also takes a broadcast filter ([[SketchBroadcastQuery]]). */
  val filters: Seq[SketchOp] = Seq(BloomContains, CbfContains, CbfCount, SbfContains)
  val all: Seq[SketchOp] =
    filters ++ Seq(CmsQuery, TDigestQuantile, TDigestCdf, KllQuantile, KllRank)

  private def javaType(dt: DataType): Class[_] = dt match {
    case BooleanType => classOf[Boolean]
    case LongType => classOf[Long]
    case DoubleType => classOf[Double]
  }
}

/** `name(sketch_binary, arg)` for every [[SketchOp]]: the filter probes
  * (zero false negatives — the reference's `item in bf`,
  * `_abloom.c:558-566`) and the cms/t-digest/KLL queries.
  *
  * A foldable sketch (a literal) is parsed once and the generated code
  * calls the core on it directly. Any other sketch goes through the
  * codec's per-thread cache ([[SketchCodec.parse]]), which parses each
  * distinct blob array once per task.
  */
case class SketchQuery(left: Expression, right: Expression, op: SketchOp)
  extends BinaryExpression {

  override def dataType: DataType = op.dataType
  override def prettyName: String = op.name
  // the op takes part in equality, so CSE never merges cbf_contains with
  // cbf_count; plan strings still read name(sketch, arg)
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == op.argType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${op.name} expects (binary, " +
      s"${op.argDescription}), got (${left.dataType.sql}, ${right.dataType.sql})")

  @transient private lazy val folded: AnyRef =
    if (!left.foldable) null
    else left.eval() match {
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

  override def nullSafeEval(sketch: Any, arg: Any): Any = op.invoke(
    if (folded != null) folded else op.codec.parse(sketch.asInstanceOf[Array[Byte]]), arg)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (folded != null) {
      val ref = ctx.addReferenceObj("sketch", folded, op.codec.sketchClass.getName)
      defineCodeGen(ctx, ev, (_, a) => s"$ref.${op.method}($a)")
    } else {
      defineCodeGen(ctx, ev, (s, a) => s"${op.codec.parseCode(s)}.${op.method}($a)")
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
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[SketchQuery])
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
    if (child.dataType == op.argType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${op.name}(broadcast) expects a ${op.argDescription}, got ${child.dataType.sql}")

  /** The parsed broadcast filter; generated code reads it once per task. */
  def sketch: AnyRef = op.codec.parse(bcast.value)

  override def nullSafeEval(arg: Any): Any = op.invoke(sketch, arg)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("query", this, classOf[SketchBroadcastQuery].getName)
    val cls = op.codec.sketchClass.getName
    val s = ctx.addMutableState(cls, "sketch", v => s"$v = ($cls) $ref.sketch();")
    defineCodeGen(ctx, ev, a => s"$s.${op.method}($a)")
  }

  override protected def withNewChildInternal(newChild: Expression): SketchBroadcastQuery =
    copy(child = newChild)
}
