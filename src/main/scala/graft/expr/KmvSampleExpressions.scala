package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Kmv, KmvSample}

/** KMV distinct-sample-with-payload expressions: bottom-k on the key
  * hash with an attached STRING payload per retained key — a uniform
  * distinct-sample plus a cardinality estimate in one aggregation pass.
  * Same TypedImperativeAggregate + content-canonical binary-wire shape
  * as the rest of the sketch family.
  */

/** `kmv_sample_agg(key_hash, payload, k) -> binary` — retain the k
  * smallest distinct key hashes with their payloads. Rows with a null
  * key or null payload are skipped (coalesce upstream to keep them).
  */
case class KmvSampleAgg(
    child: Expression,
    payload: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvSample] {

  private lazy val k: Int = kExpr.eval() match {
    case d: Decimal => d.toInt
    case n: Number => n.intValue()
  }

  override def children: Seq[Expression] = Seq(child, payload, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"kmv_sample_agg expects a 64-bit key hash (use abloom_key_hash), got ${child.dataType.sql}")
    else if (payload.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"kmv_sample_agg expects a string payload, got ${payload.dataType.sql}")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("k must be a constant")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): KmvSample = KmvSample.empty(k)
  override def update(buffer: KmvSample, input: InternalRow): KmvSample = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // reject-before-copy: a saturated sketch discards most rows in
      // O(1) — never materialize their payloads at all
      if (buffer.wouldAccept(h)) {
        val p = payload.eval(input)
        if (p != null) {
          val u = p.asInstanceOf[UTF8String]
          // truncate BEFORE copying (at most MaxPayloadBytes are ever
          // retained — never copy a whole document), into a FRESH array
          // for ownership: the UTF8String can alias a reused row buffer
          // (the round-4 MisraGries lesson)
          val n = math.min(u.numBytes, KmvSample.MaxPayloadBytes)
          val arr = new Array[Byte](n)
          org.apache.spark.unsafe.Platform.copyMemory(
            u.getBaseObject, u.getBaseOffset, arr,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, n.toLong)
          buffer.add(h, arr)
        }
      }
    }
    buffer
  }
  override def merge(buffer: KmvSample, other: KmvSample): KmvSample =
    buffer.mergeIn(other)
  override def eval(buffer: KmvSample): Any = buffer.toBytes
  override def serialize(buffer: KmvSample): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): KmvSample =
    KmvSample.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KmvSampleAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvSampleAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): KmvSampleAgg =
    copy(child = c(0), payload = c(1), kExpr = c(2))
  override def prettyName: String = "kmv_sample_agg"
}

/** `kmv_sample_estimate(sketch) -> bigint` — exact size below k,
  * (k-1)/theta rounded at/above (identical estimator to `kmv_estimate`).
  */
case class KmvSampleEstimate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"kmv_sample_estimate expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    KmvSampleEstimate.estimate(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvSampleEstimate.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.estimate($c)")
  }
  override def prettyName: String = "kmv_sample_estimate"
  override protected def withNewChildInternal(c: Expression): KmvSampleEstimate =
    copy(child = c)
}

object KmvSampleEstimate {
  def estimate(bytes: Array[Byte]): Long =
    math.round(KmvSample.fromBytes(bytes).estimate)
}

/** `kmv_sample_values(sketch) -> array<string>` — the retained payloads
  * in ascending key-hash order (a uniform distinct-sample; sort
  * downstream for a display order).
  */
case class KmvSampleValues(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"kmv_sample_values expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    KmvSampleValues.values(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvSampleValues.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.values($c)")
  }
  override def prettyName: String = "kmv_sample_values"
  override protected def withNewChildInternal(c: Expression): KmvSampleValues =
    copy(child = c)
}

object KmvSampleValues {
  def values(bytes: Array[Byte]): GenericArrayData = {
    val s = KmvSample.fromBytes(bytes)
    val out = new Array[Any](s.size)
    var i = 0
    s.payloads.foreach { p =>
      out(i) = UTF8String.fromBytes(p)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `kmv_sample_describe(sketch) -> struct<k, n, saturated, theta>` —
  * read-only properties (mirrors `kmv_describe`).
  */
case class KmvSampleDescribe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("saturated", BooleanType, nullable = false),
    StructField("theta", DoubleType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"kmv_sample_describe expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    KmvSampleDescribe.describe(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = KmvSampleDescribe.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.describe($c)")
  }
  override def prettyName: String = "kmv_sample_describe"
  override protected def withNewChildInternal(c: Expression): KmvSampleDescribe =
    copy(child = c)
}

object KmvSampleDescribe {
  def describe(bytes: Array[Byte]): InternalRow = {
    val s = KmvSample.fromBytes(bytes)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](s.k, s.size, s.isSaturated, s.theta))
  }
}
