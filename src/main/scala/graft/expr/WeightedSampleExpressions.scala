package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{KmvSample, WeightedSample}

/** Weighted distinct-sample expressions (Efraimidis-Spirakis A-RES
  * bottom-k by priority) — same TypedImperativeAggregate +
  * content-canonical binary-wire shape as the KMV sample family.
  */

/** `weighted_sample_agg(key_hash, weight, payload, k) -> binary` —
  * retain the k distinct keys with the largest priorities
  * u(hash)^(1/weight). Rows with a null key, an invalid weight (null,
  * NaN, infinite, or below [[WeightedSample.MinWeight]] — subnormals
  * would make 1/w overflow) or a null payload are skipped.
  */
case class WeightedSampleAgg(
    child: Expression,
    weight: Expression,
    payload: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WeightedSample] {

  private lazy val k: Int = kExpr.eval() match {
    case d: Decimal => d.toInt
    case n: Number => n.intValue()
  }

  override def children: Seq[Expression] = Seq(child, weight, payload, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"weighted_sample_agg expects a 64-bit key hash (use abloom_key_hash), got ${child.dataType.sql}")
    else if (weight.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"weighted_sample_agg expects a double weight, got ${weight.dataType.sql}")
    else if (payload.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"weighted_sample_agg expects a string payload, got ${payload.dataType.sql}")
    else if (!kExpr.foldable)
      TypeCheckResult.TypeCheckFailure("k must be a constant")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): WeightedSample =
    WeightedSample.empty(k)

  override def update(
      buffer: WeightedSample, input: InternalRow): WeightedSample = {
    val v = child.eval(input)
    if (v != null) {
      val wv = weight.eval(input)
      if (wv != null) {
        val w = wv.asInstanceOf[Double]
        val h = v.asInstanceOf[Long]
        // skip invalid weights (null semantics, not an error: a 100 TB
        // scan survives a few bad quality scores observably); reject by
        // (priority, hash) BEFORE materializing the payload — on a
        // saturated sketch most rows never copy a byte (the
        // KmvSampleAgg reject-before-copy rule)
        if (WeightedSample.validWeight(w) && buffer.wouldAccept(h, w)) {
          val p = payload.eval(input)
          if (p != null) {
            val u = p.asInstanceOf[UTF8String]
            // truncate BEFORE the ownership copy (KmvSampleAgg rule)
            val n = math.min(u.numBytes, KmvSample.MaxPayloadBytes)
            val arr = new Array[Byte](n)
            org.apache.spark.unsafe.Platform.copyMemory(
              u.getBaseObject, u.getBaseOffset, arr,
              org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, n.toLong)
            buffer.add(h, w, arr)
          }
        }
      }
    }
    buffer
  }
  override def merge(
      buffer: WeightedSample, other: WeightedSample): WeightedSample =
    buffer.mergeIn(other)
  override def eval(buffer: WeightedSample): Any = buffer.toBytes
  override def serialize(buffer: WeightedSample): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): WeightedSample =
    WeightedSample.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): WeightedSampleAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): WeightedSampleAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): WeightedSampleAgg =
    copy(child = c(0), weight = c(1), payload = c(2), kExpr = c(3))
  override def prettyName: String = "weighted_sample_agg"
}

/** `weighted_sample_entries(sketch) ->
  * array<struct<value:string, weight:double>>` — the retained sample
  * ascending by key hash.
  */
case class WeightedSampleEntries(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("weight", DoubleType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"weighted_sample_entries expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    WeightedSampleEntries.entries(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = WeightedSampleEntries.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.entries($c)")
  }
  override def prettyName: String = "weighted_sample_entries"
  override protected def withNewChildInternal(c: Expression): WeightedSampleEntries =
    copy(child = c)
}

object WeightedSampleEntries {
  def entries(bytes: Array[Byte]): GenericArrayData = {
    val s = WeightedSample.fromBytes(bytes)
    val out = new Array[Any](s.size)
    var i = 0
    s.entries.foreach { case (_, w, p) =>
      out(i) = new GenericInternalRow(Array[Any](UTF8String.fromBytes(p), w))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `weighted_sample_describe(sketch) -> struct<k, n, saturated,
  * threshold>`. */
case class WeightedSampleDescribe(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("n", IntegerType, nullable = false),
    StructField("saturated", BooleanType, nullable = false),
    StructField("threshold", DoubleType, nullable = false)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"weighted_sample_describe expects binary, got ${dt.sql}")
  }
  override def nullSafeEval(input: Any): Any =
    WeightedSampleDescribe.describe(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val o = WeightedSampleDescribe.getClass.getName.stripSuffix("$")
    defineCodeGen(ctx, ev, c => s"$o$$.MODULE$$.describe($c)")
  }
  override def prettyName: String = "weighted_sample_describe"
  override protected def withNewChildInternal(c: Expression): WeightedSampleDescribe =
    copy(child = c)
}

object WeightedSampleDescribe {
  def describe(bytes: Array[Byte]): InternalRow = {
    val s = WeightedSample.fromBytes(bytes)
    new GenericInternalRow(
      Array[Any](s.k, s.size, s.isSaturated, s.threshold))
  }
}
