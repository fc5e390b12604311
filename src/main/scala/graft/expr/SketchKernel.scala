package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Cbf, CountMinBuffer, Hll, HllBuffer, Kll, Kmv, KmvSample, MisraGries, Sbbf, Sbf,
  TDigest, WeightedSample}

/** One input column of a build kernel.
  *
  * @param adapt how the SQL and Column entries turn a user's argument into
  *              `dataType`: hash the key, cast a number, or pass it as is
  */
final case class KernelInput(
    name: String, dataType: DataType, description: String, adapt: Expression => Expression)

object KernelInput {
  val keyHash: KernelInput =
    KernelInput("key", LongType, "a 64-bit key hash (use abloom_key_hash)", AbloomKeyHash(_))
  def cast(name: String, dataType: DataType): KernelInput =
    KernelInput(name, dataType, s"a ${dataType.sql} $name", Cast(_, dataType))
  def string(name: String): KernelInput = KernelInput(name, StringType, s"a string $name", identity)
}

/** A named constant parameter of a build; `default` is the SQL default
  * (null: the argument is required). */
final case class KernelParam(name: String, default: Any = null)

/** A build's constant parameter values in signature order. SQL numeric
  * literals may arrive as Decimal (`0.01`), the Scala API as Long/Double. */
final class Params(values: IndexedSeq[Any]) extends Serializable {
  def int(i: Int): Int = values(i) match { case d: Decimal => d.toInt; case n: Number => n.intValue }
  def long(i: Int): Long = values(i) match { case d: Decimal => d.toLong; case n: Number => n.longValue }
  def double(i: Int): Double =
    values(i) match { case d: Decimal => d.toDouble; case n: Number => n.doubleValue }
}

object Params {
  def apply(values: Any*): Params = new Params(values.toIndexedSeq)
}

/** The build of one sketch family, described once: its SQL name, input
  * columns, constant parameters, fresh buffer and per-row update. The
  * build aggregate ([[SketchBuildAgg]]), the checkpointed build
  * ([[graft.job.PartitionSketcher]]), the typed facades
  * ([[graft.typed.TypedSketches]]) and the SQL/Column entries all derive
  * from it.
  *
  * Each kind below declares a typed `update` (e.g. `update(b: HllBuffer,
  * h: Long)`) that both row paths call directly — no per-row closure and
  * no boxing beyond the aggregate's own `child.eval`.
  *
  * @param buffer the aggregation buffer's serde, merge and finishing
  *               step. Nine families buffer the codec's sketch itself;
  *               HLL and CMS keep a memory-adaptive sparse buffer whose
  *               bytes are the same wire format.
  */
abstract class SketchKernel[B <: AnyRef](
    val name: String,
    val buffer: SketchCodec[B],
    val inputs: Seq[KernelInput],
    val params: Seq[KernelParam])
  extends Serializable {

  /** The family's wire codec: union, parse cache and tree merge over the bytes the buffer writes. */
  def codec: SketchCodec[_ <: AnyRef] = buffer

  def newBuffer(p: Params): B

  /** Fold one row: `in(i)` evaluates input `i`; a row with a null input is skipped. */
  private[graft] def updateRow(b: B, in: Array[Expression], row: InternalRow): Unit

  /** Fold a projected row holding input `i` at ordinal `i`, all non-null. */
  private[graft] def updateProjected(b: B, row: InternalRow): Unit

  def apply(inputs: Seq[Expression], params: Seq[Expression]): SketchBuildAgg[B] =
    SketchBuildAgg(inputs ++ params, this)

  /** The SQL builder for `sqlName(inputs, params)`. Optional parameters are
    * given all together or not at all; `fixed` inputs are not arguments.
    * A wrong argument count fails at analysis with the signature.
    */
  def sqlBuilder(sqlName: String, fixed: (String, Expression)*): Seq[Expression] => Expression = {
    val free = inputs.filterNot(i => fixed.exists(_._1 == i.name))
    val (required, optional) = params.partition(_.default == null)
    val head = (free.map(_.name) ++ required.map(_.name)).mkString(", ")
    val signature = s"$sqlName($head${
      if (optional.isEmpty) "" else optional.map(_.name).mkString("[, ", ", ", "]")})"
    args => {
      val given = args.size - free.size - required.size
      require(given == 0 || given == optional.size, signature)
      val it = args.iterator
      val in = inputs.map(i => fixed.find(_._1 == i.name).map(_._2).getOrElse(i.adapt(it.next())))
      apply(in, it.toSeq ++ (if (given == 0) optional.map(p => Literal(p.default)) else Nil))
    }
  }

  private[expr] def checkChildren(children: Seq[Expression]): TypeCheckResult = {
    val n = inputs.size
    val bad =
      if (children.size != n + params.size)
        Some(s"$name expects ${n + params.size} arguments, got ${children.size}")
      else inputs.zip(children).collectFirst {
        case (in, c) if c.dataType != in.dataType =>
          s"$name expects ${in.description} for ${in.name}, got ${c.dataType.sql}"
      }.orElse(readParams(children.drop(n)).left.toOption)
    bad.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(TypeCheckResult.TypeCheckFailure(_))
  }

  /** The parameter values, or why the first bad one is rejected. */
  private[expr] def readParams(exprs: Seq[Expression]): Either[String, Params] =
    params.zip(exprs).collectFirst {
      case (p, e) if !e.foldable => s"$name: ${p.name} must be a constant"
      case (p, e) if !(e.eval() match { case _: Number | _: Decimal => true; case _ => false }) =>
        s"$name: ${p.name} must be a numeric constant, got ${e.sql}"
    }.toLeft(new Params(exprs.map(_.eval()).toIndexedSeq))

  override def toString: String = name
}

/** A kernel over one 64-bit key hash per row. */
abstract class HashKernel[B <: AnyRef](name: String, buffer: SketchCodec[B], params: KernelParam*)
  extends SketchKernel[B](name, buffer, Seq(KernelInput.keyHash), params) {
  def update(b: B, h: Long): Unit
  private[graft] final def updateRow(b: B, in: Array[Expression], row: InternalRow): Unit = {
    val v = in(0).eval(row)
    if (v != null) update(b, v.asInstanceOf[Long])
  }
  private[graft] final def updateProjected(b: B, row: InternalRow): Unit = update(b, row.getLong(0))
}

/** A kernel over one double value per row. */
abstract class DoubleKernel[B <: AnyRef](name: String, buffer: SketchCodec[B], params: KernelParam*)
  extends SketchKernel[B](name, buffer, Seq(KernelInput.cast("value", DoubleType)), params) {
  def update(b: B, v: Double): Unit
  private[graft] final def updateRow(b: B, in: Array[Expression], row: InternalRow): Unit = {
    val v = in(0).eval(row)
    if (v != null) update(b, v.asInstanceOf[Double])
  }
  private[graft] final def updateProjected(b: B, row: InternalRow): Unit = update(b, row.getDouble(0))
}

/** SBBF build, the reference's build path (SURVEY.md §3): `update` =
  * hash+insert (`bloom_insert`), the partial->final exchange ships ABLM v2
  * bytes (`to_bytes`), and the merge is the word-wise OR (`__ior__`), whose
  * laws make partial aggregation correct under any partitioning. The map
  * side reduces each partition to one `capacity`-sized bitset, so the
  * exchange is O(partitions x filter size), independent of row count.
  */
object BloomKernel extends HashKernel[Sbbf](
    "bloom_agg", BloomCodec, KernelParam("capacity"), KernelParam("fp_rate", 0.01)) {
  def newBuffer(p: Params): Sbbf = Sbbf.empty(p.long(0), p.double(1))
  def update(b: Sbbf, h: Long): Unit = b.insertHash(h)
}

/** Scalable-filter build for unknown-cardinality streams: partials grow
  * their own stage series, the merge concatenates stages and the result
  * step compacts once ([[SbfCodec]]'s finish — never mid-tree, where
  * compaction is not confluent). The output is merge-order canonical; the
  * partials still depend on the input's partitioning.
  */
object SbfKernel extends HashKernel[Sbf](
    "sbf_agg", SbfCodec, KernelParam("initial_capacity", 4096L), KernelParam("fp_rate", 0.001)) {
  def newBuffer(p: Params): Sbf = Sbf.empty(p.long(0), p.double(1))
  def update(b: Sbf, h: Long): Unit = b.addHash(h)
}

/** Distinct count; the buffer is the memory-adaptive [[HllBuffer]] —
  * sparse until dense pays, so a high-cardinality GROUP BY holds tens of
  * bytes per group instead of 16 KB, in the agg map and the partial
  * shuffle alike. Output bytes equal a dense build's.
  */
object HllKernel extends HashKernel[HllBuffer]("hll_agg",
    new SketchCodec[HllBuffer]("hll", HllBuffer.fromBytes, _.mergeIn(_), _.toBytes),
    KernelParam("p", Hll.DefaultP)) {
  override def codec: SketchCodec[_ <: AnyRef] = HllCodec
  def newBuffer(p: Params): HllBuffer = HllBuffer.empty(p.int(0))
  def update(b: HllBuffer, h: Long): Unit = b.addHash(h)
}

/** Frequency sketch; the buffer is the memory-adaptive [[CountMinBuffer]]
  * (touched cells in a small table until the dense matrix pays — ~12 wire
  * bytes per touched cell instead of 106 KB at eps=1e-3, delta=1e-2).
  * Output is content-canonical either way.
  */
object CmsKernel extends HashKernel[CountMinBuffer]("cms_agg",
    new SketchCodec[CountMinBuffer]("cms", CountMinBuffer.fromBytes, _.mergeIn(_), _.toBytes),
    KernelParam("eps"), KernelParam("delta")) {
  override def codec: SketchCodec[_ <: AnyRef] = CmsCodec
  def newBuffer(p: Params): CountMinBuffer = CountMinBuffer.forError(p.double(0), p.double(1))
  def update(b: CountMinBuffer, h: Long): Unit = b.addHash(h)
}

/** Bottom-k distinct sketch: exact below k; the state is a sorted
  * duplicate-free set, so the bytes are merge-order canonical. */
object KmvKernel extends HashKernel[Kmv]("kmv_agg", KmvCodec, KernelParam("k", Kmv.DefaultK)) {
  def newBuffer(p: Params): Kmv = Kmv.empty(p.int(0))
  def update(b: Kmv, h: Long): Unit = b.add(h)
}

object TDigestKernel extends DoubleKernel[TDigest](
    "tdigest_agg", TDigestCodec, KernelParam("compression", TDigest.DefaultCompression)) {
  def newBuffer(p: Params): TDigest = TDigest.empty(p.double(0))
  def update(b: TDigest, v: Double): Unit = b.add(v)
}

object KllKernel extends DoubleKernel[Kll]("kll_agg", KllCodec, KernelParam("k", Kll.DefaultK)) {
  def newBuffer(p: Params): Kll = Kll.empty(p.int(0))
  def update(b: Kll, v: Double): Unit = b.add(v)
}

/** Counting-filter build over (key hash, weight): +1 inserts, -1 deletes,
  * any int adds that net count. Signed cells make the cell-wise-add merge
  * exact whatever partition or order inserts and deletes arrive in. The
  * filter is 32x the SBBF's size (int cells): size capacity honestly.
  */
object CbfKernel extends SketchKernel[Cbf]("cbf_agg", CbfCodec,
    Seq(KernelInput.keyHash, KernelInput("weight", IntegerType, "an integer", Cast(_, IntegerType))),
    Seq(KernelParam("capacity"), KernelParam("fp_rate", 0.01))) {
  def newBuffer(p: Params): Cbf = Cbf.empty(p.long(0), p.double(1))
  def update(b: Cbf, h: Long, w: Int): Unit = b.addHash(h, w)
  private[graft] def updateRow(b: Cbf, in: Array[Expression], row: InternalRow): Unit = {
    val h = in(0).eval(row)
    if (h != null) {
      val w = in(1).eval(row)
      if (w != null) update(b, h.asInstanceOf[Long], w.asInstanceOf[Int])
    }
  }
  private[graft] def updateProjected(b: Cbf, row: InternalRow): Unit =
    update(b, row.getLong(0), row.getInt(1))
}

/** Misra–Gries heavy hitters over a string key (the summary returns the
  * keys themselves, so it stores them): `counter <= true <= counter +
  * err`, `err <= n/(k+1)`, exact while distinct keys <= k. UTF8String
  * native: the summary clones only a key's first insertion.
  */
object MgKernel extends SketchKernel[MisraGries]("mg_agg", MgCodec,
    Seq(KernelInput.string("key")), Seq(KernelParam("k"))) {
  def newBuffer(p: Params): MisraGries = MisraGries.empty(p.int(0))
  def update(b: MisraGries, key: UTF8String): Unit = b.add(key)
  private[graft] def updateRow(b: MisraGries, in: Array[Expression], row: InternalRow): Unit = {
    val v = in(0).eval(row)
    if (v != null) update(b, v.asInstanceOf[UTF8String])
  }
  private[graft] def updateProjected(b: MisraGries, row: InternalRow): Unit =
    update(b, row.getUTF8String(0))
}

/** Distinct sample with a string payload per retained key: bottom-k on the
  * key hash. Reject-before-copy: a saturated sketch discards most rows in
  * O(1) on the hash alone, before the payload is evaluated.
  */
object KmvSampleKernel extends SketchKernel[KmvSample]("kmv_sample_agg", KmvSampleCodec,
    Seq(KernelInput.keyHash, KernelInput.string("payload")), Seq(KernelParam("k", Kmv.DefaultK))) {
  def newBuffer(p: Params): KmvSample = KmvSample.empty(p.int(0))
  /** Call only when `b.wouldAccept(h)`. */
  def update(b: KmvSample, h: Long, payload: UTF8String): Unit = b.add(h, ownedPrefix(payload))
  private[graft] def updateRow(b: KmvSample, in: Array[Expression], row: InternalRow): Unit = {
    val v = in(0).eval(row)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      if (b.wouldAccept(h)) {
        val p = in(1).eval(row)
        if (p != null) update(b, h, p.asInstanceOf[UTF8String])
      }
    }
  }
  private[graft] def updateProjected(b: KmvSample, row: InternalRow): Unit = {
    val h = row.getLong(0)
    if (b.wouldAccept(h)) update(b, h, row.getUTF8String(1))
  }

  /** The payload's first [[KmvSample.MaxPayloadBytes]] bytes, truncated
    * BEFORE copying (never copy a whole document) into a fresh array: the
    * UTF8String can alias a reused row buffer. */
  private[graft] def ownedPrefix(u: UTF8String): Array[Byte] = {
    val n = math.min(u.numBytes, KmvSample.MaxPayloadBytes)
    val arr = new Array[Byte](n)
    Platform.copyMemory(u.getBaseObject, u.getBaseOffset, arr, Platform.BYTE_ARRAY_OFFSET, n.toLong)
    arr
  }
}

/** Weighted distinct sample (Efraimidis-Spirakis A-RES): the k distinct
  * keys with the largest priorities u(hash)^(1/weight). An invalid weight
  * (NaN, infinite, or below [[WeightedSample.MinWeight]], where 1/w would
  * overflow) skips the row like a null: a large scan survives a few bad
  * scores. Rejection by (priority, hash) runs before the payload is
  * evaluated, as in [[KmvSampleKernel]].
  */
object WeightedSampleKernel extends SketchKernel[WeightedSample](
    "weighted_sample_agg", WeightedSampleCodec,
    Seq(KernelInput.keyHash, KernelInput.cast("weight", DoubleType), KernelInput.string("payload")),
    Seq(KernelParam("k", Kmv.DefaultK))) {
  def newBuffer(p: Params): WeightedSample = WeightedSample.empty(p.int(0))
  /** Call only when `w` is valid and `b.wouldAccept(h, w)`. */
  def update(b: WeightedSample, h: Long, w: Double, payload: UTF8String): Unit =
    b.add(h, w, KmvSampleKernel.ownedPrefix(payload))
  private[graft] def updateRow(b: WeightedSample, in: Array[Expression], row: InternalRow): Unit = {
    val v = in(0).eval(row)
    if (v != null) {
      val wv = in(1).eval(row)
      if (wv != null) {
        val h = v.asInstanceOf[Long]
        val w = wv.asInstanceOf[Double]
        if (WeightedSample.validWeight(w) && b.wouldAccept(h, w)) {
          val p = in(2).eval(row)
          if (p != null) update(b, h, w, p.asInstanceOf[UTF8String])
        }
      }
    }
  }
  private[graft] def updateProjected(b: WeightedSample, row: InternalRow): Unit = {
    val h = row.getLong(0)
    val w = row.getDouble(1)
    if (WeightedSample.validWeight(w) && b.wouldAccept(h, w)) update(b, h, w, row.getUTF8String(2))
  }
}

object SketchKernel {
  // lazy for the same init-order reason as SketchCodec.all
  lazy val all: Seq[SketchKernel[_ <: AnyRef]] = Seq(
    BloomKernel, CbfKernel, SbfKernel, HllKernel, KmvKernel, KmvSampleKernel,
    WeightedSampleKernel, CmsKernel, TDigestKernel, KllKernel, MgKernel)

  def named(name: String): SketchKernel[_ <: AnyRef] =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(s"no build kernel $name"))
}

/** `<name>(inputs..., params...) -> binary`: the build aggregate of every
  * family, its buffer, update and serde taken from `kernel`. Rows with a
  * null input are skipped; empty input gives the empty sketch's bytes.
  * Shuffle format == wire format == checkpoint format.
  */
case class SketchBuildAgg[B <: AnyRef](
    children: Seq[Expression],
    kernel: SketchKernel[B],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] {

  private[this] val inputs = children.take(kernel.inputs.size).toArray
  @transient private lazy val params: Params =
    kernel.readParams(children.drop(inputs.length)).fold(e => throw new IllegalArgumentException(e), p => p)

  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = kernel.name
  // the kernel takes part in equality; plan strings read name(children, offsets)
  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def checkInputDataTypes(): TypeCheckResult = kernel.checkChildren(children)

  override def createAggregationBuffer(): B = kernel.newBuffer(params)
  override def update(buffer: B, input: InternalRow): B = {
    kernel.updateRow(buffer, inputs, input)
    buffer
  }
  override def merge(buffer: B, other: B): B = kernel.buffer.merge(buffer, other)
  override def eval(buffer: B): Any = kernel.buffer.resultBytes(buffer)
  override def serialize(buffer: B): Array[Byte] = kernel.buffer.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): B = kernel.buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchBuildAgg[B] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchBuildAgg[B] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchBuildAgg[B] =
    copy(children = c)
}
