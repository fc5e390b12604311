package graft.expr

import java.lang.ref.SoftReference

import scala.reflect.ClassTag

import org.apache.spark.TaskContext

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.core.{Cbf, CountMin, Hll, Kll, Kmv, KmvSample, MisraGries, Sbbf, Sbf, TDigest, WeightedSample}

/** The wire codec of one mergeable sketch family: how a stored blob
  * parses, merges with another blob of the family, and serializes. The
  * merge is the core's own — commutative and associative, and it throws
  * on mismatched sketch parameters — so any merge tree over the same
  * blobs is equivalent.
  *
  * One codec per family serves the union aggregate ([[SketchUnionAgg]]),
  * the checkpointed build's tree merge ([[graft.job.PartitionSketcher]])
  * and the query expressions' parse cache ([[parse]], [[SketchQuery]]).
  *
  * @param family the SQL name prefix (`hll` for `hll_union_agg`)
  * @param merge  the core's merge; may update and return its first argument
  * @param finish canonicalization run once on a finished union, at `eval`
  *               and at a tree merge's root. Only the scalable filter has
  *               one: its stage compaction is not confluent mid-tree.
  */
class SketchCodec[S <: AnyRef](
    val family: String,
    val fromBytes: Array[Byte] => S,
    val merge: (S, S) => S,
    val toBytes: S => Array[Byte],
    val finish: Option[S => S] = None)(implicit tag: ClassTag[S])
  extends Serializable {

  final def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    toBytes(merge(fromBytes(a), fromBytes(b)))

  /** The bytes of a finished union held as a sketch. */
  final def resultBytes(s: S): Array[Byte] = toBytes(finish.fold(s)(_(s)))

  /** The bytes of a finished union held serialized (a tree merge's root). */
  final def finishBytes(bytes: Array[Byte]): Array[Byte] =
    finish.fold(bytes)(f => toBytes(f(fromBytes(bytes))))

  // Per-thread two-entry slot keyed by byte-array identity: a query's
  // sketch blob is typically one array for a whole task (a subquery
  // result, a broadcast value), so each thread parses it once, and the
  // two operands of a pairwise query never evict each other row by row.
  // On an executor the slot is released when the task completes — a
  // tens-of-MB filter must not stay pinned to a task thread for the JVM's
  // life. On the driver (no TaskContext, no completion hook) a
  // SoftReference lets the GC bound it; without a slot there, a probe
  // constant-folded over a LocalRelation would re-parse the same array
  // per row. A sketch column holding a fresh array per row misses and
  // re-parses.
  @transient private[this] lazy val taskSlot = new ThreadLocal[ParseSlot[S]]
  @transient private[this] lazy val driverSlot = new ThreadLocal[SoftReference[ParseSlot[S]]]

  final def parse(bytes: Array[Byte]): S = {
    var slot = taskSlot.get()
    if (slot != null && (slot.bytes0 eq bytes)) slot.sketch0
    else {
      if (slot == null) {
        val tc = TaskContext.get()
        if (tc == null) {
          val sr = driverSlot.get()
          slot = if (sr != null) sr.get() else null
          if (slot == null) { slot = new ParseSlot[S]; driverSlot.set(new SoftReference(slot)) }
        } else {
          slot = new ParseSlot[S]
          taskSlot.set(slot)
          tc.addTaskCompletionListener[Unit](_ => taskSlot.remove())
        }
      }
      slot.get(bytes, fromBytes)
    }
  }

  /** True when this thread's executor slot holds no parsed sketch. */
  private[expr] def taskSlotEmpty: Boolean = taskSlot.get() == null

  private[expr] def sketchClass: Class[_] = tag.runtimeClass

  /** Java source for [[parse]] in generated code, typed as the sketch. */
  private[expr] def parseCode(bytes: String): String =
    s"((${sketchClass.getName}) ${getClass.getName}.MODULE$$.parse($bytes))"

  override def toString: String = family
}

object BloomCodec extends SketchCodec[Sbbf]("bloom", Sbbf.fromBytes, _.orInPlace(_), _.toBytes)
object CbfCodec extends SketchCodec[Cbf]("cbf", Cbf.fromBytes, _.addInPlace(_), _.toBytes)
object SbfCodec extends SketchCodec[Sbf](
  "sbf", Sbf.fromBytes, _.mergeInPlace(_), _.toBytes, finish = Some(_.compact()))
object HllCodec extends SketchCodec[Hll]("hll", Hll.fromBytes, _.merge(_), _.toBytes)
object KmvCodec extends SketchCodec[Kmv]("kmv", Kmv.fromBytes, _.mergeIn(_), _.toBytes)
object KmvSampleCodec extends SketchCodec[KmvSample](
  "kmv_sample", KmvSample.fromBytes, _.mergeIn(_), _.toBytes)
object WeightedSampleCodec extends SketchCodec[WeightedSample](
  "weighted_sample", WeightedSample.fromBytes, _.mergeIn(_), _.toBytes)
object CmsCodec extends SketchCodec[CountMin]("cms", CountMin.fromBytes, _.merge(_), _.toBytes)
object TDigestCodec extends SketchCodec[TDigest]("tdigest", TDigest.fromBytes, _.merge(_), _.toBytes)
object KllCodec extends SketchCodec[Kll]("kll", Kll.fromBytes, _.merge(_), _.toBytes)
object MgCodec extends SketchCodec[MisraGries]("mg", MisraGries.fromBytes, _.merge(_), _.toBytes)

/** The two most recently parsed blobs of one thread, most recent first. */
private final class ParseSlot[S <: AnyRef] {
  var bytes0: Array[Byte] = _
  var sketch0: S = _
  private[this] var bytes1: Array[Byte] = _
  private[this] var sketch1: S = _

  def get(bytes: Array[Byte], parse: Array[Byte] => S): S = {
    if (bytes0 ne bytes) {
      val s = if (bytes1 eq bytes) sketch1 else parse(bytes)
      bytes1 = bytes0; sketch1 = sketch0
      bytes0 = bytes; sketch0 = s
    }
    sketch0
  }
}

object SketchCodec {
  // lazy: each codec object's constructor reads `finish`'s default from
  // this companion, so a strict list built while the first-touched codec
  // is still initializing would hold null for it
  lazy val all: Seq[SketchCodec[_ <: AnyRef]] = Seq(
    BloomCodec, CbfCodec, SbfCodec, HllCodec, KmvCodec, KmvSampleCodec,
    WeightedSampleCodec, CmsCodec, TDigestCodec, KllCodec, MgCodec)
}

/** `<family>_union_agg(sketch_binary) -> binary` — merge a column of
  * stored sketches of one family (e.g. per-partition checkpoints) into
  * one, without re-reading source data. NULL blobs are skipped and no
  * non-null input gives NULL; an empty partial buffer travels as an
  * empty array.
  */
case class SketchUnionAgg[S <: AnyRef](
    child: Expression,
    codec: SketchCodec[S],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Option[S]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(s"$prettyName expects binary, got ${dt.sql}")
  }

  override def createAggregationBuffer(): Option[S] = None
  override def update(buffer: Option[S], input: InternalRow): Option[S] = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val s = codec.fromBytes(v.asInstanceOf[Array[Byte]])
      Some(if (buffer.isEmpty) s else codec.merge(buffer.get, s))
    }
  }
  override def merge(a: Option[S], b: Option[S]): Option[S] = (a, b) match {
    case (Some(x), Some(y)) => Some(codec.merge(x, y))
    case (Some(_), None) => a
    case (None, _) => b
  }
  override def eval(buffer: Option[S]): Any = buffer.map(codec.resultBytes).orNull
  override def serialize(buffer: Option[S]): Array[Byte] =
    buffer.map(codec.toBytes).getOrElse(Array.emptyByteArray)
  override def deserialize(bytes: Array[Byte]): Option[S] =
    if (bytes.isEmpty) None else Some(codec.fromBytes(bytes))

  override def withNewMutableAggBufferOffset(o: Int): SketchUnionAgg[S] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchUnionAgg[S] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchUnionAgg[S] =
    copy(child = c(0))
  override def prettyName: String = s"${codec.family}_union_agg"
}
