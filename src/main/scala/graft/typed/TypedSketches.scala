package graft.typed

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Hashing, Hll, HllBuffer, Kll, MisraGries, Sbbf, TDigest}
import graft.expr.{BloomKernel, HllKernel, KllKernel, MgKernel, Params, SketchKernel, TDigestKernel}

/** Typed `Dataset[T]` surface: `org.apache.spark.sql.expressions.Aggregator`
  * facades over the same build kernels the Catalyst aggregates use
  * (north rule: "mergeable Aggregator/UDAF ... over typed Datasets"), so
  * a facade's bytes equal the expression build's over the same keys.
  *
  * Use when the input is a typed Dataset and the key is a field access —
  * the aggregator composes with `groupByKey(...).agg(...)` and keeps the
  * case-class types end to end:
  *
  * {{{
  *   case class File(repo: String, sha: String)
  *   ds.groupByKey(_.repo).agg(TypedSketches.bloomOfString[File](_.sha, 1 << 20, 0.01))
  * }}}
  *
  * The untyped column API ([[graft.functions]]) stays the faster path for
  * wide scans (codegen'd key hash, no object deserialization); these
  * aggregators pay the Dataset object codec, which is the normal typed
  * trade in Spark. Null keys are SKIPPED, as in the expression aggregates.
  */
object TypedSketches {

  /** Bloom filter over a string key of `IN`; output = ABLM v2 bytes. */
  def bloomOfString[IN](key: IN => String, capacity: Long, fpRate: Double)
      : Aggregator[IN, SketchBuffer, Array[Byte]] =
    new KernelAggregator[IN, Sbbf](BloomKernel, capacity, fpRate)((b, in) => {
      val k = key(in)
      if (k != null) BloomKernel.update(b, Hashing.hashString(k))
    })

  /** Bloom filter over an integral key of `IN`. */
  def bloomOfLong[IN](key: IN => Long, capacity: Long, fpRate: Double)
      : Aggregator[IN, SketchBuffer, Array[Byte]] =
    new KernelAggregator[IN, Sbbf](BloomKernel, capacity, fpRate)(
      (b, in) => BloomKernel.update(b, Hashing.hashLong(key(in))))

  /** HLL distinct-count sketch over a string key of `IN`. */
  def hllOfString[IN](key: IN => String, p: Int = Hll.DefaultP)
      : Aggregator[IN, SketchBuffer, Array[Byte]] =
    new KernelAggregator[IN, HllBuffer](HllKernel, p)((b, in) => {
      val k = key(in)
      if (k != null) HllKernel.update(b, Hashing.hashString(k))
    })

  /** t-digest quantile sketch over a numeric value of `IN`. */
  def tdigestOf[IN](value: IN => Double, compression: Double = TDigest.DefaultCompression)
      : Aggregator[IN, SketchBuffer, Array[Byte]] =
    new KernelAggregator[IN, TDigest](TDigestKernel, compression)(
      (b, in) => TDigestKernel.update(b, value(in)))

  /** KLL quantile sketch over a numeric value of `IN`. */
  def kllOf[IN](value: IN => Double, k: Int = Kll.DefaultK): Aggregator[IN, SketchBuffer, Array[Byte]] =
    new KernelAggregator[IN, Kll](KllKernel, k)((b, in) => KllKernel.update(b, value(in)))

  /** Misra-Gries heavy-hitter summary over a string key of `IN`. */
  def misraGriesOf[IN](key: IN => String, k: Int): Aggregator[IN, SketchBuffer, Array[Byte]] =
    new KernelAggregator[IN, MisraGries](MgKernel, k)((b, in) => {
      val s = key(in)
      if (s != null) MgKernel.update(b, UTF8String.fromString(s))
    })

  private final class KernelAggregator[IN, B <: AnyRef](kernel: SketchKernel[B], params: Any*)(
      add: (B, IN) => Unit) extends Aggregator[IN, SketchBuffer, Array[Byte]] {
    private val p = Params(params: _*)
    override def zero: SketchBuffer = new SketchBuffer(kernel, kernel.newBuffer(p))
    override def reduce(b: SketchBuffer, a: IN): SketchBuffer = {
      add(b.sketch.asInstanceOf[B], a)
      b
    }
    override def merge(a: SketchBuffer, b: SketchBuffer): SketchBuffer = {
      a.sketch = kernel.buffer.merge(a.sketch.asInstanceOf[B], b.sketch.asInstanceOf[B])
      a
    }
    override def finish(b: SketchBuffer): Array[Byte] =
      kernel.buffer.resultBytes(b.sketch.asInstanceOf[B])
    override def bufferEncoder: Encoder[SketchBuffer] = Encoders.kryo[SketchBuffer]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }
}

/** The typed facades' aggregation buffer: one kernel's buffer, serialized
  * (kryo or Java) as the kernel's name and its buffer WIRE bytes, never
  * field by field. A field-level round trip silently drops state the wire
  * carries: the t-digest's pending points are `@transient` (3000 points
  * came back as 1600).
  */
final class SketchBuffer(
    @transient private[typed] var kernel: SketchKernel[_ <: AnyRef],
    @transient private[typed] var sketch: AnyRef)
  extends com.esotericsoftware.kryo.KryoSerializable with Serializable {

  private def bytes: Array[Byte] = kernel.asInstanceOf[SketchKernel[AnyRef]].buffer.toBytes(sketch)
  private def restore(name: String, b: Array[Byte]): Unit = {
    kernel = SketchKernel.named(name)
    sketch = kernel.buffer.fromBytes(b)
  }

  override def write(kryo: com.esotericsoftware.kryo.Kryo,
      out: com.esotericsoftware.kryo.io.Output): Unit = {
    val b = bytes
    out.writeString(kernel.name); out.writeInt(b.length); out.writeBytes(b)
  }
  override def read(kryo: com.esotericsoftware.kryo.Kryo,
      in: com.esotericsoftware.kryo.io.Input): Unit = {
    val name = in.readString()
    restore(name, in.readBytes(in.readInt()))
  }
  private def writeObject(o: java.io.ObjectOutputStream): Unit = {
    val b = bytes
    o.writeUTF(kernel.name); o.writeInt(b.length); o.write(b)
  }
  private def readObject(i: java.io.ObjectInputStream): Unit = {
    val name = i.readUTF()
    val b = new Array[Byte](i.readInt()); i.readFully(b)
    restore(name, b)
  }
}
