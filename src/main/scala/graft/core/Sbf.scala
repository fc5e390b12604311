package graft.core

/** Scalable Bloom filter — the reference's second planned variant
  * (`/root/reference/CHANGELOG.md:9-11` "Planned: ... Scalable BF"; no
  * reference implementation exists). Design follows the published
  * construction (Almeida, Baquero, Preguiça, Hutchison, "Scalable Bloom
  * Filters", Information Processing Letters 101(6), 2007): a SERIES of
  * plain filters with geometrically growing capacities and a tightening
  * error schedule, for streams whose cardinality is unknown up front.
  *
  *  - stage i has capacity `c0 * growth^i` and target fp `fp0 * r^i`
  *    (growth 2, tightening r = 0.9 by default);
  *  - `add` inserts into the NEWEST stage, opening a new one when the
  *    current stage reaches its capacity;
  *  - `contains` ORs the probes across stages — zero false negatives;
  *  - compound FPR <= sum of stage fps <= fp0 / (1 - r) for one lineage
  *    (the geometric series bound from the paper).
  *
  * Distributed merge — MERGE-ORDER-CANONICAL by construction. An SBF is
  * semantically a UNION of SBBFs, and [[mergeInPlace]] is a pure
  * CONCATENATION of stage lists (multiset union): commutative-in-effect,
  * associative, empty-SBF identity. Stage OR-COMPACTION is deliberately
  * NOT part of the merge — greedy bin-packing inside the merge tree is
  * not confluent (which stages get OR'd together depends on the tree),
  * which is exactly the byte-nondeterminism the reference's
  * serialization contract forbids
  * (`/root/reference/tests/test_serialization.py:154-161`). Instead:
  *
  *  - [[toBytes]] serializes stages in a CANONICAL total order
  *    (capacity, fp bits, count, lexicographic words), so the raw bytes
  *    are a pure function of the stage MULTISET — invariant under any
  *    merge order or tree over the same partials;
  *  - [[compact]] is an EXPLICIT deterministic step (canonical sort,
  *    then greedy OR-fold of same-parameter stages under capacity),
  *    applied once at finalization (`sbf_agg`'s [[graft.expr.SbfKernel]]
  *    runs it in `eval`, never in `merge`/`serialize`) — also a pure function of
  *    the multiset, so finalized bytes are merge-order-canonical too.
  *
  * Memory shape: deferring compaction keeps every partial's stages until
  * finalization, but total stage BYTES stay proportional to total
  * inserted keys (each partial's series is sized to its own key count),
  * so the shuffle volume matches the compacted form to within the
  * per-stage header; only the final probe-side stage count benefits from
  * compaction, which finalization performs. The compound FPR bound after
  * a merge is the SUM of the per-stage bounds (union bound) — still
  * <= fp0/(1-r) per contributing partition lineage, which the caller
  * controls via `fp0`.
  *
  * Wire format ABSF v1: 4 magic "ABSF" + 1 version + 8 BE c0 + 8 BE
  * fp0-raw-bits + 8 BE growth + 8 BE r-raw-bits + 4 BE stage count, then
  * per stage: 8 BE insert count + 4 BE byte length + ABLM v2 bytes.
  * Stages reuse the SBBF codec verbatim, so any stage can interoperate
  * with plain-filter tooling.
  */
final class Sbf private[core] (
    val initialCapacity: Long,
    val fp0Bits: Long,
    val growth: Long,
    val tighteningBits: Long,
    private[core] var stages: Vector[Sbf.Stage]) extends Serializable {

  def fp0: Double = java.lang.Double.longBitsToDouble(fp0Bits)
  def tightening: Double = java.lang.Double.longBitsToDouble(tighteningBits)

  def stageCount: Int = stages.size
  def insertedCount: Long = stages.map(_.count).sum

  /** Capacity/fp for the NEXT stage: one growth/tightening step past the
    * largest stage present (for a pure single lineage this is exactly the
    * schedule `c0*g^i`, `fp0*r^i`; after a merge it continues from the
    * series frontier instead of replaying index arithmetic that no longer
    * matches the concatenated list).
    */
  private def nextStageParams(): (Long, Double) =
    if (stages.isEmpty) (initialCapacity, fp0)
    else {
      var maxCap = 0L
      var minFp = 1.0
      stages.foreach { s =>
        if (s.filter.capacity > maxCap) maxCap = s.filter.capacity
        if (s.filter.fpRate < minFp) minFp = s.filter.fpRate
      }
      (maxCap * growth, minFp * tightening)
    }

  /** Insert a pre-computed 64-bit key hash, growing the series as needed. */
  def addHash(hash: Long): Unit = {
    if (stages.isEmpty || stages.last.count >= stages.last.filter.capacity) {
      val (cap, fp) = nextStageParams()
      stages = stages :+ Sbf.Stage(Sbbf.empty(cap, fp), 0L)
    }
    val s = stages.last
    s.filter.insertHash(hash)
    s.count += 1
  }

  def add(key: String): Unit = addHash(Hashing.hashString(key))
  def add(key: Long): Unit = addHash(Hashing.hashLong(key))

  /** OR of the stage probes — zero FN, compound FP <= sum of stage fps. */
  def checkHash(hash: Long): Boolean = {
    var i = 0
    while (i < stages.size) {
      if (stages(i).filter.checkHash(hash)) return true
      i += 1
    }
    false
  }

  def contains(key: String): Boolean = checkHash(Hashing.hashString(key))
  def contains(key: Long): Boolean = checkHash(Hashing.hashLong(key))

  /** Union-bound compound false-positive estimate of the current series. */
  def compoundFpBound: Double = stages.map(_.filter.fpRate).sum

  def isEmpty: Boolean = stages.forall(_.count == 0L) && stages.forall(_.filter.isEmpty)

  private def requireCompatible(other: Sbf): Unit =
    if (initialCapacity != other.initialCapacity || fp0Bits != other.fp0Bits ||
        growth != other.growth || tighteningBits != other.tighteningBits)
      throw new IllegalArgumentException(
        "ScalableBloomFilters must have the same initial_capacity, fp_rate, " +
          "growth, and tightening")

  /** Merge = pure stage-list CONCATENATION (multiset union). Keeping the
    * merge compaction-free is what makes the serialized bytes canonical
    * under any merge order/tree (see class doc): the multiset of stages
    * after any sequence of merges over the same partials is identical,
    * and [[toBytes]]/[[compact]] are pure functions of that multiset.
    * Run [[compact]] once at finalization to bound the probe-side stage
    * count. Takes ownership of `other`'s stages (they are aliased, not
    * copied — the aggregation contract discards `other` after the merge);
    * do not mutate `other` afterwards. Returns this.
    */
  def mergeInPlace(other: Sbf): Sbf = {
    requireCompatible(other)
    stages = stages ++ other.stages.map(s => Sbf.Stage(s.filter, s.count))
    this
  }

  /** Deterministic compaction: canonical-sort the stages, then greedily
    * OR-fold runs of same-(capacity, fp) stages whose combined insert
    * counts fit the capacity — never violates a stage's sizing, so every
    * surviving stage keeps its design FP rate. A pure function of the
    * stage multiset (the sort fixes the fold order), hence
    * merge-order-canonical like [[toBytes]]. Idempotent in effect on a
    * pure lineage (full stages cannot pack further). Returns this.
    */
  def compact(): Sbf = {
    if (stages.size > 1) {
      val sorted = stages.sorted(Sbf.canonicalStageOrder)
      val out = Vector.newBuilder[Sbf.Stage]
      var acc: Sbf.Stage = null
      sorted.foreach { s =>
        if (acc == null) acc = Sbf.Stage(s.filter.copy(), s.count)
        else if (acc.filter.compatible(s.filter) &&
            acc.count + s.count <= acc.filter.capacity) {
          acc.filter.orInPlace(s.filter)
          acc.count += s.count
        } else {
          out += acc
          acc = Sbf.Stage(s.filter.copy(), s.count)
        }
      }
      if (acc != null) out += acc
      stages = out.result()
    }
    this
  }

  // equality/hashing on the canonical stage ordering: two SBFs holding
  // the same stage multiset are equal regardless of merge history
  private def canonicalStages: Vector[Sbf.Stage] =
    stages.sorted(Sbf.canonicalStageOrder)

  override def equals(o: Any): Boolean = o match {
    case that: Sbf =>
      initialCapacity == that.initialCapacity && fp0Bits == that.fp0Bits &&
        growth == that.growth && tighteningBits == that.tighteningBits &&
        canonicalStages.map(s => (s.count, s.filter)) ==
          that.canonicalStages.map(s => (s.count, s.filter))
    case _ => false
  }
  override def hashCode: Int =
    canonicalStages.map(s => (s.count, s.filter)).hashCode

  override def toString: String =
    s"<Sbf c0=$initialCapacity fp0=$fp0 stages=$stageCount inserted=$insertedCount>"

  // ------------------------------------------------------------------ wire

  /** Serialize in the CANONICAL stage order — bytes are a pure function
    * of the stage multiset, so any merge order over the same partials
    * round-trips to identical blobs (the reference's byte-determinism
    * contract, `tests/test_serialization.py:86-110`).
    */
  def toBytes: Array[Byte] = {
    val stageBytes = canonicalStages.map(s => (s.count, s.filter.toBytes))
    val total = Sbf.HeaderSize + stageBytes.map(12 + _._2.length).sum
    val out = new Array[Byte](total)
    out(0) = 'A'; out(1) = 'B'; out(2) = 'S'; out(3) = 'F'
    out(4) = Sbf.Version
    Sbbf.writeBE64(out, 5, initialCapacity)
    Sbbf.writeBE64(out, 13, fp0Bits)
    Sbbf.writeBE64(out, 21, growth)
    Sbbf.writeBE64(out, 29, tighteningBits)
    var off = 37
    out(off) = (stages.size >>> 24).toByte
    out(off + 1) = (stages.size >>> 16).toByte
    out(off + 2) = (stages.size >>> 8).toByte
    out(off + 3) = stages.size.toByte
    off += 4
    stageBytes.foreach { case (count, b) =>
      Sbbf.writeBE64(out, off, count)
      off += 8
      out(off) = (b.length >>> 24).toByte
      out(off + 1) = (b.length >>> 16).toByte
      out(off + 2) = (b.length >>> 8).toByte
      out(off + 3) = b.length.toByte
      off += 4
      System.arraycopy(b, 0, out, off, b.length)
      off += b.length
    }
    out
  }
}

object Sbf {
  final val HeaderSize = 41 // 4 magic + 1 ver + 8 c0 + 8 fp0 + 8 growth + 8 r + 4 nstages
  final val Version: Byte = 1
  final val DefaultGrowth = 2L
  final val DefaultTightening = 0.9

  /** Mutable stage: one SBBF plus its insert count (needed for growth
    * decisions and merge compaction).
    */
  final class Stage(val filter: Sbbf, var count: Long) extends Serializable
  object Stage {
    def apply(filter: Sbbf, count: Long): Stage = new Stage(filter, count)
  }

  /** Canonical TOTAL order on stages: (capacity, fp raw bits, count,
    * lexicographic words). Any permutation of the same stage multiset
    * sorts identically, which is what makes [[Sbf.toBytes]] and
    * [[Sbf.compact]] merge-order-invariant. (fp raw-bit order equals
    * numeric order — fp rates are positive doubles; same-capacity stages
    * share a word-array length, so the element-wise compare is total.)
    */
  private[core] val canonicalStageOrder: Ordering[Stage] = new Ordering[Stage] {
    override def compare(a: Stage, b: Stage): Int = {
      var c = java.lang.Long.compare(a.filter.capacity, b.filter.capacity)
      if (c != 0) return c
      c = java.lang.Long.compare(a.filter.fpRateBits, b.filter.fpRateBits)
      if (c != 0) return c
      c = java.lang.Long.compare(a.count, b.count)
      if (c != 0) return c
      java.util.Arrays.compare(a.filter.words, b.filter.words)
    }
  }

  def empty(initialCapacity: Long, fp0: Double,
      growth: Long = DefaultGrowth, tightening: Double = DefaultTightening): Sbf = {
    if (initialCapacity <= 0)
      throw new IllegalArgumentException("Capacity must be greater than 0")
    if (!(fp0 > 0.0 && fp0 < 1.0))
      throw new IllegalArgumentException(
        "False positive rate must be between 0.0 and 1.0")
    if (growth < 2)
      throw new IllegalArgumentException("Growth factor must be >= 2")
    if (!(tightening > 0.0 && tightening < 1.0))
      throw new IllegalArgumentException("Tightening ratio must be in (0, 1)")
    new Sbf(initialCapacity, java.lang.Double.doubleToRawLongBits(fp0),
      growth, java.lang.Double.doubleToRawLongBits(tightening), Vector.empty)
  }

  private def readBE32(data: Array[Byte], off: Int): Int =
    ((data(off) & 0xff) << 24) | ((data(off + 1) & 0xff) << 16) |
      ((data(off + 2) & 0xff) << 8) | (data(off + 3) & 0xff)

  def fromBytes(data: Array[Byte]): Sbf = {
    def fail(msg: String) = throw new SbbfFormatException(msg)
    if (data.length < HeaderSize) fail("Invalid data: too short for header")
    if (data(0) != 'A' || data(1) != 'B' || data(2) != 'S' || data(3) != 'F')
      fail("Invalid data: wrong magic bytes")
    val version = data(4) & 0xff
    if (version != Version)
      fail(s"Unsupported version: $version (expected $Version)")
    val c0 = Sbbf.readBE64(data, 5)
    val fp0Bits = Sbbf.readBE64(data, 13)
    val growth = Sbbf.readBE64(data, 21)
    val rBits = Sbbf.readBE64(data, 29)
    val fp0 = java.lang.Double.longBitsToDouble(fp0Bits)
    val r = java.lang.Double.longBitsToDouble(rBits)
    if (c0 <= 0) fail("Invalid data: capacity is 0")
    if (!(fp0 > 0.0 && fp0 < 1.0)) fail("Invalid data: fp_rate out of range")
    if (growth < 2) fail("Invalid data: growth out of range")
    if (!(r > 0.0 && r < 1.0)) fail("Invalid data: tightening out of range")
    val n = readBE32(data, 37)
    if (n < 0 || n > 1000000) fail("Invalid data: stage count out of range")
    var off = HeaderSize
    val stages = Vector.newBuilder[Stage]
    var i = 0
    while (i < n) {
      if (off + 12 > data.length) fail("Invalid data: truncated stage header")
      val count = Sbbf.readBE64(data, off)
      val len = readBE32(data, off + 8)
      off += 12
      if (len < 0 || off + len > data.length) fail("Invalid data: truncated stage")
      if (count < 0) fail("Invalid data: negative stage count")
      val b = java.util.Arrays.copyOfRange(data, off, off + len)
      stages += Stage(Sbbf.fromBytes(b), count) // full SBBF validation per stage
      off += len
      i += 1
    }
    if (off != data.length) fail(s"Invalid data: expected $off bytes, got ${data.length}")
    new Sbf(c0, fp0Bits, growth, rBits, stages.result())
  }
}
