package graft.core

/** Dense HyperLogLog sketch (Flajolet, Fusy, Gandouet, Meunier 2007),
  * 64-bit-hash variant — no large-range correction needed.
  *
  * North-rule sibling sketch (SURVEY.md §7.4): same mergeable shape as the
  * SBBF — `add` is register max-update, `merge` is register-wise max
  * (commutative/associative/idempotent, so Spark partial aggregation is
  * exact), and the codec is a small versioned wire format.
  *
  * precision p in [4, 18]; m = 2^p registers; standard error = 1.04/sqrt(m)
  * (0.81% at the default p = 14). Small-range bias corrected with linear
  * counting below the standard 5m/2 threshold.
  *
  * Wire format is CONTENT-CANONICAL with two encodings (see [[Hll.encode]]):
  * dense v1 (`6 + m` bytes) and sparse v2 (`10 + 4c` bytes for `c` nonzero
  * registers, emitted exactly when that is smaller). Same registers always
  * produce the same bytes regardless of build history, so byte-equality
  * tests (union == direct, resume identity) hold across representations.
  */
final class Hll private[core] (val p: Int, val registers: Array[Byte])
    extends Serializable {

  def m: Int = 1 << p

  /** Update with a 64-bit key hash: register = top p bits, rank = number
    * of leading zeros of the remaining (64-p) bits + 1.
    */
  def addHash(hash: Long): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    val rank = Hll.rankOf(hash, p)
    if (rank > registers(idx)) registers(idx) = rank.toByte
  }

  def merge(other: Hll): Hll = {
    require(p == other.p, s"Cannot merge HLL sketches with different precision ($p vs ${other.p})")
    var i = 0
    while (i < registers.length) {
      if (other.registers(i) > registers(i)) registers(i) = other.registers(i)
      i += 1
    }
    this
  }

  /** Cardinality estimate with small-range linear-counting correction. */
  def estimate: Long = {
    val mD = m.toDouble
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < registers.length) {
      sum += java.lang.Double.longBitsToDouble((1023L - registers(i)) << 52) // 2^-r
      if (registers(i) == 0) zeros += 1
      i += 1
    }
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / mD)
    }
    val raw = alpha * mD * mD / sum
    val corrected =
      if (raw <= 2.5 * mD && zeros > 0) mD * math.log(mD / zeros) // linear counting
      else raw
    math.round(corrected)
  }

  /** Inclusion-exclusion estimate of |A INTERSECT B| for two sketches of
    * the same precision: est(A) + est(B) - est(A UNION B), clamped at 0;
    * neither sketch changes. Error compounds from the three estimates (it
    * can exceed the single-sketch bound when the true intersection is
    * small relative to the union — the standard inclusion-exclusion
    * caveat).
    */
  def intersectEstimate(other: Hll): Long =
    math.max(0L, estimate + other.estimate - copy().merge(other).estimate)

  /** Standard error of the estimator: 1.04 / sqrt(m). */
  def relativeError: Double = 1.04 / math.sqrt(m.toDouble)

  def copy(): Hll = new Hll(p, registers.clone())

  override def equals(o: Any): Boolean = o match {
    case that: Hll => p == that.p && java.util.Arrays.equals(registers, that.registers)
    case _ => false
  }
  override def hashCode: Int = 31 * java.util.Arrays.hashCode(registers) + p

  /** Content-canonical wire bytes (dense v1 or sparse v2, whichever is
    * smaller — [[Hll.encode]]).
    */
  def toBytes: Array[Byte] = Hll.encode(p, registers)
}

object Hll {
  val DefaultP = 14

  def empty(p: Int = DefaultP): Hll = {
    require(p >= 4 && p <= 18, s"HLL precision must be in [4, 18], got $p")
    new Hll(p, new Array[Byte](1 << p))
  }

  /** rank = leading zeros of the sub-register bits + 1; in [1, 65-p]. */
  @inline private[core] def rankOf(hash: Long, p: Int): Int = {
    val rest = hash << p
    (if (rest == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(rest)) + 1
  }

  /** Sparse v2 is emitted iff `10 + 4c < 6 + m`, i.e. `c < (m-4)/4` —
    * strictly smaller than dense, and a pure function of register content.
    */
  private[core] def sparseCutoff(p: Int): Int = ((1 << p) - 4) / 4

  /** Canonical encoder: counts nonzero registers and picks the smaller
    * encoding. Dense v1: "GHLL" 1 p + m raw register bytes. Sparse v2:
    * "GHLL" 2 p + count (int32 BE) + count packed int32 BE entries
    * `(idx << 6) | rank` in ascending idx order (rank <= 61 fits 6 bits,
    * idx < 2^18 fits 18 — 24 bits per entry).
    */
  private[core] def encode(p: Int, registers: Array[Byte]): Array[Byte] = {
    var c = 0
    var i = 0
    while (i < registers.length) { if (registers(i) != 0) c += 1; i += 1 }
    if (c < sparseCutoff(p)) {
      val entries = new Array[Int](c)
      var n = 0
      i = 0
      while (i < registers.length) {
        if (registers(i) != 0) {
          entries(n) = (i << 6) | (registers(i) & 0x3f)
          n += 1
        }
        i += 1
      }
      encodeSparseEntries(p, entries, c) // idx-ascending == packed-ascending
    } else {
      val out = new Array[Byte](6 + registers.length)
      writeHeader(out, 1, p)
      System.arraycopy(registers, 0, out, 6, registers.length)
      out
    }
  }

  @inline private[core] def writeHeader(out: Array[Byte], version: Int, p: Int): Unit = {
    out(0) = 'G'; out(1) = 'H'; out(2) = 'L'; out(3) = 'L'
    out(4) = version.toByte
    out(5) = p.toByte
  }
  @inline private[core] def writeIntBE(out: Array[Byte], off: Int, v: Int): Unit = {
    out(off) = (v >>> 24).toByte; out(off + 1) = (v >>> 16).toByte
    out(off + 2) = (v >>> 8).toByte; out(off + 3) = v.toByte
  }
  @inline private def readIntBE(in: Array[Byte], off: Int): Int =
    ((in(off) & 0xff) << 24) | ((in(off + 1) & 0xff) << 16) |
      ((in(off + 2) & 0xff) << 8) | (in(off + 3) & 0xff)

  /** Emit the sparse v2 wire for pre-sorted packed entries. */
  private[core] def encodeSparseEntries(
      p: Int, entries: Array[Int], count: Int): Array[Byte] = {
    val out = new Array[Byte](10 + 4 * count)
    writeHeader(out, 2, p)
    writeIntBE(out, 6, count)
    var i = 0
    while (i < count) {
      writeIntBE(out, 10 + 4 * i, entries(i))
      i += 1
    }
    out
  }

  /** Validate magic/version/precision; returns (version, p). */
  private[core] def validateHeader(data: Array[Byte]): (Int, Int) = {
    def fail(msg: String) = throw new SbbfFormatException(msg)
    if (data.length < 6) fail("Invalid HLL data: too short for header")
    if (data(0) != 'G' || data(1) != 'H' || data(2) != 'L' || data(3) != 'L')
      fail("Invalid HLL data: wrong magic bytes")
    val version = data(4)
    if (version != 1 && version != 2) fail(s"Unsupported HLL version: $version")
    val p = data(5).toInt
    if (p < 4 || p > 18) fail(s"Invalid HLL data: precision $p out of range")
    (version.toInt, p)
  }

  /** Validate and stream a sparse v2 payload's (idx, rank) pairs. */
  private[core] def forEachSparseEntry(
      data: Array[Byte], p: Int)(sink: (Int, Int) => Unit): Unit = {
    def fail(msg: String) = throw new SbbfFormatException(msg)
    if (data.length < 10) fail("Invalid HLL data: too short for sparse header")
    val m = 1 << p
    val c = readIntBE(data, 6)
    if (c < 0 || c >= sparseCutoff(p))
      fail(s"Invalid HLL data: sparse count $c out of range for p=$p")
    if (data.length != 10 + 4 * c)
      fail(s"Invalid HLL data: expected ${10 + 4 * c} bytes, got ${data.length}")
    val maxRank = 65 - p
    var prev = -1
    var i = 0
    while (i < c) {
      val e = readIntBE(data, 10 + 4 * i)
      val idx = e >>> 6
      val rank = e & 0x3f
      if (idx >= m) fail(s"Invalid HLL data: sparse index $idx out of range")
      if (rank < 1 || rank > maxRank)
        fail(s"Invalid HLL data: sparse rank $rank out of range for p=$p")
      if (e <= prev) fail("Invalid HLL data: sparse entries not strictly ascending")
      prev = e
      sink(idx, rank)
      i += 1
    }
  }

  def fromBytes(data: Array[Byte]): Hll = {
    def fail(msg: String) = throw new SbbfFormatException(msg)
    val (version, p) = validateHeader(data)
    val m = 1 << p
    val regs = new Array[Byte](m)
    if (version == 1) {
      if (data.length != 6 + m)
        fail(s"Invalid HLL data: expected ${6 + m} bytes, got ${data.length}")
      System.arraycopy(data, 6, regs, 0, m)
    } else {
      forEachSparseEntry(data, p)((idx, rank) => regs(idx) = rank.toByte)
    }
    new Hll(p, regs)
  }
}

/** Memory-adaptive HLL AGGREGATION BUFFER: starts as a small open-addressing
  * table of packed `(idx << 6) | rank` entries and promotes itself to a
  * dense [[Hll]] once the table would stop paying for itself. The buffer is
  * the 100 TB story for HIGH-CARDINALITY grouped distinct counts: a dense
  * p=14 sketch is 16 KB per group whether the group saw 3 keys or 3 billion,
  * so 10^6 groups cost 16 GB of agg-map plus 16 GB of partial-row shuffle;
  * sparse buffers (and the matching sparse v2 wire encoding, [[Hll.encode]])
  * make small groups cost bytes proportional to what they actually saw,
  * while large groups promote to the flat dense array and keep the O(1)
  * register-update hot path.
  *
  * Estimates are IDENTICAL to the dense path by construction — the table
  * stores exactly the nonzero registers (max-merged like the dense array),
  * and serialization is the same content-canonical codec, so
  * sparse-then-promoted, always-dense, and any merge order all produce
  * byte-identical wire output for the same input set.
  */
final class HllBuffer private (val p: Int) extends Serializable {
  import HllBuffer._

  private var dense: Hll = _                    // non-null once promoted
  private var table: Array[Int] = new Array[Int](InitialCapacity)
  private var count = 0
  // promote when the table (4 B/slot at <=0.5 load => ~8 B/entry) would
  // outgrow the dense array; also hard-capped under the wire cutoff so a
  // sparse buffer is ALWAYS sparse-encodable
  private val promoteAt: Int =
    math.min(math.max(16, (1 << p) >> 3), Hll.sparseCutoff(p) - 1)

  def isSparse: Boolean = dense == null
  def nonzeroCount: Int = if (dense == null) count else {
    var c = 0; var i = 0
    while (i < dense.registers.length) { if (dense.registers(i) != 0) c += 1; i += 1 }
    c
  }

  def addHash(hash: Long): Unit =
    if (dense != null) dense.addHash(hash)
    else addEntry((hash >>> (64 - p)).toInt, Hll.rankOf(hash, p))

  private def addEntry(idx: Int, rank: Int): Unit = {
    if (dense != null) { // may promote mid-decode: v2 wire holds up to ~m/4 entries, promoteAt ~m/8
      if (rank > dense.registers(idx)) dense.registers(idx) = rank.toByte
      return
    }
    val mask = table.length - 1
    var s = (idx * 0x9E3779B9) & mask
    while (true) {
      val e = table(s)
      if (e == 0) {
        table(s) = (idx << 6) | rank
        count += 1
        if (count > promoteAt) promote()
        else if (count * 2 > table.length) grow()
        return
      } else if ((e >>> 6) == idx) {
        if (rank > (e & 0x3f)) table(s) = (idx << 6) | rank
        return
      }
      s = (s + 1) & mask
    }
  }

  private def grow(): Unit = {
    val old = table
    table = new Array[Int](old.length * 2)
    val mask = table.length - 1
    var i = 0
    while (i < old.length) {
      val e = old(i)
      if (e != 0) {
        var s = ((e >>> 6) * 0x9E3779B9) & mask
        while (table(s) != 0) s = (s + 1) & mask
        table(s) = e
      }
      i += 1
    }
  }

  private def promote(): Unit = {
    val h = Hll.empty(p)
    var i = 0
    while (i < table.length) {
      val e = table(i)
      if (e != 0) {
        val idx = e >>> 6
        val rank = (e & 0x3f).toByte
        if (rank > h.registers(idx)) h.registers(idx) = rank
      }
      i += 1
    }
    dense = h
    table = null
    count = 0
  }

  /** In-place max-merge; promotes if the union outgrows the sparse cap. */
  def mergeIn(other: HllBuffer): HllBuffer = {
    require(p == other.p,
      s"Cannot merge HLL buffers with different precision ($p vs ${other.p})")
    if (other.dense != null) {
      if (dense == null) promote()
      dense.merge(other.dense)
    } else {
      var i = 0
      val t = other.table
      while (i < t.length) {
        val e = t(i)
        if (e != 0) {
          if (dense != null) {
            val idx = e >>> 6
            val rank = (e & 0x3f).toByte
            if (rank > dense.registers(idx)) dense.registers(idx) = rank
          } else addEntry(e >>> 6, e & 0x3f)
        }
        i += 1
      }
    }
    this
  }

  /** Materialize as a dense [[Hll]] (copy; the buffer stays usable). */
  def toHll: Hll = {
    if (dense != null) dense.copy()
    else {
      val h = Hll.empty(p)
      var i = 0
      while (i < table.length) {
        val e = table(i)
        if (e != 0) {
          val idx = e >>> 6
          val rank = (e & 0x3f).toByte
          if (rank > h.registers(idx)) h.registers(idx) = rank
        }
        i += 1
      }
      h
    }
  }

  /** Content-canonical bytes — identical to `toHll.toBytes` always; the
    * sparse path just avoids materializing the dense array.
    */
  def toBytes: Array[Byte] = {
    if (dense != null) Hll.encode(p, dense.registers)
    else {
      // sparse invariant: count <= promoteAt < sparseCutoff => v2; one
      // encoder (Hll.encodeSparseEntries) owns the byte layout
      val entries = new Array[Int](count)
      var i = 0
      var n = 0
      while (i < table.length) {
        if (table(i) != 0) { entries(n) = table(i); n += 1 }
        i += 1
      }
      java.util.Arrays.sort(entries) // ascending packed == ascending idx
      Hll.encodeSparseEntries(p, entries, count)
    }
  }

  def estimate: Long = toHll.estimate
}

object HllBuffer {
  private val InitialCapacity = 16 // power of two

  def empty(p: Int = Hll.DefaultP): HllBuffer = {
    require(p >= 4 && p <= 18, s"HLL precision must be in [4, 18], got $p")
    new HllBuffer(p)
  }

  /** Decode either wire version: sparse v2 decodes DIRECTLY into the
    * sparse table — no transient dense array on the merge path (the
    * final stage of a high-cardinality grouped agg deserializes once per
    * incoming partial row); dense v1 stays dense. Validation matches
    * [[Hll.fromBytes]] exactly.
    */
  def fromBytes(data: Array[Byte]): HllBuffer = {
    if (data.length >= 5 && data(4) == 2) {
      val (_, p) = Hll.validateHeader(data)
      val b = new HllBuffer(p)
      Hll.forEachSparseEntry(data, p)((idx, rank) => b.addEntry(idx, rank))
      b
    } else {
      val h = Hll.fromBytes(data) // full validation
      val b = new HllBuffer(h.p)
      b.dense = h
      b.table = null
      b
    }
  }
}
