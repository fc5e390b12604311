package graftbench

import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Hashing, HllBuffer, Sbbf}

/** Single-thread `core` kernels, timed on a workload's exact geometry.
  * Each figure is the median of five timed passes (after two untimed
  * ones) over arrays built beforehand, in nanoseconds per operation.
  */
object Kernels {
  @volatile private var sink = 0L

  private def nsPerOp(opsPerPass: Long)(pass: => Long): Double = {
    sink += pass + pass
    val samples = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      sink += pass
      (System.nanoTime() - t0).toDouble / opsPerPass
    }
    Stats.median(samples)
  }

  /** Kernels behind the global build and broadcast probe: key hash,
    * plain and atomic insert, probe of a 50/50 member mix, and parse of
    * the serialized filter.
    */
  def sbbfGlobal(n: Long, fpRate: Double, base: Long, filter: Array[Byte]): Map[String, Double] = {
    val m = math.min(n, 2000000L).toInt
    val keys = Array.tabulate(m)(i => Gen.key(base, i))
    // members are the first n indices; index n + i is a non-member
    val mixed = Array.tabulate(m)(i => Hashing.hashLong(Gen.key(base, if (i % 2 == 0) i else n + i)))
    val hashes = keys.map(Hashing.hashLong)
    val f = Sbbf.empty(n, fpRate)
    Map(
      "core.hash_long_ns" -> nsPerOp(m) {
        var acc = 0L; var i = 0
        while (i < m) { acc ^= Hashing.hashLong(keys(i)); i += 1 }
        acc
      },
      "core.sbbf_insert_ns" -> nsPerOp(m) {
        var i = 0
        while (i < m) { f.insertHash(hashes(i)); i += 1 }
        f.words(0)
      },
      "core.sbbf_insert_atomic_ns" -> nsPerOp(m) {
        var i = 0
        while (i < m) { f.insertHashAtomic(hashes(i)); i += 1 }
        f.words(0)
      },
      "core.sbbf_check_ns" -> nsPerOp(m) {
        var c = 0L; var i = 0
        while (i < m) { if (f.checkHash(mixed(i))) c += 1; i += 1 }
        c
      },
      "core.sbbf_from_bytes_global_ns" -> nsPerOp(3) {
        Sbbf.fromBytes(filter).blockCount + Sbbf.fromBytes(filter).blockCount +
          Sbbf.fromBytes(filter).blockCount
      })
  }

  /** Kernels behind the grouped sketch table: string key hash, HLL add
    * into groups of the average size, and the per-group merge, serialize
    * and parse steps of the rollup and table probe.
    */
  def grouped(avgGroup: Int, cap: Long, fpRate: Double, hllP: Int,
      keyBase: Long): Map[String, Double] = {
    val m = 500000
    val keys = Array.tabulate(m)(i => UTF8String.fromString(Gen.pathKey(keyBase, i)))
    val hashes = keys.map(Hashing.hashUTF8String)
    val g = math.max(1, avgGroup)
    def hll(from: Int): HllBuffer = {
      val b = HllBuffer.empty(hllP)
      var i = 0
      while (i < g) { b.addHash(hashes((from + i) % m)); i += 1 }
      b
    }
    def filter(from: Int): Sbbf = {
      val f = Sbbf.empty(cap, fpRate)
      var i = 0
      while (i < g) { f.insertHash(hashes((from + i) % m)); i += 1 }
      f
    }
    val groups = 4096
    val hlls = Array.tabulate(groups)(j => hll(j * g))
    val filters = Array.tabulate(groups)(j => filter(j * g))
    val filterBytes = filters.map(_.toBytes)
    Map(
      "core.hash_utf8_ns" -> nsPerOp(m) {
        var acc = 0L; var i = 0
        while (i < m) { acc ^= Hashing.hashUTF8String(keys(i)); i += 1 }
        acc
      },
      "core.hll_add_ns" -> nsPerOp(m.toLong / g * g) {
        var acc = 0L; var j = 0
        while (j + g <= m) {
          val b = HllBuffer.empty(hllP)
          var i = 0
          while (i < g) { b.addHash(hashes(j + i)); i += 1 }
          acc += b.nonzeroCount
          j += g
        }
        acc
      },
      "core.sbbf_or_ns" -> nsPerOp(groups - 1) {
        val acc = Sbbf.empty(cap, fpRate)
        var j = 1
        while (j < groups) { acc.orInPlace(filters(j)); j += 1 }
        acc.words(0)
      },
      "core.hll_merge_ns" -> nsPerOp(groups - 1) {
        val acc = HllBuffer.empty(hllP)
        var j = 1
        while (j < groups) { acc.mergeIn(hlls(j)); j += 1 }
        acc.nonzeroCount
      },
      "core.hll_to_bytes_ns" -> nsPerOp(groups) {
        var acc = 0L; var j = 0
        while (j < groups) { acc += hlls(j).toBytes.length; j += 1 }
        acc
      },
      "core.sbbf_from_bytes_ns" -> nsPerOp(groups) {
        var acc = 0L; var j = 0
        while (j < groups) { acc += Sbbf.fromBytes(filterBytes(j)).blockCount; j += 1 }
        acc
      })
  }
}
