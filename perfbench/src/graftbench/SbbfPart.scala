package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Hashing, Sbbf}
import graft.functions._
import graft.job.BloomBuild

/** Global SBBF over `n` seeded long keys (the north-rule job): a
  * shared-filter `BloomBuild.concurrent` build as one task and as four,
  * then one broadcast `bloom_contains` pass over n keys, half members and
  * half non-members. Every build must be byte-identical to a single-thread
  * `core.Sbbf` build of the same keys; every probe must have zero false
  * negatives and an FPR within 1.05x the target.
  */
final class SbbfPart(s: SparkSession, seed: Long, val n: Long, tr: Tracer, ops: Ops) {
  val fpRate = 0.01
  private val base = Gen.base(seed, 1)
  private var build: DataFrame = _
  private var probe: DataFrame = _
  private var lastBuilt: Array[Byte] = _

  val c1 = ArrayBuffer[Double]()
  val c4 = ArrayBuffer[Double]()
  val probes = ArrayBuffer[Double]()

  /** Single-thread reference build, serialized. */
  lazy val referenceBytes: Array[Byte] = {
    val f = Sbbf.empty(n, fpRate)
    var i = 0L
    while (i < n) { f.insertHash(Hashing.hashLong(Gen.key(base, i))); i += 1 }
    f.toBytes
  }

  /** Materializes the build keys and the probe mix in memory. */
  def prepare(): Unit = {
    Seq(build, probe).filter(_ != null).foreach(_.unpersist(blocking = true))
    build = s.range(0L, n, 1L, 8).select(Gen.keyCol(base, col("id")).as("k"))
      .persist(StorageLevel.MEMORY_ONLY)
    // even indices probe member i/2, odd ones non-member n + i/2
    val half = shiftright(col("id"), 1)
    val member = col("id").bitwiseAND(lit(1L)) === 0L
    probe = s.range(0L, n, 1L, 16)
      .select(Gen.keyCol(base, when(member, half).otherwise(half + n)).as("k"), member.as("member"))
      .persist(StorageLevel.MEMORY_ONLY)
    build.count()
    probe.count()
  }

  private def identical(what: String)(f: Sbbf): Boolean = {
    val bytes = f.toBytes
    lastBuilt = bytes
    ops.check(s"$what byte-identical to the single-thread core.Sbbf build",
      java.util.Arrays.equals(bytes, referenceBytes),
      s"${bytes.length} vs ${referenceBytes.length} bytes")
  }

  private def buildAt(tasks: Int): Option[Double] = {
    val keys = if (tasks == 1) build.coalesce(1) else build
    tr.span("phase", s"job.build_c$tasks") {
      ops.timed(s"build_c$tasks")(BloomBuild.concurrent(keys, col("k"), n, fpRate))(
        identical(s"build_c$tasks"))
    }
  }

  /** One broadcast probe pass over the member/non-member mix. */
  def probeOnce(filter: Array[Byte]): Option[Double] = tr.span("phase", "expr.probe") {
    ops.timed("probe") {
      val bc = s.sparkContext.broadcast(filter)
      try probe.select(bloom_contains(bc, col("k")).as("c"), col("member"))
        .agg(
          sum(when(col("member") && !col("c"), 1L).otherwise(0L)).as("fn"),
          sum(when(!col("member") && col("c"), 1L).otherwise(0L)).as("fp"))
        .head()
      finally bc.destroy()
    } { r =>
      val (fn, fp) = (r.getLong(0), r.getLong(1))
      ops.check("probe: zero false negatives", fn == 0L, s"$fn false negatives") &&
        ops.check("probe: FPR <= 1.05 x target", fp <= 1.05 * fpRate * (n / 2),
          s"FPR ${fp.toDouble / (n / 2)} over ${n / 2} non-members")
    }
  }

  /** Two c1 builds, one c4 build and two probes, the same in every
    * round, so each sample follows the same operations. Samples are kept
    * only when `record`.
    */
  def iteration(record: Boolean): Unit = {
    val r1 = Seq.fill(2)(buildAt(1)).flatten
    val r4 = buildAt(4).toSeq
    val rp = Seq.fill(2)(
      probeOnce(if (lastBuilt != null) lastBuilt else referenceBytes)).flatten
    if (record) { c1 ++= r1; c4 ++= r4; probes ++= rp }
  }

  def report(m: Metrics): Unit = {
    m.put("build_c1_keys_per_s", n / Stats.median(c1.toSeq), "keys/s")
    m.put("build_c4_keys_per_s", n / Stats.median(c4.toSeq), "keys/s")
    m.put("probe_keys_per_s", n / Stats.median(probes.toSeq), "keys/s")
  }

  /** Per-layer numbers for this part (traced runs only). */
  def layers(m: Metrics, counters: Counters): Unit = {
    val hashPlan = build.select(abloom_key_hash(col("k")).as("h"))
    counters.countFallbacks(hashPlan.queryExecution.executedPlan)
    val hashSec = (1 to 3).map { _ =>
      Stats.timeSec(hashPlan.agg(bit_xor(col("h"))).head())._2
    }
    m.put("expr.key_hash_long_rows_per_s", n / Stats.median(hashSec), "rows/s")

    val tree = (1 to 2).flatMap { _ =>
      tr.span("phase", "job.tree_agg") {
        ops.timed("tree_agg")(BloomBuild.treeAgg(build, col("k"), n, fpRate))(b =>
          ops.check("treeAgg byte-identical to the single-thread core.Sbbf build",
            java.util.Arrays.equals(b, referenceBytes)))
      }
    }
    m.put("job.tree_agg_keys_per_s", n / Stats.median(tree), "keys/s")

    val k = Kernels.sbbfGlobal(n, fpRate, base, referenceBytes)
    k.foreach { case (name, ns) => m.put(name, ns, "ns") }
    val c1Sec = Stats.median(c1.toSeq)
    m.put("job.scaling_eff_c1_c4", c1Sec / (4 * Stats.median(c4.toSeq)), "ratio")
    m.put("job.kernel_share_c1", n * k("core.sbbf_insert_atomic_ns") / 1e9 / c1Sec, "ratio")
  }
}
