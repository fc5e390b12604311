package graft.job

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.{Cbf, CountMin, Hll, Kll, MisraGries, Sbbf, Sbf, TDigest}

/** The generalized checkpointed build must (a) resume from any partial
  * checkpoint to a byte-identical final sketch, (b) produce estimates
  * within each family's published bound, and (c) keep the Bloom path
  * byte-identical to the sequential reference build.
  */
class SketchBuildSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private val n = 20000L
  private def longs = spark.range(0L, n, 1L, 7).toDF("id")
  private def tmp() = Files.createTempDirectory("graft-skb").toString + "/cp"

  private def resumeIsByteStable(sketcher: PartitionSketcher, valueCol: String): Unit = {
    val full = tmp()
    val bytes = SketchBuild.resume(longs, col(valueCol), sketcher, full, batchSize = 3)
    // uninterrupted second run over the complete checkpoint: no rebuild,
    // identical bytes
    assert(java.util.Arrays.equals(
      SketchBuild.resume(longs, col(valueCol), sketcher, full), bytes))

    // interrupted run: seed a new checkpoint with a strict subset of the
    // full run's lineage, resume, and require byte-identity
    val partialDir = tmp()
    SketchBuild.lineage(spark, full)
      .filter(col("partition_id").isin(0, 2, 5))
      .write.parquet(partialDir)
    val resumed = SketchBuild.resume(longs, col(valueCol), sketcher, partialDir, batchSize = 2)
    assert(java.util.Arrays.equals(resumed, bytes),
      "resume from partial checkpoint must be byte-identical")
    val pids = SketchBuild.lineage(spark, partialDir)
      .select("partition_id").collect().map(_.getInt(0)).sorted
    assert(pids.toSeq === (0 until 7))
  }

  test("bloom: checkpointed build matches the sequential reference filter") {
    val dir = tmp()
    val bytes = SketchBuild.resume(
      longs, col("id"), PartitionSketcher.bloom(n, 0.01), dir, batchSize = 3)
    val ref = Sbbf.empty(n, 0.01)
    (0L until n).foreach(ref.add)
    assert(java.util.Arrays.equals(bytes, ref.toBytes))
    val lin = SketchBuild.lineage(spark, dir).collect()
    assert(lin.length === 7)
    assert(lin.map(_.getLong(2)).sum === n)
  }

  test("hll: resume byte-stable and estimate within 3 sigma") {
    val sk = PartitionSketcher.hll()
    resumeIsByteStable(sk, "id")
    val est = Hll.fromBytes(
      SketchBuild.resume(longs, col("id"), sk, tmp())).estimate
    val err = Hll.empty().relativeError
    assert(math.abs(est - n) <= 3 * err * n, s"estimate $est vs $n")
  }

  test("kmv: resume byte-stable; saturated estimate within 4 RSE") {
    val sk = PartitionSketcher.kmv(256)
    resumeIsByteStable(sk, "id")
    val kmv = graft.core.Kmv.fromBytes(
      SketchBuild.resume(longs, col("id"), sk, tmp()))
    assert(kmv.isSaturated)
    assert(math.abs(kmv.estimate - n) <= 4.0 / math.sqrt(254.0) * n,
      s"estimate ${kmv.estimate} vs $n")
  }

  test("kmvSample: resume byte-stable; sample is the true bottom-k with previews") {
    val sk = PartitionSketcher.kmvSample(256, previewChars = 4)
    resumeIsByteStable(sk, "id")
    val s = graft.core.KmvSample.fromBytes(
      SketchBuild.resume(longs, col("id"), sk, tmp()))
    assert(s.isSaturated && s.size === 256)
    // the retained payloads are exactly the previews of the 256 keys
    // with the smallest hashes, recomputed independently
    val expect = (0L until n)
      .map(i => graft.core.Hashing.hashLong(i) -> i.toString.take(4))
      .sortWith((a, b) => java.lang.Long.compareUnsigned(a._1, b._1) < 0)
      .take(256).map(_._2)
    assert(s.payloads.map(p => new String(p, "UTF-8")).toSeq === expect)
  }

  test("weightedSample: resume byte-stable; retained set is the true top-k by priority") {
    val wcol = (col("id") % 97 + 1).cast("double")
    val sk = PartitionSketcher.weightedSample(wcol, 256, previewChars = 4)
    resumeIsByteStable(sk, "id")
    val s = graft.core.WeightedSample.fromBytes(
      SketchBuild.resume(longs, col("id"), sk, tmp()))
    assert(s.isSaturated && s.size === 256)
    // independent recompute of the top-256 priorities
    val expect = (0L until n)
      .map(i => (graft.core.Hashing.hashLong(i), (i % 97 + 1).toDouble))
      .sortWith { case ((h1, w1), (h2, w2)) =>
        val p1 = graft.core.WeightedSample.priority(h1, w1)
        val p2 = graft.core.WeightedSample.priority(h2, w2)
        p1 > p2 || (p1 == p2 && java.lang.Long.compareUnsigned(h1, h2) > 0)
      }
      .take(256).map(_._1).toSet
    assert(s.entries.map(_._1).toSet === expect)
    // invalid weights null the projection (skipped, not an error)
    val skBad = PartitionSketcher.weightedSample(
      when(col("id") < 10, lit(Double.NaN))
        .when(col("id") < 20, lit(0.0))
        .when(col("id") < 30, lit(null).cast("double"))
        .otherwise(lit(1.0)), 32768, previewChars = 4)
    val sb = graft.core.WeightedSample.fromBytes(
      SketchBuild.resume(longs, col("id"), skBad, tmp()))
    assert(sb.size === (n - 30).toInt)
  }

  test("cms: resume byte-stable and point queries within eps*N over-count") {
    val sk = PartitionSketcher.cms(0.01, 0.01)
    resumeIsByteStable(sk, "id")
    val cms = CountMin.fromBytes(SketchBuild.resume(longs, col("id"), sk, tmp()))
    assert(cms.total === n)
    val h = graft.core.Hashing.hashLong(7L)
    val c = cms.queryHash(h)
    assert(c >= 1L && c <= 1L + cms.errorBound)
  }

  test("tdigest: resume byte-stable and median within 2% rank error") {
    val sk = PartitionSketcher.tdigest()
    resumeIsByteStable(sk, "id")
    val td = TDigest.fromBytes(SketchBuild.resume(longs, col("id"), sk, tmp()))
    assert(td.count === n.toDouble)
    val med = td.quantile(0.5)
    assert(math.abs(med - n / 2.0) <= 0.02 * n, s"median $med")
  }

  test("kll: resume byte-stable and decile ranks within epsilon") {
    val sk = PartitionSketcher.kll()
    resumeIsByteStable(sk, "id")
    val kll = Kll.fromBytes(SketchBuild.resume(longs, col("id"), sk, tmp()))
    assert(kll.count === n)
    (1 to 9).foreach { d =>
      val q = d / 10.0
      val r = kll.rank(kll.quantile(q))
      assert(math.abs(r - q) <= kll.epsilon + 1e-9, s"decile $q rank $r")
    }
  }

  test("misra-gries: resume byte-stable; heavy key bounds contain the truth") {
    // skewed keys: key 'hot' appears ~half the time
    val df = spark.range(0L, n, 1L, 7)
      .select(when(col("id") % 2 === 0, lit("hot"))
        .otherwise(concat(lit("k"), col("id"))).as("k"))
    val sk = PartitionSketcher.misraGries(64)
    val dirA = tmp()
    val a = SketchBuild.resume(df, col("k"), sk, dirA, batchSize = 3)
    val partial = tmp()
    SketchBuild.lineage(spark, dirA)
      .filter(col("partition_id").isin(1, 3)).write.parquet(partial)
    val b = SketchBuild.resume(df, col("k"), sk, partial)
    assert(java.util.Arrays.equals(a, b))
    val mg = MisraGries.fromBytes(a)
    val (lo, hi) = mg.bounds("hot")
    assert(lo <= n / 2 && n / 2 <= hi, s"bounds ($lo,$hi) vs ${n / 2}")
  }

  test("cbf: resume byte-stable; zero FN and exact counts at low load") {
    val sk = PartitionSketcher.cbf(n, 0.01)
    resumeIsByteStable(sk, "id")
    val cbf = Cbf.fromBytes(SketchBuild.resume(longs, col("id"), sk, tmp()))
    (0L until 100L).foreach(k => assert(cbf.contains(k)))
    assert(cbf.count(7L) >= 1L)
  }

  test("sbf: resume byte-stable; zero FN within compound bound") {
    // initial capacity far below n forces stage growth in every partition
    val sk = PartitionSketcher.sbf(1024, 0.001)
    resumeIsByteStable(sk, "id")
    val sbf = Sbf.fromBytes(SketchBuild.resume(longs, col("id"), sk, tmp()))
    assert(sbf.stageCount > 1, "stages must have grown")
    (0L until n by 97L).foreach(k => assert(sbf.contains(k), s"FN at $k"))
  }

  test("tree merge == flat merge for cell-wise families and SBF; deterministic for t-digest") {
    def checkpoint(sk: PartitionSketcher): String = {
      val dir = tmp()
      SketchBuild.resume(longs, col("id"), sk, dir)
      dir
    }
    // cell-wise merges: tree must be byte-EQUAL to the canonical flat fold
    Seq(
      PartitionSketcher.bloom(n, 0.01),
      PartitionSketcher.hll(),
      PartitionSketcher.cms(0.01, 0.01),
      PartitionSketcher.cbf(n, 0.01),
      PartitionSketcher.sbf(1024, 0.001),
      PartitionSketcher.kmv(256),
      PartitionSketcher.weightedSample(
        (col("id") % 97 + 1).cast("double"), 256)).foreach { sk =>
      val dir = checkpoint(sk)
      val flat = SketchBuild.merge(spark, sk, dir)
      val tree = SketchBuild.merge(spark, sk, dir, groups = 3)
      assert(java.util.Arrays.equals(flat, tree), s"tree != flat for $sk")
    }
    // order-sensitive merge: tree bytes are deterministic and the
    // estimate stays within bound
    val td = PartitionSketcher.tdigest()
    val dir = checkpoint(td)
    val t1 = SketchBuild.merge(spark, td, dir, groups = 3)
    val t2 = SketchBuild.merge(spark, td, dir, groups = 3)
    assert(java.util.Arrays.equals(t1, t2))
    val dg = TDigest.fromBytes(t1)
    assert(dg.count === n.toDouble)
    assert(math.abs(dg.quantile(0.5) - n / 2.0) <= 0.02 * n)
  }

  test("resume against a re-partitioned input fails fast (layout guard)") {
    val dir = tmp()
    SketchBuild.resume(longs, col("id"), PartitionSketcher.hll(), dir)
    val e = intercept[IllegalArgumentException] {
      SketchBuild.resume(
        longs.repartition(13), col("id"), PartitionSketcher.hll(), dir)
    }
    assert(e.getMessage.contains("partitions"))
  }

  test("real mid-run crash: job dies in batch 2, resume completes byte-identical") {
    // a kernel that throws while building partition 4 — the resume run
    // with batchSize=2 commits batches {0,1} and {2,3}, then CRASHES in
    // batch {4,5}; a subsequent clean resume must skip the committed
    // partitions and produce bytes identical to an undisturbed build
    class CrashyHll extends PartitionSketcher {
      private val inner = PartitionSketcher.hll()
      def project(c: org.apache.spark.sql.Column) = inner.project(c)
      def newBuffer(): AnyRef = inner.newBuffer()
      def update(b: AnyRef, row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        val ctx = org.apache.spark.TaskContext.get()
        if (ctx != null && ctx.partitionId() == 4)
          throw new RuntimeException("injected failure")
        inner.update(b, row)
      }
      def toBytes(b: AnyRef) = inner.toBytes(b)
      def codec = inner.codec
    }
    val clean = SketchBuild.resume(longs, col("id"), PartitionSketcher.hll(), tmp())
    val dir = tmp()
    val e = intercept[Exception] {
      SketchBuild.resume(longs, col("id"), new CrashyHll, dir, batchSize = 2)
    }
    assert(e.getMessage != null)
    val committed = SketchBuild.lineage(spark, dir)
      .select("partition_id").collect().map(_.getInt(0)).toSet
    assert(committed === Set(0, 1, 2, 3), s"committed $committed")
    val resumed = SketchBuild.resume(longs, col("id"), PartitionSketcher.hll(), dir, batchSize = 2)
    assert(java.util.Arrays.equals(resumed, clean),
      "crash-resumed build must match the undisturbed build")
  }

  test("null values are skipped and excluded from lineage row counts") {
    val df = spark.range(0L, 1000L, 1L, 4)
      .select(when(col("id") % 10 === 0, lit(null)).otherwise(col("id")).as("v"))
    val dir = tmp()
    SketchBuild.resume(df, col("v"), PartitionSketcher.hll(), dir)
    assert(SketchBuild.lineage(spark, dir)
      .agg(sum(col("rows"))).head().getLong(0) === 900L)
  }
}
