package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions._

/** A lakehouse sketch table: `rows` (group, path-string key) rows over
  * `groups` groups, written as parquet at set-up. A row's group is
  * groups * u^skew for a seeded uniform u: skew 1 gives equal-sized
  * groups, skew 3 a heavy tail (like files per repository). Each
  * iteration aggregates one bloom and one HLL sketch per group and writes
  * them as the sketch table, rolls the table up to ~1000 coarse groups
  * with the union aggregates, and probes every row's key against its
  * group's stored filter with the column form of `bloom_contains`.
  */
final class GroupedPart(s: SparkSession, seed: Long, val rows: Long, val groups: Int,
    skew: Int, dir: String, tr: Tracer, ops: Ops) {
  val cap = 128L
  val fpRate = 0.01
  val hllP = 10
  val coarseDiv: Int = math.max(1, groups / 1000)
  private val groupBase = Gen.base(seed, 2)
  private val keyBase = Gen.base(seed, 3)
  private var input: String = _
  private var table: String = _
  private var tables = 0

  val aggs = ArrayBuffer[Double]()
  val rollups = ArrayBuffer[Double]()
  val probes = ArrayBuffer[Double]()
  var bytesPerGroup = Double.NaN

  /** Distinct groups the generator produces, counted directly. */
  lazy val expectedGroups: Long = {
    val seen = new java.util.BitSet(groups)
    var i = 0L
    while (i < rows) { seen.set(Gen.group(groupBase, i, groups, skew).toInt); i += 1 }
    seen.cardinality().toLong
  }

  /** Writes the input table (one set-up repetition). */
  def prepare(rep: Int): Unit = {
    val path = s"$dir/input-$rep"
    s.range(0L, rows, 1L, 4)
      .select(Gen.groupCol(groupBase, col("id"), groups, skew).as("g"),
        Gen.pathKeyCol(keyBase, col("id")).as("key"))
      .write.parquet(path)
    Option(input).foreach(Files.delete)
    input = path
  }

  private def coarse = expr(s"g div $coarseDiv").as("c")

  /** Direct build over each coarse group from the raw rows. */
  private lazy val rollupReference: Map[Long, (Seq[Byte], Seq[Byte])] =
    s.read.parquet(input).groupBy(coarse)
      .agg(bloom_agg(col("key"), cap, fpRate).as("f"), hll_agg(col("key"), hllP).as("h"))
      .collect().map(r => r.getLong(0) -> (bytes(r, 1), bytes(r, 2))).toMap

  private def bytes(r: Row, i: Int): Seq[Byte] = r.getAs[Array[Byte]](i).toSeq

  def aggregateOnce(out: String): Unit =
    s.read.parquet(input).groupBy(col("g"))
      .agg(bloom_agg(col("key"), cap, fpRate).as("f"), hll_agg(col("key"), hllP).as("h"))
      .write.parquet(out)

  private def aggregate(): Option[Double] = {
    tables += 1
    val out = s"$dir/table-$tables"
    val r = tr.span("phase", "plans.group_agg") {
      ops.timed("group_agg")(aggregateOnce(out)) { _ =>
        val c = s.read.parquet(out).count()
        ops.check("sketch table: exact group count", c == expectedGroups,
          s"$c groups, expected $expectedGroups")
      }
    }
    Option(table).foreach(Files.delete)
    table = out
    r
  }

  private def rollup(): Option[Double] = tr.span("phase", "expr.rollup") {
    ops.timed("rollup") {
      s.read.parquet(table).groupBy(coarse)
        .agg(bloom_union_agg(col("f")).as("f"), graft.functions.hll_union_agg(col("h")).as("h"))
        .collect()
    } { got =>
      val ref = rollupReference
      val bad = got.count(r => !ref.get(r.getLong(0)).contains((bytes(r, 1), bytes(r, 2))))
      ops.check("rollup: bloom and HLL bytes identical to a direct build per coarse group",
        got.length == ref.size && bad == 0,
        s"${got.length} coarse groups (expected ${ref.size}), $bad differ")
    }
  }

  private def probe(): Option[Double] = tr.span("phase", "expr.table_probe") {
    ops.timed("table_probe") {
      s.read.parquet(input)
        .join(s.read.parquet(table).select(col("g"), col("f")), "g")
        .agg(
          sum(when(bloom_contains(col("f"), col("key")), 0L).otherwise(1L)).as("fn"),
          count(lit(1)).as("n"))
        .head()
    } { r =>
      ops.check("table probe: zero false negatives", r.getLong(0) == 0L,
        s"${r.getLong(0)} false negatives") &&
        ops.check("table probe: every row joined its group", r.getLong(1) == rows,
          s"${r.getLong(1)} of $rows rows")
    }
  }

  /** One aggregate, two rollups and one probe, the same in every round,
    * so each sample follows the same operations; the short rollup gets
    * two samples. Samples are kept only when `record`.
    */
  def iteration(record: Boolean): Unit = {
    val a = aggregate().toSeq
    if (bytesPerGroup.isNaN && a.nonEmpty) {
      val r = s.read.parquet(table)
        .agg(sum(octet_length(col("f")) + octet_length(col("h"))), count(lit(1))).head()
      bytesPerGroup = r.getLong(0).toDouble / r.getLong(1)
    }
    val u = Seq.fill(2)(rollup()).flatten
    val p = probe().toSeq
    if (record) { aggs ++= a; rollups ++= u; probes ++= p }
  }

  def report(m: Metrics): Unit = {
    m.put("group_agg_rows_per_s", rows / Stats.median(aggs.toSeq), "rows/s")
    m.put("rollup_sketches_per_s", expectedGroups / Stats.median(rollups.toSeq), "sketches/s")
    m.put("table_probe_rows_per_s", rows / Stats.median(probes.toSeq), "rows/s")
    m.put("sketch_bytes_per_group", bytesPerGroup, "B")
  }

  /** Per-layer numbers for this part (traced runs only). */
  def layers(m: Metrics, c: Counters, aggStages: Seq[StageRec]): Unit = {
    val partial = Option(c.lastAggExecution).toSeq.flatMap(qe => Counters.nodes(qe.executedPlan))
      .collect { case p: graft.plans.SketchPartialAggExec => p }
    m.put("plans.partial_flushes", partial.map(_.metrics("numFlushes").value).sum.toDouble, "count")
    m.put("plans.partial_rows_out", partial.map(_.metrics("numOutputRows").value).sum.toDouble, "count")
    val (mapSide, reduceSide) = aggStages.partition(_.shuffleWriteBytes > 0)
    m.put("plans.partial_stage_task_s", mapSide.map(_.runMs).sum / 1e3, "s")
    m.put("plans.final_stage_task_s", reduceSide.map(_.runMs).sum / 1e3, "s")

    s.conf.set("spark.graft.sketchAgg.enabled", "false")
    val builtin = try (1 to 3).map { i =>
      Stats.timeSec(aggregateOnce(s"$dir/builtin-$i"))._2
    } finally {
      s.conf.unset("spark.graft.sketchAgg.enabled")
      (1 to 3).foreach(i => Files.delete(s"$dir/builtin-$i"))
    }
    m.put("plans.builtin_group_agg_rows_per_s", rows / Stats.median(builtin.drop(1)), "rows/s")

    val keys = s.read.parquet(input).select(col("key")).persist(StorageLevel.MEMORY_ONLY)
    keys.count()
    val hashSec = (1 to 3).map { _ =>
      Stats.timeSec(keys.select(abloom_key_hash(col("key")).as("h")).agg(bit_xor(col("h"))).head())._2
    }
    keys.unpersist(blocking = true)
    m.put("expr.key_hash_utf8_rows_per_s", rows / Stats.median(hashSec), "rows/s")

    Kernels.grouped((rows / expectedGroups).toInt, cap, fpRate, hllP, keyBase)
      .foreach { case (name, ns) => m.put(name, ns, "ns") }
  }
}

object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val all = java.nio.file.Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => java.nio.file.Files.delete(q))
      finally all.close()
    }
  }
}
