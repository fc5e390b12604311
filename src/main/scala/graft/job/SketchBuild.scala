package graft.job

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Hll, Kll, Kmv, TDigest, WeightedSample}
import graft.expr.{BloomKernel, CbfKernel, CmsKernel, HllKernel, KllKernel, KmvKernel, KmvSampleKernel,
  MgKernel, Params, SbfKernel, SketchCodec, SketchKernel, TDigestKernel, WeightedSampleKernel}
import graft.functions._

/** A per-partition sketch kernel for [[SketchBuild]]: how to project the
  * input column, fold a partition's rows into a fresh buffer, serialize
  * the partial, and union the partials declaratively.
  *
  * Every graft sketch is mergeable (SURVEY.md §2.5 laws), so any of them
  * can run the reference's checkpointed-resumable build contract
  * (`/root/reference/README.md` "merge partial filters built in
  * parallel") — not just the Bloom filter.
  */
trait PartitionSketcher extends Serializable {
  /** The columns handed to [[update]], one per kernel input; rows with a
    * null column are skipped before update is called (matching the
    * aggregate expressions' null semantics). */
  def project(valueCol: Column): Seq[Column]
  def newBuffer(): AnyRef
  /** Fold the projected (non-null) columns into the buffer. */
  def update(buffer: AnyRef, row: InternalRow): Unit
  def toBytes(buffer: AnyRef): Array[Byte]
  /** The family's wire codec: parses, merges and canonicalizes the
    * serialized partials [[toBytes]] writes. */
  def codec: SketchCodec[_ <: AnyRef]
  /** Declarative union aggregate over serialized partials. */
  final def unionAgg(sketches: Column): Column = union_agg(sketches, codec)
  /** Pairwise serialized merge — the task-side kernel of
    * [[SketchBuild.merge]]'s tree mode. Safe in any tree shape: no
    * family canonicalizes mid-tree (see [[finalizeBytes]]). */
  final def mergeBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = codec.mergeBytes(a, b)
  /** Canonicalization applied ONCE to a tree merge's root (identity for
    * most families; the scalable filter compacts here because stage
    * compaction mid-tree is not confluent). */
  final def finalizeBytes(bytes: Array[Byte]): Array[Byte] = codec.finishBytes(bytes)
}

/** Each sketcher is a family's build kernel plus a projection of the value
  * column onto the kernel's inputs. Hashed kernels share the upstream
  * `abloom_key_hash` projection — one codegen'd hash per row, `getLong`
  * in the loop. The wire is content-canonical for every family, so
  * resume byte-identity holds for all of them.
  */
object PartitionSketcher {

  // `projection` builds plan fragments on the driver only: executors
  // never call `project`, and a captured Column need not serialize
  private final class Kernel[B <: AnyRef](
      kernel: SketchKernel[B], params: Params, @transient projection: Column => Seq[Column])
    extends PartitionSketcher {
    def project(valueCol: Column): Seq[Column] = projection(valueCol)
    def newBuffer(): AnyRef = kernel.newBuffer(params)
    def update(b: AnyRef, row: InternalRow): Unit = kernel.updateProjected(b.asInstanceOf[B], row)
    def toBytes(b: AnyRef): Array[Byte] = kernel.buffer.toBytes(b.asInstanceOf[B])
    def codec: SketchCodec[_ <: AnyRef] = kernel.codec
  }

  private def hashed(kernel: SketchKernel[_ <: AnyRef], params: Any*): PartitionSketcher =
    new Kernel(kernel, Params(params: _*), c => Seq(abloom_key_hash(c)))

  private def doubles(kernel: SketchKernel[_ <: AnyRef], params: Any*): PartitionSketcher =
    new Kernel(kernel, Params(params: _*), c => Seq(c.cast(DoubleType)))

  /** A bounded string PREVIEW of the value (null iff the value is). */
  private def previewOf(previewChars: Int): Column => Column = {
    require(previewChars >= 1, s"previewChars must be >= 1, got $previewChars")
    c => substring(c.cast(StringType), 1, previewChars)
  }

  def bloom(capacity: Long, fpRate: Double): PartitionSketcher = hashed(BloomKernel, capacity, fpRate)

  def hll(p: Int = Hll.DefaultP): PartitionSketcher = hashed(HllKernel, p)

  def cms(eps: Double, delta: Double): PartitionSketcher = hashed(CmsKernel, eps, delta)

  def tdigest(compression: Double = TDigest.DefaultCompression): PartitionSketcher =
    doubles(TDigestKernel, compression)

  def kll(k: Int = Kll.DefaultK): PartitionSketcher = doubles(KllKernel, k)

  /** Insert-only counting-filter build (deletes happen at query time via
    * `cbf_agg` with weights; a resumable BUILD is inserts). */
  def cbf(capacity: Long, fpRate: Double): PartitionSketcher =
    new Kernel(CbfKernel, Params(capacity, fpRate), c => Seq(abloom_key_hash(c), lit(1)))

  /** Scalable-filter build: partials grow stages independently; the
    * union aggregate's eval compacts to the canonical ABSF form, so the
    * canonical-merge-order guarantee carries the byte-determinism. */
  def sbf(initialCapacity: Long, fp0: Double): PartitionSketcher =
    hashed(SbfKernel, initialCapacity, fp0)

  /** Distinct-sample-with-payload build: like [[kmv]] but each retained
    * key hash carries a bounded string PREVIEW of the value (deterministic
    * payload tie rule). */
  def kmvSample(k: Int = Kmv.DefaultK, previewChars: Int = 256): PartitionSketcher = {
    val preview = previewOf(previewChars)
    new Kernel(KmvSampleKernel, Params(k), c => Seq(abloom_key_hash(c), preview(c)))
  }

  /** WEIGHTED distinct-sample build ([[graft.core.WeightedSample]],
    * A-RES): like [[kmvSample]] but retention is by priority
    * u(hash)^(1/weight). Rows with a null value or an invalid weight
    * (null, NaN, infinite, or below [[graft.core.WeightedSample.MinWeight]])
    * are skipped, and excluded from the lineage row counts, matching the
    * aggregate expression's skip semantics.
    */
  def weightedSample(
      weight: Column,
      k: Int = Kmv.DefaultK,
      previewChars: Int = 256): PartitionSketcher = {
    val preview = previewOf(previewChars)
    new Kernel(WeightedSampleKernel, Params(k), { c =>
      val w = weight.cast(DoubleType)
      // isnan is explicit: Spark's NaN ordering makes NaN < x FALSE, so
      // the range test alone would admit NaN
      val valid = when(isnan(w) || w < lit(WeightedSample.MinWeight) ||
        w === lit(Double.PositiveInfinity), lit(null)).otherwise(w)
      Seq(abloom_key_hash(c), valid, preview(c))
    })
  }

  /** Bottom-k/theta build: the state is a canonical set, so tree and
    * flat merges are byte-equal like the cell-wise families. */
  def kmv(k: Int = Kmv.DefaultK): PartitionSketcher = hashed(KmvKernel, k)

  def misraGries(k: Int): PartitionSketcher =
    new Kernel(MgKernel, Params(k), c => Seq(c.cast(StringType)))
}

/** Checkpointed, resumable sketch build with per-partition lineage +
  * metrics — [[BloomBuild.partitioned]]'s contract generalized to every
  * mergeable graft sketch (HLL, count-min, t-digest, KLL, Misra-Gries,
  * and the Bloom family itself).
  *
  * Resumability model: each input partition contributes exactly one
  * lineage row (partition_id, sketch bytes, rows, build_ms,
  * keys_per_sec), appended to the checkpoint as its batch completes. A
  * resume reads completed partition ids, builds only the missing ones,
  * and merges ALL checkpointed partials. Replayed partitions (a batch
  * that crashed after compute but mid-append) are removed by a
  * partition_id dedup before the merge, so correctness needs only
  * per-partition determinism, not merge idempotence — which is what
  * makes the generalization sound for non-idempotent merges (count-min
  * adds, t-digest weights).
  *
  * Determinism: the final merge sorts partials by partition_id into a
  * single partition, giving every run — interrupted anywhere, resumed
  * any number of times — one canonical merge order and therefore
  * byte-identical output for every sketch family (the same canonical-
  * order discipline as `Sbf.toBytes`, see CLAUDE.md round 3).
  *
  * At 100 TB: the lineage table is O(partitions) rows of O(sketch)
  * bytes; `batchSize` bounds lost work per failure; the merge input is
  * O(partitions × sketch) — use [[merge]]'s `groups` tree mode past
  * ~10^4 partials so no single task folds them all.
  */
object SketchBuild {

  val checkpointSchema: StructType = BloomBuild.checkpointSchema

  /** Build (or resume) the checkpointed sketch over `valueCol`. */
  def resume(
      df: DataFrame,
      valueCol: Column,
      sketcher: PartitionSketcher,
      checkpointDir: String,
      batchSize: Int = 64): Array[Byte] = {
    require(batchSize > 0, "batchSize must be positive")
    val spark = df.sparkSession
    // ONE physical plan: partition count and every runJob call use the
    // same RDD object, so (a) the count can never disagree with the
    // executed plan (AQE may size the projected plan differently than
    // df.rdd's), and (b) Spark reuses the upstream shuffle map output
    // across batches instead of re-running it per batch.
    val cols = sketcher.project(valueCol)
    val projected = df.select(cols.zipWithIndex.map { case (c, i) => c.as(s"v$i") }: _*)
      .queryExecution.toRdd
    val nParts = projected.getNumPartitions
    checkLayout(spark, checkpointDir, nParts)
    val done: Set[Int] =
      if (checkpointExists(spark, checkpointDir))
        lineage(spark, checkpointDir)
          .select("partition_id").collect().map(_.getInt(0)).toSet
      else Set.empty
    val todo = (0 until nParts).filterNot(done)

    todo.grouped(batchSize).foreach { batch =>
      val rows = buildPartitions(spark, projected, cols.size, sketcher, batch)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), checkpointSchema)
        .write.mode(SaveMode.Append).parquet(checkpointDir)
    }
    merge(spark, sketcher, checkpointDir)
  }

  /** Canonical-order merge of every checkpointed partial.
    *
    * `groups <= 1` (default): one task folds all partials in ascending
    * partition order — the canonical order every byte-determinism
    * property is stated against. Fine up to ~10^4 partials.
    *
    * `groups > 1`: two-level tree for 10^5+ partials (a single task
    * folding 100k x 100 KB partials is the scale bottleneck SCALE.md
    * §1 names). Partials are split into `groups` CONTIGUOUS
    * partition-id ranges (an explicit partitioner — never a sampling
    * RangePartitioner, whose boundaries vary run to run); each range
    * folds in ascending order in its own task, the driver folds the
    * group results in range order, and [[PartitionSketcher.finalizeBytes]]
    * canonicalizes once at the root. Deterministic for every family
    * (fixed tree shape + fixed order); byte-EQUAL to the flat fold for
    * the cell-wise merges (bloom/cbf/hll/cms) and for the SBF (stage
    * concat is associative, compaction deferred to the root); t-digest
    * and KLL tree bytes differ from flat (their merges are not
    * byte-associative) but remain run-to-run deterministic with the
    * same error bounds.
    */
  def merge(
      spark: SparkSession,
      sketcher: PartitionSketcher,
      checkpointDir: String,
      groups: Int = 1): Array[Byte] = {
    if (groups <= 1)
      lineage(spark, checkpointDir)
        .dropDuplicates("partition_id")
        .repartition(1)
        .sortWithinPartitions("partition_id")
        .agg(sketcher.unionAgg(col("filter")))
        .head().getAs[Array[Byte]](0)
    else {
      // persisted: the partials are read ONCE from parquet (the max-pid
      // action and the tree shuffle both hit the cache — at the 10^5-
      // partial scale this mode exists for, a second full scan of
      // O(partitions x sketch) bytes would double the merge's IO)
      val pairs = lineage(spark, checkpointDir)
        .dropDuplicates("partition_id")
        .select(col("partition_id"), col("filter"))
        .rdd.map(r => (r.getInt(0), r.getAs[Array[Byte]](1)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val maxPid = pairs.map(_._1).fold(-1)(math.max)
        require(maxPid >= 0, s"no checkpointed partials under $checkpointDir")
        val nParts = maxPid + 1
        val partitioner = new org.apache.spark.Partitioner {
          override def numPartitions: Int = groups
          override def getPartition(key: Any): Int =
            (key.asInstanceOf[Int].toLong * groups / nParts).toInt
        }
        val groupResults = pairs
          .repartitionAndSortWithinPartitions(partitioner)
          .mapPartitionsWithIndex { (g, it) =>
            it.map(_._2).reduceOption(sketcher.mergeBytes)
              .map(b => Iterator.single((g, b))).getOrElse(Iterator.empty)
          }
          .collect().sortBy(_._1).map(_._2)
        sketcher.finalizeBytes(groupResults.reduce(sketcher.mergeBytes))
      } finally pairs.unpersist(blocking = false)
    }
  }

  /** Per-partition lineage + metrics of a checkpointed build. */
  def lineage(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.schema(checkpointSchema).parquet(checkpointDir)

  private def buildPartitions(
      spark: SparkSession,
      projected: org.apache.spark.rdd.RDD[InternalRow],
      width: Int,
      sketcher: PartitionSketcher,
      partitionIds: Seq[Int]): Seq[Row] = {
    val results = spark.sparkContext.runJob(
      projected,
      (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => {
        val t0 = System.nanoTime()
        val buf = sketcher.newBuffer()
        var n = 0L
        while (it.hasNext) {
          val row = it.next()
          var i = 0
          while (i < width && !row.isNullAt(i)) i += 1
          if (i == width) { sketcher.update(buf, row); n += 1 }
        }
        val ms = (System.nanoTime() - t0) / 1000000L
        (ctx.partitionId(), sketcher.toBytes(buf), n, ms)
      },
      partitionIds)
    results.toSeq.map { case (pid, bytes, n, ms) =>
      Row(pid, bytes, n, ms, if (ms > 0) n * 1000.0 / ms else 0.0)
    }
  }

  private def checkpointExists(spark: SparkSession, dir: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && fs.listStatus(path).nonEmpty
  }

  /** Partition-layout guard: lineage rows are only addressable by
    * partition_id, so a resume against an input that partitions
    * DIFFERENTLY (a compacted file, a changed maxPartitionBytes, a new
    * shuffle parallelism) would silently merge mismatched partials —
    * rows double-counted or missing with no error. The first run writes
    * the partition count to a `_layout` sidecar; every resume validates
    * against it and fails fast on mismatch.
    */
  private def checkLayout(spark: SparkSession, dir: String, nParts: Int): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir, "_layout")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val in = fs.open(path)
      val recorded = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      require(recorded.toInt == nParts,
        s"checkpoint at $dir was built over $recorded input partitions but the " +
          s"current input has $nParts — resuming would merge mismatched partials; " +
          "restore the original partitioning or start a fresh checkpoint dir")
    } else {
      val out = fs.create(path, true)
      try out.write(nParts.toString.getBytes("UTF-8")) finally out.close()
    }
  }
}
