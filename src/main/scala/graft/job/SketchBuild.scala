package graft.job

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Cbf, Hll, Kll, MisraGries, Sbbf, Sbf, TDigest}
import graft.expr.{BloomCodec, CbfCodec, CmsCodec, HllCodec, KllCodec, KmvCodec, KmvSampleCodec,
  MgCodec, SbfCodec, SketchCodec, TDigestCodec, WeightedSampleCodec}
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
  /** Single-column projection handed to [[update]]; null rows are skipped
    * before update is called (matching the aggregate expressions' null
    * semantics). */
  def project(valueCol: Column): Column
  def newBuffer(): AnyRef
  /** Fold the projected (non-null) value at ordinal 0 into the buffer. */
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

object PartitionSketcher {

  /** Hashed-long kernels share the upstream `abloom_key_hash` projection —
    * one codegen'd hash per row, `getLong` in the loop. */
  private abstract class HashedKernel extends PartitionSketcher {
    final def project(valueCol: Column): Column = abloom_key_hash(valueCol)
  }

  def bloom(capacity: Long, fpRate: Double): PartitionSketcher = new HashedKernel {
    def newBuffer(): AnyRef = Sbbf.empty(capacity, fpRate)
    def update(b: AnyRef, row: InternalRow): Unit =
      b.asInstanceOf[Sbbf].insertHash(row.getLong(0))
    def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[Sbbf].toBytes
    def codec = BloomCodec
  }

  def hll(p: Int = Hll.DefaultP): PartitionSketcher = new HashedKernel {
    def newBuffer(): AnyRef = graft.core.HllBuffer.empty(p)
    def update(b: AnyRef, row: InternalRow): Unit =
      b.asInstanceOf[graft.core.HllBuffer].addHash(row.getLong(0))
    def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[graft.core.HllBuffer].toBytes
    def codec = HllCodec
  }

  def cms(eps: Double, delta: Double): PartitionSketcher = new HashedKernel {
    def newBuffer(): AnyRef = graft.core.CountMinBuffer.forError(eps, delta)
    def update(b: AnyRef, row: InternalRow): Unit =
      b.asInstanceOf[graft.core.CountMinBuffer].addHash(row.getLong(0))
    def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[graft.core.CountMinBuffer].toBytes
    def codec = CmsCodec
  }

  def tdigest(compression: Double = TDigest.DefaultCompression): PartitionSketcher =
    new PartitionSketcher {
      def project(valueCol: Column): Column = valueCol.cast(DoubleType)
      def newBuffer(): AnyRef = TDigest.empty(compression)
      def update(b: AnyRef, row: InternalRow): Unit =
        b.asInstanceOf[TDigest].add(row.getDouble(0))
      def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[TDigest].toBytes
      def codec = TDigestCodec
    }

  def kll(k: Int = Kll.DefaultK): PartitionSketcher = new PartitionSketcher {
    def project(valueCol: Column): Column = valueCol.cast(DoubleType)
    def newBuffer(): AnyRef = Kll.empty(k)
    def update(b: AnyRef, row: InternalRow): Unit =
      b.asInstanceOf[Kll].add(row.getDouble(0))
    def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[Kll].toBytes
    def codec = KllCodec
  }

  /** Insert-only counting-filter build (deletes happen at query time via
    * `cbf_agg` with weights; a resumable BUILD is inserts). */
  def cbf(capacity: Long, fpRate: Double): PartitionSketcher = new HashedKernel {
    def newBuffer(): AnyRef = Cbf.empty(capacity, fpRate)
    def update(b: AnyRef, row: InternalRow): Unit =
      b.asInstanceOf[Cbf].insertHash(row.getLong(0))
    def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[Cbf].toBytes
    def codec = CbfCodec
  }

  /** Scalable-filter build: partials grow stages independently; the
    * union aggregate's eval compacts to the canonical ABSF form, so the
    * canonical-merge-order guarantee carries the byte-determinism. */
  def sbf(initialCapacity: Long, fp0: Double): PartitionSketcher = new HashedKernel {
    def newBuffer(): AnyRef = Sbf.empty(initialCapacity, fp0)
    def update(b: AnyRef, row: InternalRow): Unit =
      b.asInstanceOf[Sbf].addHash(row.getLong(0))
    def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[Sbf].toBytes
    def codec = SbfCodec
  }

  /** Distinct-sample-with-payload build: like [[kmv]] but each retained
    * key hash carries a bounded string PREVIEW of the value. The
    * projection is a (hash, preview) struct, null'd when the value is
    * null so the build's null-skip applies; the wire is content-
    * canonical (deterministic payload tie rule), so resume byte-identity
    * holds like every other family.
    */
  def kmvSample(
      k: Int = graft.core.Kmv.DefaultK,
      previewChars: Int = 256): PartitionSketcher = {
    require(previewChars >= 1,
      s"previewChars must be >= 1, got $previewChars")
    new PartitionSketcher {
    def project(valueCol: Column): Column =
      when(valueCol.isNull, lit(null))
        .otherwise(struct(
          abloom_key_hash(valueCol).as("h"),
          substring(valueCol.cast(StringType), 1, previewChars).as("p")))
    def newBuffer(): AnyRef = graft.core.KmvSample.empty(k)
    def update(b: AnyRef, row: InternalRow): Unit = {
      val s = row.getStruct(0, 2)
      // copy() for ownership: the UTF8String can alias a reused buffer
      b.asInstanceOf[graft.core.KmvSample]
        .add(s.getLong(0), s.getUTF8String(1).copy().getBytes)
    }
    def toBytes(b: AnyRef): Array[Byte] =
      b.asInstanceOf[graft.core.KmvSample].toBytes
    def codec = KmvSampleCodec
    }
  }

  /** WEIGHTED distinct-sample build ([[graft.core.WeightedSample]],
    * A-RES): like [[kmvSample]] but retention is by priority
    * u(hash)^(1/weight). `weight` is a DRIVER-SIDE plan fragment
    * (@transient — `project` runs on the driver only; executors never
    * touch the field). Rows with a null value or an invalid weight
    * (null, NaN, infinite, or below [[graft.core.WeightedSample.MinWeight]])
    * are nulled in the projection,
    * matching the aggregate expression's skip semantics; the wire is
    * content-canonical, so resume byte-identity holds like every other
    * family.
    */
  def weightedSample(
      weight: Column,
      k: Int = graft.core.Kmv.DefaultK,
      previewChars: Int = 256): PartitionSketcher = {
    require(previewChars >= 1,
      s"previewChars must be >= 1, got $previewChars")
    new WeightedSampleKernel(weight, k, previewChars)
  }

  private final class WeightedSampleKernel(
      @transient private val weight: Column,
      k: Int,
      previewChars: Int) extends PartitionSketcher {
    def project(valueCol: Column): Column = {
      val w = weight.cast(DoubleType)
      // isnan is explicit: Spark's NaN ordering makes NaN < x FALSE, so
      // the range test alone would admit NaN
      when(valueCol.isNull || w.isNull || isnan(w) ||
          w < lit(graft.core.WeightedSample.MinWeight) ||
          w === lit(Double.PositiveInfinity), lit(null))
        .otherwise(struct(
          abloom_key_hash(valueCol).as("h"),
          w.as("w"),
          substring(valueCol.cast(StringType), 1, previewChars).as("p")))
    }
    def newBuffer(): AnyRef = graft.core.WeightedSample.empty(k)
    def update(b: AnyRef, row: InternalRow): Unit = {
      val s = row.getStruct(0, 3)
      // copy() for ownership: the UTF8String can alias a reused buffer
      b.asInstanceOf[graft.core.WeightedSample]
        .add(s.getLong(0), s.getDouble(1), s.getUTF8String(2).copy().getBytes)
    }
    def toBytes(b: AnyRef): Array[Byte] =
      b.asInstanceOf[graft.core.WeightedSample].toBytes
    def codec = WeightedSampleCodec
  }

  /** Bottom-k/theta build: the state is a canonical set, so tree and
    * flat merges are byte-equal like the cell-wise families. */
  def kmv(k: Int = graft.core.Kmv.DefaultK): PartitionSketcher = new HashedKernel {
    def newBuffer(): AnyRef = graft.core.Kmv.empty(k)
    def update(b: AnyRef, row: InternalRow): Unit =
      b.asInstanceOf[graft.core.Kmv].add(row.getLong(0))
    def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[graft.core.Kmv].toBytes
    def codec = KmvCodec
  }

  def misraGries(k: Int): PartitionSketcher = new PartitionSketcher {
    def project(valueCol: Column): Column = valueCol.cast(StringType)
    def newBuffer(): AnyRef = MisraGries.empty(k)
    def update(b: AnyRef, row: InternalRow): Unit =
      b.asInstanceOf[MisraGries].add(row.getUTF8String(0)) // no String alloc
    def toBytes(b: AnyRef): Array[Byte] = b.asInstanceOf[MisraGries].toBytes
    def codec = MgCodec
  }
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
    val projected = df.select(sketcher.project(valueCol).as("v"))
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
      val rows = buildPartitions(spark, projected, sketcher, batch)
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
          if (!row.isNullAt(0)) { sketcher.update(buf, row); n += 1 }
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
