package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Hashing

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline;
  *    one scan, no shuffle beyond the final top-k (Spark's takeOrdered-
  *    style ORDER BY + LIMIT is partial-aggregated per partition).
  *  - [[lshTopK]]: random-hyperplane signatures (sign of dot with
  *    deterministic pseudo-random planes) bucket vectors so the scale
  *    path probes only matching buckets; exact re-rank on candidates.
  *    Multiprobe (flip one bit) keeps recall high at 100 TB without
  *    widening the shuffle.
  *  - [[writeIndex]] / [[readIndex]] / [[lshTopKIndexed]]: write-once
  *    persisted bucket index for repeated-query workloads — signatures
  *    are computed once at index time; each query then reads only the
  *    parquet row groups whose bucket range matches its probes (the index
  *    is written sorted by bucket, so min/max stats prune the scan).
  *
  * Plane components derive on the fly from mix64(plane, dim) — no
  * dimension probe, no plane broadcast, reproducible across runs and
  * cluster sizes.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane component in (-1, 1). */
  @inline private[ops] def planeComponent(p: Int, d: Int): Double = {
    val h = Hashing.mix64((p.toLong << 32) ^ d.toLong ^ 0x5afe5eedL)
    h.toDouble / Long.MaxValue.toDouble
  }

  // Executor-side plane cache: plane index -> materialized components up
  // to the largest dim seen. Values are pure functions of (p, d), so the
  // benign put race is idempotent; memory is bounded by the distinct
  // plane indices in use (a few hundred) x dim doubles.
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()

  private[graft] def planeVector(p: Int, dim: Int): Array[Double] = {
    var arr = planeCache.get(p)
    if (arr == null || arr.length < dim) {
      arr = Array.tabulate(dim)(d => planeComponent(p, d))
      planeCache.put(p, arr)
    }
    arr
  }

  @inline private def signBit(vec: Seq[Double], plane: Array[Double]): Boolean = {
    var dot = 0.0
    var d = 0
    val n = vec.length
    while (d < n) { dot += vec(d) * plane(d); d += 1 }
    dot >= 0
  }

  /** LSH signature of a vector: one bit per hyperplane (sign of dot). */
  def signatureKernel(vec: Seq[Double], nPlanes: Int): Long = {
    var sig = 0L
    var p = 0
    while (p < nPlanes) {
      if (signBit(vec, planeVector(p, vec.length))) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** `bits`-bit signature from table-seeded hyperplanes — independent
    * across tables (used by [[Dedup.embeddingPairs]]' multi-table LSH).
    * The plane family for (table, p) is plane index table*131 + p, the
    * same component formula as [[signatureKernel]]'s planes.
    */
  def tableSignature(vec: Seq[Double], table: Int, bits: Int): Long = {
    var sig = 0L
    var p = 0
    while (p < bits) {
      if (signBit(vec, planeVector(table * 131 + p, vec.length))) sig |= (1L << p)
      p += 1
    }
    sig
  }

  private def toDoubleArr(vecCol: Column): Column =
    transform(vecCol, x => x.cast("double"))

  /** Cosine-ready vector column: float/double arrays probe the native
    * vec_cosine kernel directly (no cast-transform HOF); any OTHER
    * numeric element type keeps the old element-wise double cast so
    * integer/decimal embedding columns still work (review-pass fix for
    * the kernel's narrower type check).
    */
  private def cosineReady(df: DataFrame, vecCol: String): Column =
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType |
        org.apache.spark.sql.types.FloatType, _) => col(vecCol)
      case _ => toDoubleArr(col(vecCol))
    }

  /** Exact cosine top-k against a query vector. Deterministic ordering:
    * (cosine desc, id asc).
    */
  def bruteForceTopK(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int): DataFrame = {
    val qLit = typedLit(query)
    df.select(
        col(idCol).cast("long").as("id"),
        // vec_cosine takes float/double arrays natively — no HOF cast
        Dedup.cosine(cosineReady(df, vecCol), qLit).as("cos"))
      .withColumn("cosine", round(col("cos"), 6))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
      .select(col("id"), col("cosine"))
  }

  /** Quantized top-k by approximate dot product: both sides int8-quantized
    * (`vec8_quantize`: 4x/8x smaller than the float/double arrays — the
    * scan-bytes and memory lever for a 100 TB embedding table), ranked by
    * `(scale_q * scale_c) * int_dot` with ties broken by neighbor id.
    * Self-pairs (equal ids) are excluded. Every arithmetic step is
    * engine-reproducible (max-based scale, exact integer dot, two IEEE
    * multiplies), so an independent engine recomputes the identical
    * top-k — the property the `ann_quantized_topk` oracle checks.
    *
    * Scale shape: the query side broadcasts (small by construction); the
    * corpus side is ONE scan of the quantized table — compose with the
    * IVF/LSH bucketed paths when a full scan per query batch is too much
    * (quantization is the compression lever, not the pruning lever).
    */
  def quantizedTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      k: Int,
      maxQueryRows: Long = 100000L): DataFrame = {
    requireQueryRows(queries, maxQueryRows, "quantizedTopK")
    val cq = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      graft.functions.vec8_quantize(col(vecCol)).as("cb"))
    val qq = queries.select(col(idCol).cast("long").as("query_id"),
      graft.functions.vec8_quantize(col(vecCol)).as("qb"))
    val scored = cq.crossJoin(broadcast(qq))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("qdot", graft.functions.vec8_dot(col("qb"), col("cb")))
      .withColumn("score",
        (graft.functions.vec8_scale(col("qb")) * graft.functions.vec8_scale(col("cb"))) *
          col("qdot"))
    // bounded per-partition top-k (topk_agg partial mode keeps k rows per
    // (query, partition)) + a k-sized final merge per query — never a
    // row_number() window, which would funnel ALL of a query's scored
    // corpus rows into one task and sort them (the 100 TB scale-killer)
    perQueryTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"), col("qdot"))
  }

  /** (query_id, score, neighbor_id[, qdot]) -> the k best rows per query
    * by (score DESC, neighbor_id ASC), via the bounded [[graft.functions
    * .topk_agg]] aggregate. Output: (query_id, neighbor_id, score, qdot).
    */
  private def perQueryTopK(scored: DataFrame, k: Int): DataFrame = {
    val payload =
      if (scored.columns.contains("qdot")) col("qdot") else lit(0L)
    scored.groupBy(col("query_id"))
      .agg(graft.functions.topk_agg(
        col("score"), col("neighbor_id"), payload, k).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e.id").as("neighbor_id"),
        col("e.score").as("score"), col("e.payload").as("qdot"))
  }

  /** Broadcast guard shared by every batched serving path: the query
    * side is collected to a broadcast relation, so a silently-huge query
    * table must fail loudly, not OOM the driver.
    */
  private def requireQueryRows(
      queries: DataFrame, maxQueryRows: Long, fn: String): Unit = {
    val nQueries = queries.count()
    require(nQueries <= maxQueryRows,
      s"$fn broadcasts the query side: $nQueries query rows exceed " +
        s"maxQueryRows=$maxQueryRows — chunk the query table")
  }

  /** The ONE multiprobe policy, shared by every batched LSH path: a
    * query probes its own bucket plus all `nPlanes` one-bit flips — the
    * distributed mirror of the driver-side [[probeBuckets]]. Changing
    * the policy here changes float-batch and quantized-batch serving
    * together (they must stay per-query identical to the single-query
    * paths).
    */
  private def multiprobeBuckets(qsig: Column, nPlanes: Int): Column =
    explode(concat(
      array(qsig),
      transform(sequence(lit(0), lit(nPlanes - 1)),
        b => qsig.bitwiseXOR(
          call_function("shiftleft", lit(1L), b.cast("int"))))))

  /** Bucket table: (id, embedding, bucket) for `nPlanes`-bit hyperplane
    * signatures. One distributed pass, no driver-side jobs. `nPlanes`
    * <= 24 keeps bucket count (2^n) manageable; at larger corpora raise
    * it and add multiprobe.
    */
  def lshBuckets(df: DataFrame, vecCol: String, idCol: String, nPlanes: Int): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol),
      // float or double arrays probe directly (no cast transform)
      graft.functions.lsh_signature(col(vecCol), nPlanes).as("bucket"))

  /** Probe buckets for a query: the query's own bucket plus all one-bit
    * flips (multiprobe).
    */
  def probeBuckets(query: Seq[Double], nPlanes: Int): Seq[Long] = {
    val qSig = signatureKernel(query, nPlanes)
    qSig +: (0 until nPlanes).map(b => qSig ^ (1L << b))
  }

  /** ANN top-k via hyperplane LSH with 1-bit multiprobe, exact re-rank on
    * the candidate set. Returns the same schema as [[bruteForceTopK]].
    */
  def lshTopK(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int,
      nPlanes: Int = 12): DataFrame =
    rerank(lshBuckets(df, vecCol, idCol, nPlanes)
      .filter(col("bucket").isin(probeBuckets(query, nPlanes): _*)),
      vecCol, query, k)

  private def rerank(candidates: DataFrame, vecCol: String, query: Seq[Double], k: Int): DataFrame = {
    val qLit = typedLit(query)
    candidates
      .select(col("id"), Dedup.cosine(cosineReady(candidates, vecCol), qLit).as("cos"))
      .withColumn("cosine", round(col("cos"), 6))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
      .select(col("id"), col("cosine"))
  }

  /** Write-once persisted LSH index: (id, embedding, bucket) parquet,
    * repartitioned and sorted by bucket so each file's row groups carry
    * tight bucket min/max stats — a query's `bucket IN (probes)` predicate
    * then prunes the scan to the few matching row groups instead of
    * rescanning (and re-signing) the whole corpus per query.
    */
  def writeIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nPlanes: Int,
      path: String,
      partitions: Int = 0): Unit = {
    val buckets = lshBuckets(df, vecCol, idCol, nPlanes)
    val p = if (partitions > 0) partitions
      else math.max(1, df.rdd.getNumPartitions)
    buckets.repartitionByRange(p, col("bucket"))
      .sortWithinPartitions("bucket")
      .write.mode("overwrite").parquet(path)
  }

  def readIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** [[writeIndex]] with int8-QUANTIZED bucket vectors: the index stores
    * a `vec8` blob (scale + codes, ~4x smaller than the float array)
    * instead of the raw vector column — the same serving-footprint lever
    * as [[writeIvfIndexQuantized]], composed with the bucket row-group
    * pruning. Serve with [[lshTopKQuantized]] / [[lshTopKQuantizedBatch]].
    */
  def writeIndexQuantized(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nPlanes: Int,
      path: String,
      partitions: Int = 0): Unit = {
    val buckets = lshBuckets(df, vecCol, idCol, nPlanes)
      .withColumn("vec8", graft.functions.vec8_quantize(col(vecCol)))
      .drop(vecCol)
    val p = if (partitions > 0) partitions
      else math.max(1, df.rdd.getNumPartitions)
    buckets.repartitionByRange(p, col("bucket"))
      .sortWithinPartitions("bucket")
      .write.mode("overwrite").parquet(path)
  }

  /** ANN top-k over a QUANTIZED LSH index ([[writeIndexQuantized]]):
    * bucket probes push down to the parquet scan, candidates ranked by
    * the approximate dot `(scale_q * scale_m) * int_dot` (exact integer
    * dots, deterministic ties by id). The query is quantized driver-side
    * with the same kernel, so executor scoring reads only int8 codes.
    */
  def lshTopKQuantized(
      index: DataFrame,
      query: Seq[Double],
      k: Int,
      nPlanes: Int = 12): DataFrame = {
    val qBlob = graft.expr.VectorKernels.quantize8(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(query.toArray),
      isFloat = false)
    index.filter(col("bucket").isin(probeBuckets(query, nPlanes): _*))
      .select(col("id"),
        ((graft.functions.vec8_scale(lit(qBlob)) *
          graft.functions.vec8_scale(col("vec8"))) *
          graft.functions.vec8_dot(lit(qBlob), col("vec8"))).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select(col("id"), col("score"))
  }

  /** BATCHED serving over a QUANTIZED LSH index: the [[lshTopKBatch]]
    * plan shape (distributed signatures -> broadcast probe equi-join ->
    * bounded topk_agg) with int8 scoring — per query identical to
    * [[lshTopKQuantized]] on that query's vector. Output:
    * (query_id, id, score).
    */
  def lshTopKQuantizedBatch(
      index: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nPlanes: Int = 12,
      maxQueryRows: Long = 1000000L): DataFrame = {
    requireQueryRows(queries, maxQueryRows, "lshTopKQuantizedBatch")
    val q = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      graft.functions.vec8_quantize(col(queryVecCol)).as("qb"),
      graft.functions.lsh_signature(col(queryVecCol), nPlanes).as("qsig"))
    val probes = q.select(col("query_id"), col("qb"),
      multiprobeBuckets(col("qsig"), nPlanes).as("bucket"))
    val scored = index.join(broadcast(probes), "bucket")
      .select(col("query_id"), col("id").as("neighbor_id"),
        ((graft.functions.vec8_scale(col("qb")) *
          graft.functions.vec8_scale(col("vec8"))) *
          graft.functions.vec8_dot(col("qb"), col("vec8"))).as("score"))
    perQueryTopK(scored, k)
      .select(col("query_id"), col("neighbor_id").as("id"), col("score"))
  }

  /** ANN top-k against a persisted index from [[writeIndex]]: bucket
    * probes push down to the parquet scan, exact re-rank on survivors.
    */
  def lshTopKIndexed(
      index: DataFrame,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nPlanes: Int = 12): DataFrame =
    rerank(index.filter(col("bucket").isin(probeBuckets(query, nPlanes): _*)),
      vecCol, query, k)

  /** BATCHED ANN serving against a persisted LSH index from
    * [[writeIndex]]: a query TABLE instead of one driver-side vector —
    * the production retrieval shape (millions of queries per pass).
    *
    * Plan shape (the part that must survive 100 TB):
    *  1. per-query probe buckets (own signature + one-bit flips) computed
    *     DISTRIBUTEDLY by the codegen signature kernel — no driver loop;
    *  2. candidates = equi-JOIN of (query_id, probe_bucket) against the
    *     index on `bucket` — the query side broadcasts (it is probe-list
    *     sized), so the index scan streams through a broadcast hash join
    *     with no shuffle of index rows;
    *  3. exact cosine re-rank with the bounded [[graft.functions
    *     .topk_agg]] aggregate: k rows per (query, partition) survive the
    *     partial stage, and the only per-query work after the shuffle is
    *     a k x partitions merge — never a full sort of a query's
    *     candidate set.
    *
    * Output: (query_id, id, cosine) — per query the same (cosine DESC,
    * id ASC) top-k [[lshTopKIndexed]] returns for that query vector.
    *
    * @param maxQueryRows broadcast guard on the query side; chunk the
    *        query table into batches at larger counts.
    */
  def lshTopKBatch(
      index: DataFrame,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nPlanes: Int = 12,
      maxQueryRows: Long = 1000000L): DataFrame = {
    requireQueryRows(queries, maxQueryRows, "lshTopKBatch")
    val q = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      toDoubleArr(col(queryVecCol)).as("qv"),
      graft.functions.lsh_signature(col(queryVecCol), nPlanes).as("qsig"))
    val probes = q.select(col("query_id"),
      multiprobeBuckets(col("qsig"), nPlanes).as("bucket"))
    val candidates = index.join(broadcast(probes), "bucket")
      .select(col("query_id"), col("id").as("neighbor_id"), col(vecCol))
      .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
    val scored = candidates.withColumn("score",
      round(Dedup.cosine(cosineReady(candidates, vecCol), col("qv")), 6))
    perQueryTopK(scored, k)
      .select(col("query_id"), col("neighbor_id").as("id"),
        col("score").as("cosine"))
  }

  // ------------------------------------------------------------------- IVF

  /** Deterministic k-means coarse quantizer for IVF: k centroids over the
    * vector column, Lloyd iterations executed as DataFrame aggregations.
    * Only the centroids (k x dim doubles — the coarse quantizer is small
    * BY DESIGN; that is the point of IVF) ever reach the driver; the
    * assignment and averaging passes are distributed.
    *
    * Initialization picks the k vectors with the smallest mix64(id) —
    * deterministic across runs and partitionings.
    */
  def kmeansCentroids(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      iters: Int = 5): Array[Array[Double]] = {
    val base = df.select(col(idCol).cast("long").as("id"),
      toDoubleArr(col(vecCol)).as("v"))
    var centroids: Array[Array[Double]] = base
      .withColumn("m", graft.functions.mix64(col("id")))
      .orderBy(col("m"), col("id")).limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)

    // an empty table trains the empty quantizer: no lists, no matches
    if (centroids.nonEmpty) for (_ <- 1 to iters) {
      // element-wise mean per cluster via posexplode + groupBy — shuffles
      // only (cluster, dim, partial sums), never whole vectors
      val newCents = base
        .withColumn("c", graft.functions.vec_nearest_centroid(col("v"), centroids))
        .select(col("c"), posexplode(col("v")))
        .groupBy(col("c"), col("pos"))
        .agg(avg(col("col")).as("m"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      centroids = centroids.indices.map(i => newCents.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  /** The `nprobe` centroid indices nearest to `query` (ascending
    * distance, ties to the lower index) — driver-side mirror of the
    * `vec_probe_lists` expression kernel, so a driver-computed probe
    * list always equals the executor-computed one for the same vector.
    */
  def probeLists(
      query: Seq[Double], centroids: Array[Array[Double]], nprobe: Int): Seq[Int] =
    centroids.indices
      .map(c => (nearestCentroid(query, Array(centroids(c)))._2, c))
      .sortBy(identity).take(nprobe).map(_._2)

  /** (index, distance^2) of the nearest centroid (ties -> lowest index). */
  def nearestCentroid(v: Seq[Double], centroids: Array[Array[Double]]): (Int, Double) = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var d = 0.0
      var i = 0
      val n = math.min(v.length, cent.length)
      while (i < n) { val x = v(i) - cent(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    (best, bestD)
  }

  /** IVF inverted-list table: (id, embedding, list) — `list` is the
    * nearest-centroid index. Persist sorted by `list` (like
    * [[writeIndex]]) for row-group-pruned repeated queries.
    */
  def ivfIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      col(vecCol),
      nearestList(col(vecCol), centroids).as("list"))

  // the empty quantizer (k-means over an empty table) has no lists: an
  // empty table has no rows to assign, and a query probes no list
  private def nearestList(vec: Column, centroids: Array[Array[Double]]): Column =
    if (centroids.isEmpty) lit(null).cast("int")
    else graft.functions.vec_nearest_centroid(vec, centroids)
  private def probeListsOf(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    if (centroids.isEmpty) typedLit(Seq.empty[Int])
    else graft.functions.vec_probe_lists(vec, centroids, nprobe)

  /** Persist a complete IVF index: the inverted-list table range-
    * partitioned and sorted by `list` under `path/lists` (row-group
    * pruning for `list IN (probes)` queries, like [[writeIndex]]) and
    * the coarse quantizer under `path/centroids`. Returns the centroids
    * so the building session can query immediately.
    *
    * At scale this is the write-once/serve-many shape: the k-means pass
    * runs once over the corpus; each query afterwards reads only its
    * `nprobe` lists' row groups plus the (k x dim) centroid table.
    */
  def writeIvfIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      path: String,
      iters: Int = 5,
      partitions: Int = 0): Array[Array[Double]] = {
    val spark = df.sparkSession
    val centroids = kmeansCentroids(df, vecCol, idCol, k, iters)
    val idx = ivfIndex(df, vecCol, idCol, centroids)
    val p = if (partitions > 0) partitions
      else math.max(1, df.rdd.getNumPartitions)
    idx.repartitionByRange(p, col("list"))
      .sortWithinPartitions("list")
      .write.mode("overwrite").parquet(s"$path/lists")
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    centroids
  }

  /** [[writeIvfIndex]] with int8-QUANTIZED list vectors: the `lists`
    * table stores a `vec8` blob (scale + codes, ~4x smaller than the
    * float array — the serving-index footprint lever) instead of the raw
    * vector column. Serve with [[ivfTopKQuantized]]; centroids stay
    * full-precision (k x dim doubles — tiny, and probe selection quality
    * is what they buy).
    */
  def writeIvfIndexQuantized(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      path: String,
      iters: Int = 5,
      partitions: Int = 0): Array[Array[Double]] = {
    val spark = df.sparkSession
    val centroids = kmeansCentroids(df, vecCol, idCol, k, iters)
    val idx = ivfIndex(df, vecCol, idCol, centroids)
      .withColumn("vec8", graft.functions.vec8_quantize(col(vecCol)))
      .drop(vecCol)
    val p = if (partitions > 0) partitions
      else math.max(1, df.rdd.getNumPartitions)
    idx.repartitionByRange(p, col("list"))
      .sortWithinPartitions("list")
      .write.mode("overwrite").parquet(s"$path/lists")
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    centroids
  }

  /** ANN top-k over a QUANTIZED IVF index ([[writeIvfIndexQuantized]]):
    * probe the `nprobe` nearest lists, rank members by the approximate
    * dot product `(scale_q * scale_m) * int_dot` (exact integer dots,
    * deterministic ties by id). The query is quantized driver-side with
    * the same kernel, so executor scoring reads only int8 codes.
    */
  def ivfTopKQuantized(
      index: DataFrame,
      query: Seq[Double],
      centroids: Array[Array[Double]],
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val lists = probeLists(query, centroids, nprobe)
    val qBlob = graft.expr.VectorKernels.quantize8(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(query.toArray),
      isFloat = false)
    index.filter(col("list").isin(lists: _*))
      .select(col("id"),
        ((graft.functions.vec8_scale(lit(qBlob)) *
          graft.functions.vec8_scale(col("vec8"))) *
          graft.functions.vec8_dot(lit(qBlob), col("vec8"))).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select(col("id"), col("score"))
  }

  /** Load a persisted IVF index: (inverted-list table, centroids). */
  def readIvfIndex(
      spark: SparkSession, path: String): (DataFrame, Array[Array[Double]]) = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy(col("list")).collect()
      .map(_.getSeq[Double](1).toArray)
    (spark.read.parquet(s"$path/lists"), centroids)
  }

  /** ANN top-k via IVF: probe the `nprobe` lists nearest to the query,
    * exact cosine re-rank on their members. Same schema as
    * [[bruteForceTopK]].
    */
  def ivfTopK(
      index: DataFrame,
      vecCol: String,
      query: Seq[Double],
      centroids: Array[Array[Double]],
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val lists = probeLists(query, centroids, nprobe)
    rerank(index.filter(col("list").isin(lists: _*)), vecCol, query, k)
  }

  /** BATCHED ANN serving over a QUANTIZED IVF index
    * ([[writeIvfIndexQuantized]]): a query TABLE instead of one
    * driver-side vector. Per query:
    *
    *  1. the `nprobe` probe lists are assigned DISTRIBUTEDLY by the
    *     `vec_probe_lists` codegen kernel (identical selection to the
    *     driver-side single-query path);
    *  2. candidates = equi-join of the exploded (query_id, list, qblob)
    *     probe table (broadcast — probe-list sized) against the index on
    *     `list`: only the probed lists' row groups are read, and index
    *     rows never shuffle;
    *  3. int8 scoring `(scale_q * scale_m) * int_dot` + the bounded
    *     [[graft.functions.topk_agg]] top-k — k rows per (query,
    *     partition) survive the partial stage; no per-query sort of the
    *     full candidate set anywhere.
    *
    * Output: (query_id, id, score) — per query identical to
    * [[ivfTopKQuantized]] run on that query's vector.
    */
  def ivfTopKQuantizedBatch(
      index: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      centroids: Array[Array[Double]],
      k: Int,
      nprobe: Int = 2,
      maxQueryRows: Long = 1000000L): DataFrame = {
    requireQueryRows(queries, maxQueryRows, "ivfTopKQuantizedBatch")
    val probes = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      graft.functions.vec8_quantize(col(queryVecCol)).as("qb"),
      explode(probeListsOf(col(queryVecCol), centroids, nprobe)).as("list"))
    val scored = index.join(broadcast(probes), "list")
      .select(col("query_id"), col("id").as("neighbor_id"),
        ((graft.functions.vec8_scale(col("qb")) *
          graft.functions.vec8_scale(col("vec8"))) *
          graft.functions.vec8_dot(col("qb"), col("vec8"))).as("score"))
    perQueryTopK(scored, k)
      .select(col("query_id"), col("neighbor_id").as("id"), col("score"))
  }

  // ---- Product quantization (IVF-PQ) ---------------------------------

  @inline private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Train PQ codebooks: m per-subspace k-means over contiguous
    * `dim / m` slices, `ncodes` codewords each (<= 256 — codes pack one
    * byte per subspace). Fully distributed like [[kmeansCentroids]]: the
    * assignment pass is the `pq_assign` codegen kernel, the averaging
    * pass shuffles only (subspace, code, dim, partial sums); ONLY the
    * m x ncodes x subdim codebook tensor (by design tiny) reaches the
    * driver. Initialization is farthest-point traversal PER SUBSPACE
    * over the 8 x ncodes vectors with the smallest mix64(id): a plain
    * smallest-mix64 pick (the [[kmeansCentroids]] init) collapses when
    * the corpus has fewer clusters than draws land in — duplicate
    * codewords tie to the lower index, the duplicates' cells go empty,
    * and Lloyd iterations can never split them (measured: 56x the
    * converged distortion on a 4-cluster corpus). Farthest-first spreads
    * the init across the data's modes, stays deterministic (ties to the
    * earlier sample), and costs one tiny driver-side pass. Empty cells
    * keep their previous codeword.
    *
    * PQ rides raw vectors, not IVF residuals — codes are independent of
    * the coarse quantizer, so one codebook serves any list layout and
    * the single-query/batch paths stay mirror-identical. (Residual PQ
    * buys accuracy at the cost of coupling codes to centroids; this
    * engine prefers the decoupled form + exact re-rank when needed.)
    */
  def pqTrain(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      m: Int,
      ncodes: Int = 256,
      iters: Int = 5): Array[Array[Array[Double]]] = {
    require(m >= 1, "m must be >= 1")
    require(ncodes >= 1 && ncodes <= 256, "ncodes must be in [1, 256]")
    val base = df.select(col(idCol).cast("long").as("id"),
      toDoubleArr(col(vecCol)).as("v"))
    val sample = base
      .withColumn("mx", graft.functions.mix64(col("id")))
      .orderBy(col("mx"), col("id")).limit(8 * ncodes)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    // an empty table trains the empty quantizer: no subspaces, no codes
    if (sample.isEmpty) return Array.empty
    val dim = sample(0).length
    require(dim % m == 0, s"pqTrain: dimension $dim not divisible by m=$m")
    val subDim = dim / m
    // farthest-point init per subspace over the sample's slices: start
    // from slice 0, then repeatedly take the slice maximizing its min
    // squared distance to the chosen set (ties -> earlier sample index).
    // Short samples (< ncodes slices) repeat cyclically once every
    // remaining min-distance is 0 — duplicates then tie to lower index
    // at assignment and the spares simply stay empty.
    var codebooks: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      val slices = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
      val chosen = new Array[Array[Double]](ncodes)
      chosen(0) = slices(0)
      // minD(i) = min squared distance from slices(i) to the chosen set
      val minD = slices.map(sl => dist2(sl, slices(0)))
      var c = 1
      while (c < ncodes) {
        var best = 0
        var i = 1
        while (i < slices.length) {
          if (minD(i) > minD(best)) best = i
          i += 1
        }
        chosen(c) = slices(best)
        i = 0
        while (i < slices.length) {
          val d = dist2(slices(i), slices(best))
          if (d < minD(i)) minD(i) = d
          i += 1
        }
        c += 1
      }
      chosen
    }
    for (_ <- 1 to iters) {
      val updates = base
        .withColumn("codes", graft.functions.pq_assign(col("v"), codebooks))
        .select(col("codes"), posexplode(col("v")))
        .select(
          (col("pos") / subDim).cast("int").as("s"),
          element_at(col("codes"), (col("pos") / subDim).cast("int") + 1).as("c"),
          (col("pos") % subDim).cast("int").as("i"),
          col("col").as("x"))
        .groupBy(col("s"), col("c"), col("i"))
        .agg(avg(col("x")).as("mean"))
        .collect()
      val next = codebooks.map(_.map(_.clone()))
      updates.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      codebooks = next
    }
    codebooks
  }

  /** Persist a complete IVF-PQ index: coarse k-means lists like
    * [[writeIvfIndex]], but each list member stores ONLY its PQ code —
    * m BYTES per vector (32x smaller than a 64-dim float array; the
    * quantized-IVF vec8 form is 4x). `path/lists` is range-partitioned
    * and sorted by `list` (row-group pruning), `path/centroids` and
    * `path/codebooks` hold the two quantizers. Returns both so the
    * building session can serve immediately.
    *
    * This is the memory-resident-index shape for a 100 TB corpus: 1e9
    * vectors x (8 id + 8 code) bytes = 16 GB of lists — a broadcast-able
    * sliver of the raw table.
    */
  def writeIvfPqIndex(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      kLists: Int,
      m: Int,
      path: String,
      ncodes: Int = 256,
      kmIters: Int = 5,
      pqIters: Int = 5,
      partitions: Int = 0): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val spark = df.sparkSession
    val centroids = kmeansCentroids(df, vecCol, idCol, kLists, kmIters)
    val codebooks = pqTrain(df, vecCol, idCol, m, ncodes, pqIters)
    val idx = df.select(
      col(idCol).cast("long").as("id"),
      nearestList(col(vecCol), centroids).as("list"),
      pqCodeOf(col(vecCol), codebooks).as("pqcode"))
    val p = if (partitions > 0) partitions
      else math.max(1, df.rdd.getNumPartitions)
    idx.repartitionByRange(p, col("list"))
      .sortWithinPartitions("list")
      .write.mode("overwrite").parquet(s"$path/lists")
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    codebooks.zipWithIndex
      .flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (cw, c) => (s, c, cw.toSeq) }
      }.toSeq
      .toDF("subspace", "code", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    (centroids, codebooks)
  }

  /** Load a persisted IVF-PQ index: (lists table, centroids, codebooks). */
  def readIvfPqIndex(spark: SparkSession, path: String)
      : (DataFrame, Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy(col("list")).collect()
      .map(_.getSeq[Double](1).toArray)
    val cbRows = spark.read.parquet(s"$path/codebooks")
      .orderBy(col("subspace"), col("code")).collect()
    val codebooks = cbRows.groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }
    (spark.read.parquet(s"$path/lists"), centroids, codebooks)
  }

  // the empty PQ quantizer (trained on an empty table) has no subspaces:
  // an empty table has no rows to encode, a query's LUT is empty and no
  // candidate is ever scored, so any valid LUT stride serves
  private def pqCodeOf(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    if (codebooks.isEmpty) lit(null).cast("binary")
    else graft.functions.pq_encode(vec, codebooks)
  private def pqLutOf(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    if (codebooks.isEmpty) typedLit(Seq.empty[Double])
    else graft.functions.pq_lut(vec, codebooks)
  private def codebookSize(codebooks: Array[Array[Array[Double]]]): Int =
    codebooks.headOption.fold(1)(_.length)

  /** Single-query ANN over an IVF-PQ index: probe the `nprobe` nearest
    * lists, ADC-score members (m LUT lookups each — the query's LUT is
    * computed once, driver-side), deterministic ties by id. Output
    * (id, score): score approximates dot(query, candidate).
    */
  def ivfTopKPq(
      index: DataFrame,
      query: Seq[Double],
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nprobe: Int = 2): DataFrame = {
    val lists = probeLists(query, centroids, nprobe)
    val lut = if (codebooks.isEmpty) Seq.empty[Double] else {
      val l = graft.expr.VectorKernels.pqLut(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(query.toArray),
        codebooks, isFloat = false)
      (0 until l.numElements()).map(l.getDouble)
    }
    val lutLit = typedLit(lut)
    index.filter(col("list").isin(lists: _*))
      .select(col("id"),
        graft.functions.pq_adc_score(
          col("pqcode"), lutLit, codebookSize(codebooks)).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select(col("id"), col("score"))
  }

  /** BATCHED ANN serving over an IVF-PQ index: a query TABLE instead of
    * one driver-side vector. Probe lists assign distributedly
    * (`vec_probe_lists`), each query's ADC LUT is computed ONCE by the
    * `pq_lut` kernel and broadcast-joined to candidates by query_id (the
    * LUT never rides the per-probe explosion), scoring is m lookups per
    * candidate, and the bounded [[graft.functions.topk_agg]] keeps k
    * rows per (query, partition) — no per-query sort of the candidate
    * set anywhere. Per query identical to [[ivfTopKPq]].
    *
    * maxQueryRows sizing note: a broadcast query row carries its LUT —
    * m x ncodes doubles (16 KB at m=8, ncodes=256) — so chunk batches an
    * order of magnitude smaller than the vec8 paths.
    */
  def ivfTopKPqBatch(
      index: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nprobe: Int = 2,
      maxQueryRows: Long = 100000L): DataFrame = {
    requireQueryRows(queries, maxQueryRows, "ivfTopKPqBatch")
    val q = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      pqLutOf(col(queryVecCol), codebooks).as("lut"),
      probeListsOf(col(queryVecCol), centroids, nprobe).as("probe_lists"))
    val probes = q.select(col("query_id"), explode(col("probe_lists")).as("list"))
    val scored = index.join(broadcast(probes), "list")
      .join(broadcast(q.select(col("query_id"), col("lut"))), "query_id")
      .select(col("query_id"), col("id").as("neighbor_id"),
        graft.functions.pq_adc_score(
          col("pqcode"), col("lut"), codebookSize(codebooks)).as("score"))
    perQueryTopK(scored, k)
      .select(col("query_id"), col("neighbor_id").as("id"), col("score"))
  }

  /** Recall of the ANN result against the exact top-k (evaluation helper). */
  def recallAtK(ann: DataFrame, exact: DataFrame): Double = {
    val a = ann.select("id").collect().map(_.getLong(0)).toSet
    val e = exact.select("id").collect().map(_.getLong(0)).toSet
    if (e.isEmpty) 1.0 else a.intersect(e).size.toDouble / e.size
  }
}
