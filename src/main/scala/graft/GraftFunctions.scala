package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}

import graft.expr._

/** Column-level API of the graft sketch library — the Spark-native surface
  * of the reference's `BloomFilter` class plus sibling sketches.
  *
  * Usage:
  * {{{
  *   import graft.functions._
  *   val filter = df.agg(bloom_agg($"key", 1000000, 0.01)).head.getAs[Array[Byte]](0)
  *   val hits   = probeDf.filter(bloom_contains(lit(filter), $"key"))
  * }}}
  *
  * @define unionContract Every `*_union_agg` merges a column of stored
  *   sketches of one family with the family's core merge (commutative
  *   and associative, so any partitioning gives the same result). NULL
  *   blobs are skipped; empty input, or input of NULLs only, gives NULL.
  *   The sketch parameters (capacity, precision, k, ...) must match — the
  *   core merge throws otherwise.
  */
object functions {

  private def lit(v: Any): Expression = Literal(v)

  /** The kernel's build aggregate over `inputs` (adapted to the kernel's
    * input types: keys hashed, numbers cast) and constant `params`. */
  private def build(kernel: SketchKernel[_ <: AnyRef], inputs: Column*)(params: Any*): Column =
    toCol(kernel(kernel.inputs.zip(inputs).map { case (in, c) => in.adapt(toExpr(c)) },
      params.map(lit)).toAggregateExpression())

  private[graft] def union_agg(sketches: Column, codec: SketchCodec[_ <: AnyRef]): Column =
    toCol(SketchUnionAgg(toExpr(sketches), codec).toAggregateExpression())

  private def summary(op: SketchOp, sketch: Column): Column =
    toCol(SketchSummary(toExpr(sketch), op))

  private def query(op: SketchOp, sketch: Column, arg: Expression): Column =
    toCol(SketchQuery(toExpr(sketch), arg, op))

  private def keyQuery(op: SketchOp, sketch: Column, key: Column): Column =
    query(op, sketch, AbloomKeyHash(toExpr(key)))

  private def broadcastQuery(op: SketchOp,
      filter: org.apache.spark.broadcast.Broadcast[Array[Byte]], key: Column): Column =
    toCol(SketchBroadcastQuery(filter, AbloomKeyHash(toExpr(key)), op))

  /** The abloom serializable-mode 64-bit key hash (XXH64 / CPython-numeric
    * + mix64) for string/binary/integral/floating columns.
    */
  def abloom_key_hash(key: Column): Column = toCol(AbloomKeyHash(toExpr(key)))

  /** Shard selector over a pre-computed key hash (see
    * [[graft.job.BloomShards]]).
    */
  def shard_of(keyHash: Column, shards: Int): Column =
    toCol(ShardOf(toExpr(keyHash), lit(shards)))

  /** Build an SBBF-512 Bloom filter over `key` — returns ABLM v2 bytes,
    * bit-identical to `abloom.BloomFilter(capacity, fpRate,
    * serializable=True)` fed the same keys.
    */
  def bloom_agg(key: Column, capacity: Long, fpRate: Double): Column =
    build(BloomKernel, key)(capacity, fpRate)

  def bloom_agg(key: Column, capacity: Long): Column =
    bloom_agg(key, capacity, 0.01)

  /** Build from a pre-computed 64-bit key hash column ([[abloom_key_hash]]).
    * Keeps the hash inside whole-stage codegen upstream of the aggregate.
    */
  def bloom_agg_hashed(keyHash: Column, capacity: Long, fpRate: Double): Column =
    toCol(BloomKernel(Seq(toExpr(keyHash)), Seq(lit(capacity), lit(fpRate))).toAggregateExpression())

  /** Membership probe; may false-positive, never false-negative. */
  def bloom_contains(filter: Column, key: Column): Column =
    keyQuery(SketchOp.BloomContains, filter, key)

  /** Probe with a pre-computed 64-bit key hash. */
  def bloom_contains_hash(filter: Column, keyHash: Column): Column =
    query(SketchOp.BloomContains, filter, toExpr(keyHash))

  /** Probe against a broadcast filter — preferred for large filters: the
    * bytes ship once per executor (torrent broadcast), not inside every
    * stage's task binary.
    */
  def bloom_contains(filter: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      key: Column): Column =
    broadcastQuery(SketchOp.BloomContains, filter, key)

  /** New filter = word-wise OR of two serialized filters (params must match). */
  def bloom_union(a: Column, b: Column): Column =
    query(SketchOp.BloomUnion, a, toExpr(b))

  /** OR-merge a column of serialized filters into one. $unionContract */
  def bloom_union_agg(filters: Column): Column = union_agg(filters, BloomCodec)

  /** Read-only properties struct: capacity, fp_rate, block_count,
    * byte_count, bit_count, k, is_empty.
    */
  def bloom_describe(filter: Column): Column =
    summary(SketchOp.BloomDescribe, filter)

  /** True iff the filter has no bit set (reference `bool(bf)` inverted). */
  def bloom_is_empty(filter: Column): Column =
    summary(SketchOp.BloomIsEmpty, filter)

  /** Linear-counting distinct estimate from the filter's bit occupancy
    * (no extra sketch needed — the filter IS the estimator).
    */
  def bloom_cardinality_estimate(filter: Column): Column =
    summary(SketchOp.BloomCardinalityEstimate, filter)

  /** `|A ∩ B|` estimate over two compatible filters via inclusion-
    * exclusion of the linear-counting estimates — the SBBF sibling of
    * [[hll_intersect_estimate]]. Absolute error scales with `|A| + |B|`.
    */
  def bloom_intersect_estimate(a: Column, b: Column): Column =
    query(SketchOp.BloomIntersectEstimate, a, toExpr(b))

  // --------------------------------------------------- counting bloom (CBF)

  /** Build a Counting Bloom filter: like [[bloom_agg]] but with per-row
    * integer weights (+1 insert, -1 delete) and delete support — returns
    * ABCM v1 bytes. Merge is exact under any partitioning/ordering of
    * inserts and deletes.
    */
  def cbf_agg(key: Column, weight: Column, capacity: Long, fpRate: Double): Column =
    build(CbfKernel, key, weight)(capacity, fpRate)

  /** Insert-only counting build (weight 1 per row). */
  def cbf_agg(key: Column, capacity: Long, fpRate: Double): Column =
    cbf_agg(key, toCol(lit(1)), capacity, fpRate)

  /** Cell-wise-add merge of a column of serialized counting filters.
    * $unionContract */
  def cbf_union_agg(filters: Column): Column = union_agg(filters, CbfCodec)

  /** Membership probe (net count > 0); zero FN, SBBF-rate FP. */
  def cbf_contains(filter: Column, key: Column): Column =
    keyQuery(SketchOp.CbfContains, filter, key)

  /** Broadcast-backed probe — preferred for counting filters, which are
    * 32x the SBBF's size and cross the ~1 MB literal line early.
    */
  def cbf_contains(filter: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      key: Column): Column =
    broadcastQuery(SketchOp.CbfContains, filter, key)

  /** Count-min style upper bound on the key's net count. */
  def cbf_count(filter: Column, key: Column): Column =
    keyQuery(SketchOp.CbfCount, filter, key)

  /** Broadcast-backed net-count upper bound. */
  def cbf_count(filter: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      key: Column): Column =
    broadcastQuery(SketchOp.CbfCount, filter, key)

  // --------------------------------------------------- scalable bloom (SBF)

  /** Build a Scalable Bloom filter for UNKNOWN-cardinality key streams:
    * no capacity sizing — the filter grows stages geometrically
    * (Almeida et al. 2007). Returns ABSF v1 bytes. Compound FP <=
    * fp0 / (1 - 0.9) per partition lineage; zero false negatives always.
    */
  def sbf_agg(key: Column, initialCapacity: Long, fp0: Double): Column =
    build(SbfKernel, key)(initialCapacity, fp0)

  def sbf_agg(key: Column): Column = sbf_agg(key, 4096, 0.001)

  /** Concat/compact-merge a column of serialized scalable filters.
    * $unionContract */
  def sbf_union_agg(filters: Column): Column = union_agg(filters, SbfCodec)

  /** Membership probe across all stages; zero FN. */
  def sbf_contains(filter: Column, key: Column): Column =
    keyQuery(SketchOp.SbfContains, filter, key)

  /** Broadcast-backed probe — preferred once the stage series has grown
    * past ~1 MB (large streams).
    */
  def sbf_contains(filter: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      key: Column): Column =
    broadcastQuery(SketchOp.SbfContains, filter, key)

  /** Read-only properties: initial_capacity, fp0, growth, tightening,
    * stage_count, inserted_count, compound_fp_bound.
    */
  def sbf_describe(filter: Column): Column =
    summary(SketchOp.SbfDescribe, filter)

  // ------------------------------------------------------ sibling sketches

  private def castDouble(c: Column): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(toExpr(c),
      org.apache.spark.sql.types.DoubleType)

  /** HyperLogLog distinct-count sketch (std error 1.04/sqrt(2^p)). */
  def hll_agg(key: Column, p: Int): Column = build(HllKernel, key)(p)
  def hll_agg(key: Column): Column = hll_agg(key, graft.core.Hll.DefaultP)

  /** Register-wise-max merge of a column of stored HLL sketches.
    * $unionContract */
  def hll_union_agg(sketches: Column): Column = union_agg(sketches, HllCodec)

  def hll_estimate(sketch: Column): Column = summary(SketchOp.HllEstimate, sketch)

  /** Inclusion-exclusion estimate of the intersection cardinality of two
    * HLL sketches (same precision required). Error compounds from three
    * estimates — see [[graft.core.Hll.intersectEstimate]].
    */
  def hll_intersect_estimate(a: Column, b: Column): Column =
    query(SketchOp.HllIntersectEstimate, a, toExpr(b))

  /** KMV bottom-k distinct sketch: EXACT below k, RSE ~ 1/sqrt(k-2) above. */
  def kmv_agg(key: Column, k: Int): Column = build(KmvKernel, key)(k)
  def kmv_agg(key: Column): Column = kmv_agg(key, graft.core.Kmv.DefaultK)

  /** Bottom-k merge of a column of stored KMV sketches. $unionContract */
  def kmv_union_agg(sketches: Column): Column = union_agg(sketches, KmvCodec)

  def kmv_estimate(sketch: Column): Column = summary(SketchOp.KmvEstimate, sketch)

  /** Theta-style intersection (single joint threshold — unlike HLL's
    * inclusion-exclusion, the error does not compound from three
    * estimates; exact while both sketches are unsaturated).
    */
  def kmv_intersect_estimate(a: Column, b: Column): Column =
    query(SketchOp.KmvIntersectEstimate, a, toExpr(b))

  def kmv_describe(sketch: Column): Column = summary(SketchOp.KmvDescribe, sketch)

  /** KMV distinct-sample-with-payload: bottom-k on the key hash carrying
    * a string payload per retained key — uniform distinct-sample +
    * cardinality estimate in ONE pass. Sample and estimate are EXACT
    * below k.
    */
  def kmv_sample_agg(key: Column, payload: Column, k: Int): Column =
    build(KmvSampleKernel, key, payload)(k)
  def kmv_sample_agg(key: Column, payload: Column): Column =
    kmv_sample_agg(key, payload, graft.core.Kmv.DefaultK)

  /** Bottom-k merge of a column of stored distinct samples.
    * $unionContract */
  def kmv_sample_union_agg(sketches: Column): Column = union_agg(sketches, KmvSampleCodec)

  def kmv_sample_estimate(sketch: Column): Column =
    summary(SketchOp.KmvSampleEstimate, sketch)

  /** The retained sample payloads, ascending by key hash. */
  def kmv_sample_values(sketch: Column): Column =
    summary(SketchOp.KmvSampleValues, sketch)

  def kmv_sample_describe(sketch: Column): Column =
    summary(SketchOp.KmvSampleDescribe, sketch)

  /** WEIGHTED distinct-sample (Efraimidis-Spirakis A-RES): retain the k
    * distinct keys with the largest priorities u(hash)^(1/weight) — a
    * sample-proportional-to-weight of the distinct keys, invariant to
    * duplication/order/partitioning. Exact (ALL distinct keys) below k.
    */
  def weighted_sample_agg(
      key: Column, weight: Column, payload: Column, k: Int): Column =
    build(WeightedSampleKernel, key, weight, payload)(k)

  /** Top-priority merge of a column of stored weighted samples.
    * $unionContract */
  def weighted_sample_union_agg(sketches: Column): Column =
    union_agg(sketches, WeightedSampleCodec)

  /** The retained (value, weight) sample entries, ascending by hash. */
  def weighted_sample_entries(sketch: Column): Column =
    summary(SketchOp.WeightedSampleEntries, sketch)

  def weighted_sample_describe(sketch: Column): Column =
    summary(SketchOp.WeightedSampleDescribe, sketch)

  /** Count-min frequency sketch: estimate in [true, true + eps*N] w.p. 1-delta. */
  def cms_agg(key: Column, eps: Double, delta: Double): Column =
    build(CmsKernel, key)(eps, delta)

  /** Cell-wise-add merge of a column of stored count-min sketches.
    * $unionContract */
  def cms_union_agg(sketches: Column): Column = union_agg(sketches, CmsCodec)

  def cms_query(sketch: Column, key: Column): Column =
    keyQuery(SketchOp.CmsQuery, sketch, key)

  /** Equi-join cardinality estimate from two same-dimension CMS: never
    * under, over by <= eps*totalA*totalB w.p. 1-delta. */
  def cms_inner_product(a: Column, b: Column): Column =
    query(SketchOp.CmsInnerProduct, a, toExpr(b))

  /** Merging t-digest quantile sketch (compression delta, default 100). */
  def tdigest_agg(value: Column, compression: Double): Column =
    build(TDigestKernel, value)(compression)
  def tdigest_agg(value: Column): Column =
    tdigest_agg(value, graft.core.TDigest.DefaultCompression)

  /** Centroid merge of a column of stored t-digests. $unionContract */
  def tdigest_union_agg(sketches: Column): Column = union_agg(sketches, TDigestCodec)

  def tdigest_quantile(sketch: Column, q: Double): Column =
    query(SketchOp.TDigestQuantile, sketch, lit(q))
  def tdigest_cdf(sketch: Column, x: Column): Column =
    query(SketchOp.TDigestCdf, sketch, castDouble(x))

  /** KLL quantile sketch (additive rank error ~2.5/k). */
  def kll_agg(value: Column, k: Int): Column = build(KllKernel, value)(k)
  def kll_agg(value: Column): Column = kll_agg(value, graft.core.Kll.DefaultK)

  /** Compactor merge of a column of stored KLL sketches. $unionContract */
  def kll_union_agg(sketches: Column): Column = union_agg(sketches, KllCodec)

  /** Misra–Gries heavy hitters over a STRING key: deterministic
    * frequent-items summary (counter <= true <= counter + err,
    * err <= n/(k+1); EXACT when distinct keys <= k). Returns ABMG bytes.
    */
  def mg_agg(key: Column, k: Int): Column = build(MgKernel, key)(k)

  /** Merge a column of stored heavy-hitter summaries. $unionContract */
  def mg_union_agg(sketches: Column): Column = union_agg(sketches, MgCodec)

  /** Top-m tracked keys with their count intervals. */
  def mg_topk(sketch: Column, m: Int): Column =
    query(SketchOp.MgTopK, sketch, lit(m))

  def kll_quantile(sketch: Column, q: Double): Column =
    query(SketchOp.KllQuantile, sketch, lit(q))
  def kll_rank(sketch: Column, x: Column): Column =
    query(SketchOp.KllRank, sketch, castDouble(x))

  // ------------------------------------------------------ dedup kernels

  /** Sorted distinct XXH64 hashes of the word n-gram shingle set. */
  def shingle_hashes(text: Column, n: Int): Column =
    toCol(ShingleHashes(toExpr(text), n))
  /** XXH64 per sliding w-code-point character window (index = position). */
  def window_hashes(text: Column, w: Int): Column =
    toCol(WindowHashes(toExpr(text), w))
  /** Remove the code points covered by w-windows at the given positions. */
  def mask_spans(text: Column, positions: Column, w: Int): Column =
    toCol(MaskSpans(toExpr(text), toExpr(positions), w))
  /** Kirsch-Mitzenmacher MinHash signature from a shingle-hash set. */
  def minhash_signature(hashes: Column, k: Int): Column =
    toCol(MinhashSignature(toExpr(hashes), k))
  /** 64-bit SimHash over whitespace tokens. */
  def simhash64(text: Column): Column = toCol(SimhashText(toExpr(text)))
  /** Exact Jaccard of two sorted distinct long arrays (O(m+n)). */
  def jaccard_sorted(a: Column, b: Column): Column =
    toCol(JaccardSorted(toExpr(a), toExpr(b)))
  /** Intersection size of two sorted distinct long arrays (O(m+n)). */
  def intersect_count_sorted(a: Column, b: Column): Column =
    toCol(IntersectCountSorted(toExpr(a), toExpr(b)))

  // ------------------------------------------------------ vector kernels

  /** `nPlanes`-bit random-hyperplane LSH signature of an ARRAY<DOUBLE>. */
  def lsh_signature(vec: Column, nPlanes: Int): Column =
    toCol(LshSignature(toExpr(vec), nPlanes))
  /** One independent `bits`-bit signature per LSH table. */
  def lsh_table_signatures(vec: Column, tables: Int, bits: Int): Column =
    toCol(LshTableSignatures(toExpr(vec), tables, bits))
  /** Cosine similarity of two ARRAY<DOUBLE>/ARRAY<FLOAT> vectors (one
    * codegen kernel; exact replica of the HOF formulation — see
    * [[graft.expr.VectorKernels.cosineBoxed]]). */
  def vec_cosine(a: Column, b: Column): Column =
    toCol(VecCosine(toExpr(a), toExpr(b)))
  /** Index of the nearest centroid by squared L2 (IVF assignment). */
  def vec_nearest_centroid(vec: Column, centroids: Array[Array[Double]]): Column =
    toCol(NearestCentroid(toExpr(vec), centroids))
  /** The nprobe nearest centroid indices (batched IVF probe lists). */
  def vec_probe_lists(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    toCol(ProbeLists(toExpr(vec), centroids, nprobe))
  /** Bounded top-k by (score DESC, id ASC): the k best rows of the group
    * as array<struct<score, id, payload>>, best first. Plans as a partial
    * aggregate keeping only k rows per (group, partition) — the batched
    * ANN serving shape (never a per-group full sort). The payload is ANY
    * type (struct, string, long, ...) and rides opaquely.
    */
  def topk_agg(score: Column, id: Column, payload: Column, k: Int): Column =
    toCol(TopKAgg(
      org.apache.spark.sql.catalyst.expressions.Cast(toExpr(score),
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.catalyst.expressions.Cast(toExpr(id),
        org.apache.spark.sql.types.LongType),
      toExpr(payload),
      k).toAggregateExpression())
  /** The abloom 64-bit finalizer mix over a BIGINT column. */
  def mix64(x: Column): Column = toCol(Mix64(toExpr(x)))
  /** Int8 quantization of a float/double embedding (scale + codes blob). */
  def vec8_quantize(vec: Column): Column = toCol(Vec8Quantize(toExpr(vec)))
  /** Exact integer dot product of two quantized vectors. */
  def vec8_dot(a: Column, b: Column): Column = toCol(Vec8Dot(toExpr(a), toExpr(b)))
  /** The quantization scale stored in a vec8 blob. */
  def vec8_scale(a: Column): Column = toCol(Vec8Scale(toExpr(a)))
  /** L2 normalization: x / |x| as ARRAY<DOUBLE> (zeros stay zeros). */
  def vec_normalize(vec: Column): Column = toCol(VecNormalize(toExpr(vec)))
  /** PQ code assignment: nearest-codeword index per subspace (training). */
  def pq_assign(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    toCol(PqAssign(toExpr(vec), codebooks))
  /** Product-quantization code: one unsigned byte per subspace. */
  def pq_encode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    toCol(PqEncode(toExpr(vec), codebooks))
  /** Per-query ADC lookup table (sub-dot-products vs every codeword). */
  def pq_lut(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    toCol(PqLut(toExpr(vec), codebooks))
  /** ADC score: m LUT lookups approximating dot(query, candidate). */
  def pq_adc_score(codes: Column, lut: Column, ncodes: Int): Column =
    toCol(PqAdcScore(toExpr(codes), toExpr(lut), ncodes))

  // ------------------------------------------------------- media kernels

  /** REAL container-header parse (PNG/JPEG/WAV) -> struct<format, width,
    * height, channels, duration_ms>; NULL for unknown payloads.
    */
  def media_meta(payload: Column): Column = toCol(MediaMetaExpr(toExpr(payload)))

  /** REAL content decode (grayscale PNG pixels / PCM WAV samples) ->
    * struct<format, n, sum, sumsq> of exact integer sample statistics;
    * NULL where no sample content is readable (JPEG/MP4 headers, unknown
    * payloads).
    */
  def media_content_stats(payload: Column): Column =
    toCol(MediaContentStats(toExpr(payload)))

  /** Per-FRAME Motion-JPEG pixel stats (demux + full JPEG decode) ->
    * array<struct<n, sum, sumsq>> in sample order; NULL without a
    * decodable jpeg-coded video track.
    */
  def media_frame_stats(payload: Column): Column =
    toCol(MediaFrameStats(toExpr(payload)))

  /** Deterministic synthesis of real PNG/JPEG/WAV payloads per row. */
  def media_encode(kind: Column, variant: Column, width: Column,
      height: Column, durationMs: Column): Column =
    toCol(MediaEncode(toExpr(kind), toExpr(variant), toExpr(width),
      toExpr(height), toExpr(durationMs)))
}
