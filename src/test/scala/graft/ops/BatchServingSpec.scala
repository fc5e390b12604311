package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.expr.TopKBuffer

/** Batched ANN serving: the bounded top-k aggregate and the query-table
  * variants of the quantized / LSH-indexed / IVF-quantized probes.
  */
class BatchServingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def randVecs(n: Int, dim: Int, seed: Long = 7L): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextDouble() * 2 - 1)))
  }

  // ------------------------------------------------------------ TopKBuffer

  test("TopKBuffer keeps the k best by (score desc, id asc), any insert order") {
    val entries = Seq(
      (1.0, 5L, 50L), (3.0, 2L, 20L), (3.0, 1L, 10L), (2.0, 9L, 90L),
      (0.5, 7L, 70L), (3.0, 3L, 30L), (-1.0, 0L, 0L))
    val expected = entries.sortBy { case (s, i, _) => (-s, i) }.take(4)
    // every permutation-ish order (rotate) yields the identical result
    (0 until entries.size).foreach { r =>
      val buf = new TopKBuffer(4)
      (entries.drop(r) ++ entries.take(r)).foreach { case (s, i, p) => buf.insert(s, i, p) }
      val got = (0 until buf.size).map(j => (buf.scores(j), buf.ids(j), buf.payloads(j)))
      assert(got == expected, s"rotation $r")
    }
  }

  test("TopKBuffer merge == union insert; wire round-trip preserves content") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val rnd = new scala.util.Random(3)
    val all = (0 until 200).map(i => (rnd.nextInt(20).toDouble, i.toLong, i.toLong * 3))
    val (l, r) = all.splitAt(117)
    val a = new TopKBuffer(10)
    l.foreach { case (s, i, p) => a.insert(s, i, p) }
    val b = new TopKBuffer(10)
    r.foreach { case (s, i, p) => b.insert(s, i, p) }
    val direct = new TopKBuffer(10)
    all.foreach { case (s, i, p) => direct.insert(s, i, p) }
    // the wire codec lives in the aggregate (payload-type-aware)
    val codec = graft.expr.TopKAgg(Literal(0.0), Literal(0L), Literal(0L), 10)
    def dump(buf: TopKBuffer) =
      (0 until buf.size).map(j => (buf.scores(j), buf.ids(j), buf.payloads(j)))
    a.mergeFrom(codec.deserialize(codec.serialize(b)))
    assert(dump(a) == dump(direct))
    val rt = codec.deserialize(codec.serialize(direct))
    assert(dump(rt) == dump(direct))
  }

  test("topk_agg is partition-invariant and matches a window-sort reference") {
    val rows = randVecs(500, 1, seed = 21).map { case (id, v) => (id % 7, id, v.head) }
    val df = rows.toDF("g", "id", "score")
    def run(parts: Int) =
      df.repartition(parts)
        .groupBy(col("g"))
        .agg(graft.functions.topk_agg(col("score"), col("id"), col("id") * 2, 5).as("tk"))
        .select(col("g"), explode(col("tk")).as("e"))
        .select(col("g"), col("e.id").as("id"), col("e.score").as("score"),
          col("e.payload").as("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy { case (_, id, s) => (-s, id) }.take(5)
        .map { case (_, id, s) => (g, id, s, id * 2) }
    }.sortBy(t => (t._1, -t._3, t._2))
    assert(run(1) == expected)
    assert(run(7) == expected)
    // SQL name
    df.createOrReplaceTempView("topk_t")
    val viaSql = spark.sql(
      "SELECT g, size(topk_agg(score, id, id * 2, 5)) AS n FROM topk_t GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaSql.values.forall(_ == 5))
  }

  test("TopKBuffer rejects NaN scores: order-invariant, never blocks later inserts") {
    // regression: a NaN parked in the worst slot of a not-yet-full buffer
    // used to compare better(x, NaN) = false and block every later row,
    // making the result insertion-order dependent
    val entries = Seq(
      (Double.NaN, 9L, 0L), (1.0, 1L, 10L), (2.0, 2L, 20L), (Double.NaN, 8L, 0L))
    (0 until entries.size).foreach { r =>
      val buf = new TopKBuffer(2)
      (entries.drop(r) ++ entries.take(r)).foreach { case (s, i, p) => buf.insert(s, i, p) }
      val got = (0 until buf.size).map(j => (buf.scores(j), buf.ids(j)))
      assert(got == Seq((2.0, 2L), (1.0, 1L)), s"rotation $r")
    }
    // and through the aggregate
    val df = Seq((Double.NaN, 9L), (1.0, 1L), (2.0, 2L)).toDF("s", "id")
    val agg = df.agg(graft.functions.topk_agg(col("s"), col("id"), lit(0L), 2).as("tk"))
      .select(explode(col("tk")).as("e")).select(col("e.id")).collect().map(_.getLong(0))
    assert(agg.toSeq == Seq(2L, 1L))
  }

  test("topk_agg skips null scores/ids; a null payload is carried as NULL") {
    val df = Seq(
      (Some(3.0), Some(1L), Some(10L)),
      (None, Some(2L), Some(20L)),
      (Some(2.0), None, Some(30L)),
      (Some(1.0), Some(4L), None))
      .toDF("s", "id", "p")
    val got = df.agg(graft.functions.topk_agg(col("s"), col("id"), col("p"), 10).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.id"), col("e.payload")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(got == Seq((1L, Some(10L)), (4L, None)))
  }

  test("topk_agg carries STRUCT payloads opaquely through the shuffle") {
    // a real serving payload: (shard, offset) struct per candidate —
    // must survive the partial/final wire codec and partitioning changes
    val rows = (0 until 300).map(i =>
      (i % 5, i.toLong, (i * 7 % 100).toDouble, i / 10, i * 13L))
    val df = rows.toDF("g", "id", "score", "shard", "off")
      .withColumn("p", struct(col("shard"), col("off")))
    def run(parts: Int) =
      df.repartition(parts)
        .groupBy(col("g"))
        .agg(graft.functions.topk_agg(col("score"), col("id"), col("p"), 3).as("tk"))
        .select(col("g"), explode(col("tk")).as("e"))
        .select(col("g"), col("e.id"), col("e.score"),
          col("e.payload.shard"), col("e.payload.off"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3), r.getLong(4)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy { case (_, id, s, _, _) => (-s, id) }.take(3)
        .map { case (_, id, s, sh, off) => (g, id, s, sh, off) }
    }.sortBy(t => (t._1, -t._3, t._2))
    assert(run(1) == expected)
    assert(run(11) == expected)
    // string payloads too, via SQL (no cast in the registry path)
    df.withColumn("sp", concat(lit("shard-"), col("shard")))
      .createOrReplaceTempView("topk_sp")
    val viaSql = spark.sql(
      """SELECT g, e.payload AS p FROM (
        |  SELECT g, explode(topk_agg(score, id, sp, 1)) AS e
        |  FROM topk_sp GROUP BY g)""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(viaSql.size === 5 && viaSql.values.forall(_.startsWith("shard-")))
  }

  // --------------------------------------------------- quantizedTopK plan

  test("quantizedTopK plans bounded per-partition top-k: no window sort") {
    val df = randVecs(300, 8).toDF("vec_id", "embedding").repartition(3)
    val queries = df.filter(col("vec_id") < 5)
    val res = Similarity.quantizedTopK(df, "vec_id", "embedding", queries, k = 10)
    res.collect()
    // no WindowExec anywhere (the old shape sorted each query's FULL
    // scored candidate set in one task); recurse through AQE stages
    def findWindow(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findWindow(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findWindow(q.plan)
      case _: org.apache.spark.sql.execution.window.WindowExec => true
      case other => other.children.exists(findWindow)
    }
    assert(!findWindow(res.queryExecution.executedPlan),
      "quantizedTopK must not plan a per-query window sort")
    // the aggregate is planned with a PARTIAL stage (bounded k rows per
    // (query, partition) before the shuffle) — either Spark's
    // ObjectHashAggregate pair or SketchAggStrategy's partial/final pair
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SketchPartialAgg"),
      s"expected a partial-capable aggregate, got:\n$plan")
  }

  test("quantizedTopK matches the per-query full-sort reference exactly") {
    val data = randVecs(250, 12, seed = 42)
    val df = data.toDF("vec_id", "embedding").repartition(4)
    val queries = df.filter(col("vec_id") % 50 === 1)
    val got = Similarity.quantizedTopK(df, "vec_id", "embedding", queries, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver-side reference: identical quantization arithmetic + full sort
    def quant(v: Seq[Double]): (Double, Seq[Long]) = {
      val maxAbs = v.map(math.abs).max
      val scale = maxAbs / 127.0
      val codes =
        if (scale == 0.0) v.map(_ => 0L)
        else v.map(x => math.max(-127L, math.min(127L, math.floor(x / scale + 0.5).toLong)))
      (scale, codes)
    }
    val qs = data.filter(_._1 % 50 == 1)
    val expected = qs.flatMap { case (qid, qv) =>
      val (sq, cq) = quant(qv)
      data.filter(_._1 != qid).map { case (nid, nv) =>
        val (sn, cn) = quant(nv)
        val dot = cq.zip(cn).map { case (a, b) => a * b }.sum
        (qid, nid, dot, (sq * sn) * dot)
      }.sortBy { case (_, nid, _, score) => (-score, nid) }.take(8)
        .map { case (q, n, d, _) => (q, n, d) }
    }.toSet
    assert(got == expected)
  }

  // ------------------------------------------------------- batched LSH/IVF

  test("lshTopKBatch equals per-query lshTopKIndexed on the same index") {
    val data = randVecs(400, 16, seed = 5)
    val df = data.toDF("vec_id", "embedding").repartition(4)
    val dir = java.nio.file.Files.createTempDirectory("graft-batch-lsh").toString + "/idx"
    Similarity.writeIndex(df, "embedding", "vec_id", nPlanes = 8, dir)
    val index = Similarity.readIndex(spark, dir)
    val queries = df.filter(col("vec_id") % 100 === 3)
    val batch = Similarity.lshTopKBatch(
      index, "embedding", queries, "vec_id", "embedding", k = 10, nPlanes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq).toMap
    data.filter(_._1 % 100 == 3).foreach { case (qid, qv) =>
      val single = Similarity.lshTopKIndexed(index, "embedding", qv, k = 10, nPlanes = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (-t._2, t._1)).toSeq
      assert(batch(qid) == single, s"query $qid")
    }
  }

  test("ivfTopKQuantizedBatch equals per-query ivfTopKQuantized; probe lists agree") {
    val data = randVecs(400, 16, seed = 9)
    val df = data.toDF("vec_id", "embedding").repartition(4)
    val dir = java.nio.file.Files.createTempDirectory("graft-batch-ivf").toString + "/idx"
    val centroids = Similarity.writeIvfIndexQuantized(
      df, "embedding", "vec_id", k = 6, dir, iters = 2)
    val (index, loaded) = Similarity.readIvfIndex(spark, dir)
    assert(loaded.length == centroids.length)
    val queries = df.filter(col("vec_id") % 100 === 7)
    // executor probe-list kernel == driver probeLists
    val kernelLists = queries.select(col("vec_id"),
      graft.functions.vec_probe_lists(col("embedding"), centroids, 2))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    data.filter(_._1 % 100 == 7).foreach { case (qid, qv) =>
      assert(kernelLists(qid) == Similarity.probeLists(qv, centroids, 2), s"lists $qid")
    }
    val batch = Similarity.ivfTopKQuantizedBatch(
      index, queries, "vec_id", "embedding", centroids, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq).toMap
    data.filter(_._1 % 100 == 7).foreach { case (qid, qv) =>
      val single = Similarity.ivfTopKQuantized(index, qv, centroids, k = 10, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (-t._2, t._1)).toSeq
      assert(batch(qid) == single, s"query $qid")
    }
  }

  test("quantized LSH index: <0.5x footprint, batch == single-query, probe pushdown") {
    val data = randVecs(400, 16, seed = 13)
    val df = data.toDF("vec_id", "embedding").repartition(4)
    val base = java.nio.file.Files.createTempDirectory("graft-qlsh").toString
    Similarity.writeIndexQuantized(df, "embedding", "vec_id", nPlanes = 8, s"$base/q")
    Similarity.writeIndex(df, "embedding", "vec_id", nPlanes = 8, s"$base/f")
    def bytesUnder(p: String): Long =
      new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val qBytes = bytesUnder(s"$base/q")
    val fBytes = bytesUnder(s"$base/f")
    assert(qBytes < fBytes / 2, s"quantized index $qBytes vs float $fBytes")
    val index = Similarity.readIndex(spark, s"$base/q")
    assert(index.columns.contains("vec8") && !index.columns.contains("embedding"))
    // bucket probes still push down to the parquet scan
    val plan = index.filter(col("bucket").isin(0L, 1L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("bucket"),
      s"bucket probe not pushed:\n$plan")
    // batch serving == per-query serving on the identical index
    val queries = df.filter(col("vec_id") % 100 === 11)
    val batch = Similarity.lshTopKQuantizedBatch(
      index, queries, "vec_id", "embedding", k = 10, nPlanes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq).toMap
    data.filter(_._1 % 100 == 11).foreach { case (qid, qv) =>
      val single = Similarity.lshTopKQuantized(index, qv, k = 10, nPlanes = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (-t._2, t._1)).toSeq
      assert(batch(qid) == single, s"query $qid")
      assert(single.nonEmpty)
    }
  }

  test("query-side guards refuse oversized query tables loudly") {
    val df = randVecs(50, 8).toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.quantizedTopK(df, "vec_id", "embedding", df, k = 5, maxQueryRows = 10)
    }
    assert(err.getMessage.contains("maxQueryRows"))
    val err2 = intercept[IllegalArgumentException] {
      Similarity.ivfTopKQuantizedBatch(df.withColumnRenamed("embedding", "vec8"),
        df, "vec_id", "embedding", Array(Array.fill(8)(0.0)), k = 5,
        nprobe = 1, maxQueryRows = 10)
    }
    assert(err2.getMessage.contains("maxQueryRows"))
  }

  test("ann_batch_serving and ann_ivf_pq answer an empty query set") {
    // both queries take the vectors with vec_id % 50 == 3 as their queries
    val dir = java.nio.file.Files.createTempDirectory("graft-no-queries-sf").toString
    try {
      randVecs(500, 32).filter(_._1 % 50 != 3)
        .map { case (id, v) => (id, v.map(_.toFloat), (id % 10).toInt) }
        .toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
      for (q <- Seq("ann_batch_serving", "ann_ivf_pq")) {
        val row = graft.SparkEntry.queries(q)(spark, dir).collect().toSeq
        assert(row.size == 1, q)
        assert(row.head.getLong(0) == 0L, s"$q: no queries")
        (1 until row.head.length).foreach(i =>
          assert(row.head.getBoolean(i), s"$q: ${row.head.schema(i).name} holds vacuously"))
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("k-means on an empty table gives an empty IVF index that serves no matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-sf").toString
    try {
      Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      val df = spark.read.parquet(s"$dir/embeddings.parquet")
      assert(Similarity.kmeansCentroids(df, "embedding", "vec_id", k = 8).isEmpty)
      val cents = Similarity.writeIvfIndexQuantized(df, "embedding", "vec_id", k = 8, s"$dir/ivf", iters = 3)
      assert(cents.isEmpty)
      val (index, read) = Similarity.readIvfIndex(spark, s"$dir/ivf")
      assert(read.isEmpty && index.count() == 0L)
      assert(Similarity.ivfTopKQuantizedBatch(index, df, "vec_id", "embedding", read, k = 10)
        .collect().isEmpty)
      assert(Similarity.ivfTopKQuantized(index, Seq.fill(32)(0.5), read, k = 10).collect().isEmpty)
      // PQ trains the empty quantizer beside it, and it round-trips
      assert(Similarity.pqTrain(df, "embedding", "vec_id", m = 8).isEmpty)
      Similarity.writeIvfPqIndex(df, "embedding", "vec_id", kLists = 8, m = 8, s"$dir/ivfpq",
        ncodes = 32, kmIters = 3, pqIters = 3)
      val (pqIndex, pqCents, codebooks) = Similarity.readIvfPqIndex(spark, s"$dir/ivfpq")
      assert(pqIndex.count() == 0L && pqCents.isEmpty && codebooks.isEmpty)
      assert(Similarity.ivfTopKPqBatch(pqIndex, df, "vec_id", "embedding", pqCents, codebooks, k = 10)
        .collect().isEmpty)
      assert(Similarity.ivfTopKPq(pqIndex, Seq.fill(32)(0.5), pqCents, codebooks, k = 10)
        .collect().isEmpty)
      // both ANN harness queries train their shared fixture and answer no queries
      for (q <- Seq("ann_batch_serving", "ann_ivf_pq")) {
        val row = graft.SparkEntry.queries(q)(spark, dir).collect().toSeq
        assert(row.size == 1 && row.head.getLong(0) == 0L, s"$q: $row")
        (1 until row.head.length).foreach(i =>
          assert(row.head.getBoolean(i), s"$q: ${row.head.schema(i).name} holds vacuously"))
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
