package graft.expr

import org.apache.spark.sql.functions.{col, countDistinct, lit}

import graft.SparkTestBase
import graft.core.{CountMin, Hashing, Hll, Kll, TDigest}
import graft.functions._

class SketchSparkSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  test("hll_agg distributed == driver build (byte-identical), estimate in bound") {
    val n = 20000
    val df = (0 until n).map(i => s"user${i % 7000}").toDF("k")
    val bytes = df.agg(hll_agg(col("k"))).head.getAs[Array[Byte]](0)
    val driver = Hll.empty()
    (0 until n).foreach(i => driver.addHash(Hashing.hashString(s"user${i % 7000}")))
    assert(java.util.Arrays.equals(bytes, driver.toBytes))
    val est = Hll.fromBytes(bytes).estimate
    assert(math.abs(est - 7000) <= 3 * 0.0082 * 7000)
  }

  test("hll partition invariance and union-agg equivalence") {
    val df = (0 until 5000).map(i => s"u$i").toDF("k")
    val whole = df.repartition(3).agg(hll_agg(col("k"))).head.getAs[Array[Byte]](0)
    val other = df.repartition(11).agg(hll_agg(col("k"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(whole, other))
    val unioned = df.withColumn("g", col("k").substr(2, 1))
      .groupBy("g").agg(hll_agg(col("k")).as("s"))
      .agg(hll_union_agg(col("s"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(unioned, whole))
  }

  test("hll_estimate expression and SQL surface") {
    graft.sql.Registry.register(spark)
    (0 until 1000).map(i => s"x$i").toDF("k").createOrReplaceTempView("hll_keys")
    val est = spark.sql(
      "SELECT hll_estimate(hll_agg(k)) AS e FROM hll_keys").head.getLong(0)
    assert(math.abs(est - 1000) <= 3 * 0.0082 * 1000 + 5)
  }

  test("cms distributed == driver build; frequencies never underestimated") {
    val rows = (0 until 10000).map(i => s"key${i % 100}")
    val df = rows.toDF("k")
    val bytes = df.agg(cms_agg(col("k"), 0.001, 0.01)).head.getAs[Array[Byte]](0)
    val driver = CountMin.forError(0.001, 0.01)
    rows.foreach(k => driver.addHash(Hashing.hashString(k)))
    assert(java.util.Arrays.equals(bytes, driver.toBytes))

    val probes = (0 until 100).map(i => s"key$i").toDF("k")
    val ests = probes.select(col("k"), cms_query(lit(bytes), col("k")).as("est")).collect()
    ests.foreach { r =>
      assert(r.getLong(1) >= 100L, s"underestimate for ${r.getString(0)}")
      assert(r.getLong(1) <= 100L + driver.errorBound)
    }
  }

  test("tdigest quantiles via SQL within rank bounds") {
    graft.sql.Registry.register(spark)
    val n = 50000
    val df = (0 until n).map(_.toDouble).toDF("v")
    df.createOrReplaceTempView("td_vals")
    val r = spark.sql(
      """SELECT tdigest_quantile(s, 0.5d) AS q50, tdigest_quantile(s, 0.99d) AS q99
        |FROM (SELECT tdigest_agg(v, 100) AS s FROM td_vals)""".stripMargin).head
    assert(math.abs(r.getDouble(0) / n - 0.5) <= 0.02)
    assert(math.abs(r.getDouble(1) / n - 0.99) <= 0.005)
  }

  test("kll quantile + rank via Column API within epsilon") {
    val n = 60000
    val df = (0 until n).map(i => ((i * 2654435761L) % 1000003).toDouble).toDF("v")
    val bytes = df.agg(kll_agg(col("v"))).head.getAs[Array[Byte]](0)
    val kll = Kll.fromBytes(bytes)
    assert(kll.count === n)
    val sorted = (0 until n).map(i => ((i * 2654435761L) % 1000003).toDouble).sorted
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = Seq(bytes).toDF("s").select(kll_quantile(col("s"), q)).head.getDouble(0)
      val rankErr = math.abs(sorted.count(_ <= est).toDouble / n - q)
      assert(rankErr <= 2 * kll.epsilon, s"q=$q err=$rankErr")
    }
    val rank = Seq(bytes).toDF("s")
      .select(kll_rank(col("s"), lit(sorted(n / 2)))).head.getDouble(0)
    assert(math.abs(rank - 0.5) <= 2 * kll.epsilon)
  }

  test("mg_agg heavy hitters: exact when distinct <= k, topk, SQL, union") {
    import graft.core.MisraGries
    val df = (0 until 18000).map(i => s"type${i % 6}").toDF("k").repartition(4)
    val bytes = df.agg(mg_agg(col("k"), 16)).head.getAs[Array[Byte]](0)
    val mg = MisraGries.fromBytes(bytes)
    assert(mg.decrementedWeight === 0L, "6 distinct <= k: exact")
    (0 until 6).foreach(i => assert(mg.bounds(s"type$i") === ((3000L, 3000L))))

    // topk expression surface
    import org.apache.spark.sql.functions.explode
    val top = Seq(bytes).toDF("s")
      .select(explode(mg_topk(col("s"), 3)).as("e"))
      .select(col("e.item"), col("e.count_lb"), col("e.count_ub"))
      .collect()
    assert(top.length === 3)
    top.foreach(r => assert(r.getLong(1) === 3000L && r.getLong(2) === 3000L))

    // per-group partials merged via mg_union_agg == global (exact case
    // has no decrements, and the codec sorts entries -> byte equality)
    val merged = df.withColumn("g", org.apache.spark.sql.functions.crc32(col("k")) % 4)
      .groupBy(col("g")).agg(mg_agg(col("k"), 16).as("s"))
      .agg(mg_union_agg(col("s"))).head.getAs[Array[Byte]](0)
    assert(merged.toSeq === bytes.toSeq)

    // SQL surface
    graft.sql.Registry.register(spark)
    df.createOrReplaceTempView("mg_keys")
    val viaSql = spark.sql(
      "SELECT mg_topk(mg_agg(k, 16), 6) FROM mg_keys").head.getSeq[Any](0)
    assert(viaSql.size === 6)
  }

  test("cms/tdigest/kll union_agg tree-merge stored partials") {
    val df = (0 until 20000).map(i => (i % 8, (i % 500).toLong, (i % 1000).toDouble))
      .toDF("g", "k", "v")

    // CMS: cell-wise add is exact — merged partials are BYTE-identical to
    // the single global sketch
    val cmsParts = df.groupBy(col("g")).agg(cms_agg(col("k"), 0.001, 0.01).as("s"))
    val cmsMerged = cmsParts.agg(cms_union_agg(col("s"))).head.getAs[Array[Byte]](0)
    val cmsGlobal = df.agg(cms_agg(col("k"), 0.001, 0.01)).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(cmsMerged, cmsGlobal))
    // and SQL surface
    graft.sql.Registry.register(spark)
    cmsParts.createOrReplaceTempView("cms_parts")
    val viaSql = spark.sql("SELECT cms_union_agg(s) FROM cms_parts").head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql, cmsGlobal))

    // t-digest: merged partials answer quantiles within the rank bound
    val tdParts = df.groupBy(col("g")).agg(tdigest_agg(col("v")).as("s"))
    val tdMerged = TDigest.fromBytes(
      tdParts.agg(tdigest_union_agg(col("s"))).head.getAs[Array[Byte]](0))
    Seq(0.1, 0.5, 0.9).foreach { q =>
      val est = tdMerged.quantile(q)
      val rank = df.filter(col("v") <= est).count().toDouble / 20000
      assert(math.abs(rank - q) <= 0.05, s"q=$q est=$est rank=$rank")
    }

    // KLL: merged partials answer ranks within the additive epsilon
    val kllParts = df.groupBy(col("g")).agg(kll_agg(col("v")).as("s"))
    val kllMerged = Kll.fromBytes(
      kllParts.agg(kll_union_agg(col("s"))).head.getAs[Array[Byte]](0))
    assert(kllMerged.count === 20000L)
    Seq(0.25, 0.5, 0.75).foreach { q =>
      val est = kllMerged.quantile(q)
      val rank = df.filter(col("v") <= est).count().toDouble / 20000
      assert(math.abs(rank - q) <= 3 * 2.5 / graft.core.Kll.DefaultK, s"q=$q")
    }

    // null blobs are skipped; empty input yields null
    val empty = df.filter(col("g") < 0).agg(cms_union_agg(lit(null).cast("binary"))).head
    assert(empty.isNullAt(0))
  }

  test("hll estimate agrees with Spark's approx_count_distinct (cross-check)") {
    // SURVEY §7.3: Spark's HLL++ kept as an independent cross-check only
    val df = (0 until 30000).map(i => s"cc${i % 9000}").toDF("k")
    val row = df.agg(
      hll_estimate(hll_agg(col("k"))).as("ours"),
      org.apache.spark.sql.functions.approx_count_distinct(col("k"), 0.01).as("sparks")).head
    val (ours, sparks) = (row.getLong(0), row.getLong(1))
    assert(math.abs(ours - 9000) <= 3 * 0.0082 * 9000)
    // the two independent estimators agree within their combined error
    assert(math.abs(ours - sparks).toDouble / 9000 <= 0.05, s"ours=$ours sparks=$sparks")
  }

  test("tdigest and kll agree with Spark's percentile_approx (cross-check)") {
    // SURVEY §7.3: percentile_approx (GK-ish) kept as independent cross-check
    val df = (0 until 40000).map(i => ((i * 48271L) % 65537).toDouble).toDF("v")
    val row = df.agg(
      tdigest_quantile(tdigest_agg(col("v")), 0.5).as("td"),
      kll_quantile(kll_agg(col("v")), 0.5).as("kll"),
      org.apache.spark.sql.functions.percentile_approx(
        col("v"), lit(0.5), lit(10000)).as("pa")).head
    val (td, kll, pa) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    assert(math.abs(td - pa) / 65537 <= 0.02, s"td=$td pa=$pa")
    assert(math.abs(kll - pa) / 65537 <= 0.02, s"kll=$kll pa=$pa")
  }

  test("tdigest groupBy per-key digests") {
    val df = (0 until 9000).map(i => (s"g${i % 3}", (i % 1000).toDouble)).toDF("g", "v")
    val rows = df.groupBy("g").agg(tdigest_agg(col("v")).as("s"))
      .select(col("g"), tdigest_quantile(col("s"), 0.5).as("med"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.values.foreach(m => assert(math.abs(m - 500) <= 30, s"median $m"))
    assert(rows.size === 3)
  }

  test("hll_intersect_estimate: inclusion-exclusion within compound error") {
    // A = 0..20000, B = 10000..30000 -> true intersection 10000
    val a = (0L until 20000L).toDF("k").agg(hll_agg(col("k"))).head.getAs[Array[Byte]](0)
    val b = (10000L until 30000L).toDF("k").agg(hll_agg(col("k"))).head.getAs[Array[Byte]](0)
    val est = Seq((a, b)).toDF("a", "b")
      .select(hll_intersect_estimate(col("a"), col("b"))).head.getLong(0)
    // three estimates compound: allow 3x the 3-sigma single-sketch bound
    assert(math.abs(est - 10000) <= 3 * 3 * 0.0082 * 30000, s"est=$est")
    // disjoint sets -> near zero (clamped at 0)
    val c = (100000L until 120000L).toDF("k").agg(hll_agg(col("k"))).head.getAs[Array[Byte]](0)
    val estDisjoint = Seq((a, c)).toDF("a", "b")
      .select(hll_intersect_estimate(col("a"), col("b"))).head.getLong(0)
    assert(estDisjoint <= 3 * 3 * 0.0082 * 40000, s"disjoint est=$estDisjoint")
    // SQL surface
    graft.sql.Registry.register(spark)
    Seq((a, b)).toDF("a", "b").createOrReplaceTempView("hll_ab")
    val viaSql = spark.sql("SELECT hll_intersect_estimate(a, b) FROM hll_ab").head.getLong(0)
    assert(viaSql === est)
    // incompatible precision throws
    val hi = (0L until 100L).toDF("k").agg(hll_agg(col("k"), 10)).head.getAs[Array[Byte]](0)
    intercept[Exception] {
      Seq((a, hi)).toDF("a", "b")
        .select(hll_intersect_estimate(col("a"), col("b"))).collect()
    }
  }

  test("cms_inner_product estimates the equi-join cardinality") {
    graft.sql.Registry.register(spark)
    // two key streams with known join size: sum over users of ca*cb
    val a = (0 until 6000).map(i => (i % 300).toLong)   // 20 each
    val b = (0 until 2000).map(i => (i % 500).toLong)   // 4 each
    val exact = {
      val ca = a.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val cb = b.groupBy(identity).view.mapValues(_.size.toLong).toMap
      ca.map { case (k, c) => c * cb.getOrElse(k, 0L) }.sum
    }
    val sa = a.toDF("k").agg(cms_agg(col("k"), 1e-4, 0.001)).head.getAs[Array[Byte]](0)
    val sb = b.toDF("k").agg(cms_agg(col("k"), 1e-4, 0.001)).head.getAs[Array[Byte]](0)
    val est = Seq((sa, sb)).toDF("a", "b")
      .select(cms_inner_product(col("a"), col("b"))).head.getLong(0)
    val slack = math.ceil(math.E / math.ceil(math.E / 1e-4) * 6000.0 * 2000.0).toLong
    assert(est >= exact && est <= exact + slack, s"est=$est exact=$exact")
    // SQL surface
    Seq((sa, sb)).toDF("a", "b").createOrReplaceTempView("cms_ab")
    assert(spark.sql("SELECT cms_inner_product(a, b) FROM cms_ab")
      .head.getLong(0) === est)
  }

  test("kmv_agg distributed == driver build (byte-identical), partition-invariant") {
    val n = 20000
    val df = (0 until n).map(i => s"user${i % 7000}").toDF("k")
    val bytes = df.repartition(5)
      .agg(kmv_agg(col("k"), 256)).head.getAs[Array[Byte]](0)
    val driver = graft.core.Kmv.empty(256)
    (0 until n).foreach(i => driver.add(Hashing.hashString(s"user${i % 7000}")))
    assert(java.util.Arrays.equals(bytes, driver.toBytes))
    val other = df.repartition(13)
      .agg(kmv_agg(col("k"), 256)).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(other, bytes))
    // union-agg of grouped partials == whole-corpus build, byte-identical
    val unioned = df.withColumn("g", col("k").substr(5, 1))
      .groupBy("g").agg(kmv_agg(col("k"), 256).as("s"))
      .agg(kmv_union_agg(col("s"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(unioned, bytes))
  }

  test("kmv exact below k: estimate == countDistinct; null keys skipped") {
    val df = ((0 until 3000).map(i => s"id${i % 700}") :+ null)
      .toDF("k").repartition(4)
    val row = df.agg(
      kmv_agg(col("k"), 1024).as("s"),
      countDistinct(col("k")).as("exact")).head
    val s = graft.core.Kmv.fromBytes(row.getAs[Array[Byte]](0))
    assert(!s.isSaturated)
    assert(s.estimate === row.getLong(1).toDouble)
  }

  test("kmv intersect + describe: exact unsaturated via SQL; bound when saturated") {
    graft.sql.Registry.register(spark)
    // unsaturated: A = 0..800, B = 500..1300 -> intersection exactly 300
    val a = (0L until 800L).toDF("k").agg(kmv_agg(col("k"), 2048)).head.getAs[Array[Byte]](0)
    val b = (500L until 1300L).toDF("k").agg(kmv_agg(col("k"), 2048)).head.getAs[Array[Byte]](0)
    Seq((a, b)).toDF("a", "b").createOrReplaceTempView("kmv_ab")
    val exact = spark.sql(
      "SELECT kmv_intersect_estimate(a, b) AS i, kmv_describe(a).saturated AS sat FROM kmv_ab").head
    assert(exact.getLong(0) === 300L)
    assert(!exact.getBoolean(1))
    // saturated: A = 0..30k, B = 15k..45k -> true intersection 15000
    val k = 2048
    val sa = (0L until 30000L).toDF("k").agg(kmv_agg(col("k"), k)).head.getAs[Array[Byte]](0)
    val sb = (15000L until 45000L).toDF("k").agg(kmv_agg(col("k"), k)).head.getAs[Array[Byte]](0)
    val est = Seq((sa, sb)).toDF("a", "b")
      .select(kmv_intersect_estimate(col("a"), col("b"))).head.getLong(0)
    assert(math.abs(est - 15000) <= 5.0 / math.sqrt(k - 2.0) * 15000 + 10, s"est=$est")
    val d = Seq(sa).toDF("s").select(kmv_describe(col("s"))).head.getStruct(0)
    assert(d.getInt(0) === k && d.getInt(1) === k && d.getBoolean(2))
    assert(d.getDouble(3) > 0.0 && d.getDouble(3) < 1.0)
    // estimate expression agrees with core
    val e = Seq(sa).toDF("s").select(kmv_estimate(col("s"))).head.getLong(0)
    assert(e === math.round(graft.core.Kmv.fromBytes(sa).estimate))
  }

  test("kmv_sample_agg: distributed == driver (byte-identical); exact sample below k") {
    val n = 8000
    val df = (0 until n).map(i => s"user${i % 900}").toDF("k")
    val bytes = df.repartition(7)
      .agg(kmv_sample_agg(col("k"), col("k"), 2048)).head.getAs[Array[Byte]](0)
    val driver = graft.core.KmvSample.empty(2048)
    (0 until n).foreach { i =>
      val v = s"user${i % 900}"
      driver.add(Hashing.hashString(v), v.getBytes("UTF-8"))
    }
    assert(java.util.Arrays.equals(bytes, driver.toBytes))
    // partition-invariant; union of grouped partials == whole build
    val other = df.repartition(3)
      .agg(kmv_sample_agg(col("k"), col("k"), 2048)).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(other, bytes))
    val unioned = df.withColumn("g", col("k").substr(5, 1))
      .groupBy("g").agg(kmv_sample_agg(col("k"), col("k"), 2048).as("s"))
      .agg(kmv_sample_union_agg(col("s"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(unioned, bytes))
    // exact regime: estimate == countDistinct, sample == ALL distinct
    val row = Seq(bytes).toDF("s").select(
      kmv_sample_estimate(col("s")).as("e"),
      kmv_sample_values(col("s")).as("v"),
      kmv_sample_describe(col("s")).getField("saturated").as("sat")).head
    assert(row.getLong(0) === 900L)
    assert(!row.getBoolean(2))
    assert(row.getSeq[String](1).toSet === (0 until 900).map(i => s"user$i").toSet)
  }

  test("kmv_sample saturated: sample == independently recomputed bottom-k; nulls skipped") {
    val df = ((0L until 5000L).map(i => Some(i)) :+ None)
      .toDF("k").repartition(5)
    val k = 128
    val blob = df.agg(kmv_sample_agg(col("k"), col("k").cast("string"), k))
      .head.getAs[Array[Byte]](0)
    val s = graft.core.KmvSample.fromBytes(blob)
    assert(s.isSaturated && s.size === k)
    // recompute the k smallest key hashes with the SAME kernel, in
    // unsigned order (sign-bit XOR turns the signed sort unsigned)
    val expect = df.na.drop().distinct()
      .select(col("k"), abloom_key_hash(col("k")).as("h"))
      .orderBy(col("h").bitwiseXOR(lit(Long.MinValue)))
      .limit(k).collect().map(_.getLong(0).toString).toSet
    assert(s.payloads.map(p => new String(p, "UTF-8")).toSet === expect)
    // null payloads are skipped like null keys
    val np = Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("k", "p")
      .agg(kmv_sample_agg(col("k"), col("p"), 16)).head.getAs[Array[Byte]](0)
    assert(graft.core.KmvSample.fromBytes(np).size === 2)
  }

  test("weighted_sample_agg: distributed == driver byte-identical; exact + saturated laws") {
    val n = 4000
    val rows = (0 until n).map(i => (s"k${i % 700}", 1.0 + (i % 700) % 9))
    val df = rows.toDF("k", "w")
    val bytes = df.repartition(6)
      .agg(weighted_sample_agg(col("k"), col("w"), col("k"), 2048))
      .head.getAs[Array[Byte]](0)
    val driver = graft.core.WeightedSample.empty(2048)
    rows.foreach { case (k, w) =>
      driver.add(Hashing.hashString(k), w, k.getBytes("UTF-8"))
    }
    assert(java.util.Arrays.equals(bytes, driver.toBytes))
    // partition-invariant; grouped-union == whole build
    val other = df.repartition(2)
      .agg(weighted_sample_agg(col("k"), col("w"), col("k"), 2048))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(other, bytes))
    val unioned = df.withColumn("g", col("k").substr(2, 1))
      .groupBy("g")
      .agg(weighted_sample_agg(col("k"), col("w"), col("k"), 2048).as("s"))
      .agg(weighted_sample_union_agg(col("s"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(unioned, bytes))
    // exact regime: all 700 distinct keys retained with their MAX weight
    val es = graft.core.WeightedSample.fromBytes(bytes)
    assert(!es.isSaturated && es.size === 700)
    // saturated: retained == independent top-k by priority
    val k = 64
    val small = df.agg(weighted_sample_agg(col("k"), col("w"), col("k"), k))
      .head.getAs[Array[Byte]](0)
    val ss = graft.core.WeightedSample.fromBytes(small)
    val expect = (0 until 700).map { i =>
      val key = s"k$i"
      val w = rows.filter(_._1 == key).map(_._2).max
      (Hashing.hashString(key), w)
    }.sortWith { case ((h1, w1), (h2, w2)) =>
      val p1 = graft.core.WeightedSample.priority(h1, w1)
      val p2 = graft.core.WeightedSample.priority(h2, w2)
      p1 > p2 || (p1 == p2 && java.lang.Long.compareUnsigned(h1, h2) > 0)
    }.take(k).map(_._1).toSet
    assert(ss.entries.map(_._1).toSet === expect)
    // nulls / invalid weights skipped
    val withBad = Seq(
      (Some("a"), Some(2.0)), (None, Some(1.0)), (Some("b"), None),
      (Some("c"), Some(0.0)), (Some("d"), Some(Double.NaN)))
      .toDF("k", "w")
      .agg(weighted_sample_agg(col("k"), col("w"), col("k"), 16))
      .head.getAs[Array[Byte]](0)
    assert(graft.core.WeightedSample.fromBytes(withBad).size === 1)
    // SQL surface
    graft.sql.Registry.register(spark)
    df.createOrReplaceTempView("ws_in")
    val viaSql = spark.sql(
      """SELECT weighted_sample_describe(s).n AS n,
        |       size(weighted_sample_entries(s)) AS ne
        |FROM (SELECT weighted_sample_agg(k, w, k, 64) AS s FROM ws_in)""".stripMargin)
      .head
    assert(viaSql.getInt(0) === 64 && viaSql.getInt(1) === 64)
  }

  test("kmv_sample SQL surface + hoist rule keeps the update path a getLong") {
    graft.sql.Registry.register(spark)
    (0 until 1000).map(i => s"u${i % 50}").toDF("k")
      .createOrReplaceTempView("kmvs_in")
    val row = spark.sql(
      """SELECT kmv_sample_estimate(s) AS e,
        |       size(kmv_sample_values(s)) AS nv,
        |       kmv_sample_describe(s).k AS kk
        |FROM (SELECT kmv_sample_agg(k, k, 64) AS s FROM kmvs_in)""".stripMargin)
      .head
    assert(row.getLong(0) === 50L && row.getInt(1) === 50 && row.getInt(2) === 64)
    // the hoist rule moves abloom_key_hash below the Aggregate: the agg's
    // key child must be a plain attribute in the optimized plan
    val agg = spark.sql("SELECT kmv_sample_agg(k, k, 64) FROM kmvs_in")
    val hoisted = agg.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.exists(_.exists {
          case ks: SketchBuildAgg[_] if ks.kernel eq KmvSampleKernel =>
            ks.children.head.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]
          case _ => false
        })
    }
    assert(hoisted.contains(true), "abloom_key_hash not hoisted")
  }
}
