package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions._

/** The custom sketch aggregation physical operator must (a) actually
  * replace ObjectHashAggregate for all-sketch aggregates, (b) produce
  * results identical to the built-in path, including under partial-map
  * flushes, nulls, global aggregates, and SQL, and (c) bail out cleanly
  * on mixed/distinct/filtered aggregates.
  */
class SketchAggExecSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private def collectPhysical(df: DataFrame): Seq[SparkPlan] = {
    // materialize first so AQE has a final plan
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    flatten(df.queryExecution.executedPlan)
  }

  private def groups = spark.range(0L, 30000L, 1L, 6)
    .select((col("id") % 500).as("g"), col("id").as("k"))

  private def withBuiltin[T](f: => T): T = {
    spark.conf.set("spark.graft.sketchAgg.enabled", "false")
    try f finally spark.conf.set("spark.graft.sketchAgg.enabled", "true")
  }

  test("grouped sketch aggregate plans as GraftSketchAgg, not ObjectHashAggregate") {
    val df = groups.groupBy(col("g")).agg(hll_agg(col("k")).as("h"))
    val plan = collectPhysical(df)
    assert(plan.exists(_.isInstanceOf[SketchFinalAggExec]))
    assert(plan.exists(_.isInstanceOf[SketchPartialAggExec]))
    assert(!plan.exists(_.isInstanceOf[ObjectHashAggregateExec]))
    // exactly ONE exchange: partials aggregate map-side, only serialized
    // sketches cross the wire
    val exchanges = plan.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(exchanges === 1, s"expected 1 exchange, got $exchanges")
  }

  test("grouped results byte-identical to the built-in path (hll + bloom + cms)") {
    def run() = groups.groupBy(col("g"))
      .agg(
        hll_agg(col("k")).as("h"),
        bloom_agg(col("k"), 100, 0.01).as("b"),
        cms_agg(col("k"), 0.01, 0.01).as("c"))
      .orderBy(col("g"))
      .collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq,
        r.getAs[Array[Byte]](2).toSeq, r.getAs[Array[Byte]](3).toSeq))
    val custom = run()
    val builtin = withBuiltin(run())
    assert(custom.toSeq === builtin.toSeq)
  }

  test("flush threshold 4 (many partials per group) still exact") {
    spark.conf.set("spark.graft.sketchAgg.flushThreshold", "4")
    try {
      val custom = groups.groupBy(col("g")).agg(hll_agg(col("k")).as("h"))
        .orderBy(col("g")).collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
      val builtin = withBuiltin {
        groups.groupBy(col("g")).agg(hll_agg(col("k")).as("h"))
          .orderBy(col("g")).collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
      }
      assert(custom.toSeq === builtin.toSeq)
    } finally spark.conf.unset("spark.graft.sketchAgg.flushThreshold")
  }

  test("global (ungrouped) aggregate and empty input") {
    val df = groups.agg(bloom_agg(col("k"), 30000, 0.01).as("b"))
    assert(collectPhysical(df).exists(_.isInstanceOf[SketchFinalAggExec]))
    val bytes = df.head().getAs[Array[Byte]](0)
    val builtin = withBuiltin(
      groups.agg(bloom_agg(col("k"), 30000, 0.01)).head().getAs[Array[Byte]](0))
    assert(java.util.Arrays.equals(bytes, builtin))

    val empty = groups.filter(col("k") < 0)
      .agg(hll_agg(col("k")).as("h"))
    val row = empty.collect()
    assert(row.length === 1, "empty global aggregate still emits one row")
    assert(graft.core.Hll.fromBytes(row(0).getAs[Array[Byte]](0)).estimate === 0L)
  }

  test("null group keys and null values match the built-in path") {
    val df = spark.range(0L, 5000L, 1L, 4).select(
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 5).as("g"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id")).as("k"))
    def run() = df.groupBy(col("g")).agg(hll_agg(col("k")).as("h"))
      .collect().map(r => (Option(r.get(0)), r.getAs[Array[Byte]](1).toSeq)).sortBy(_.toString)
    val custom = run()
    val builtin = withBuiltin(run())
    assert(custom.toSeq === builtin.toSeq)
  }

  test("order-sensitive sketches (tdigest/kll) stay within bounds through the custom plan") {
    val vals = spark.range(0L, 20000L, 1L, 6)
      .select((col("id") % 4).as("g"), col("id").cast("double").as("v"))
    val rows = vals.groupBy(col("g"))
      .agg(tdigest_agg(col("v")).as("td"), kll_agg(col("v")).as("kl"))
      .collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val td = graft.core.TDigest.fromBytes(r.getAs[Array[Byte]](1))
      assert(td.count === 5000.0)
      val med = td.quantile(0.5)
      // group g holds values {g, g+4, g+8, ...}: median ~ 10000
      assert(math.abs(med - 10000.0) <= 400.0, s"median $med")
      val kl = graft.core.Kll.fromBytes(r.getAs[Array[Byte]](2))
      assert(kl.count === 5000L)
      assert(math.abs(kl.rank(kl.quantile(0.5)) - 0.5) <= kl.epsilon + 1e-9)
    }
  }

  test("mixed sketch+builtin aggregates fall back to ObjectHashAggregate") {
    val df = groups.groupBy(col("g"))
      .agg(hll_agg(col("k")).as("h"), count(lit(1)).as("c"))
    val plan = collectPhysical(df)
    assert(!plan.exists(_.isInstanceOf[SketchFinalAggExec]))
    assert(df.count() === 500)
  }

  test("distinct and filtered sketch aggregates fall back") {
    groups.createOrReplaceTempView("sk_groups")
    val filtered = spark.sql(
      "SELECT g, hll_agg(k) FILTER (WHERE k % 2 = 0) AS h FROM sk_groups GROUP BY g")
    assert(!collectPhysical(filtered).exists(_.isInstanceOf[SketchFinalAggExec]))
    assert(filtered.count() === 500)
  }

  test("SQL path with expression over the sketch result and grouping expr reuse") {
    groups.createOrReplaceTempView("sk_groups")
    val df = spark.sql(
      """SELECT g % 10 AS gm, hll_estimate(hll_union_agg(h)) AS est
        |FROM (SELECT g, hll_agg(k) AS h FROM sk_groups GROUP BY g)
        |GROUP BY g % 10 ORDER BY gm""".stripMargin)
    assert(collectPhysical(df).exists(_.isInstanceOf[SketchFinalAggExec]))
    val rows = df.collect()
    assert(rows.length === 10)
    // each gm covers 50 groups x 60 distinct keys = 3000 distinct
    rows.foreach(r => assert(math.abs(r.getLong(1) - 3000L) <= 3000 * 3 * 0.0082 + 1))
  }

  test("multi-column string+long grouping keys match the built-in path") {
    // variable-length group keys exercise UnsafeRow copy/equality in the
    // partial map, plus grouping-expression (not attribute) keys
    val df = spark.range(0L, 20000L, 1L, 5).select(
      concat(lit("grp_"), (col("id") % 37).cast("string")).as("gs"),
      (col("id") % 11).as("gl"),
      col("id").as("k"))
    def run() = df.groupBy(col("gs"), col("gl"))
      .agg(hll_agg(col("k")).as("h"), bloom_agg(col("k"), 2000, 0.01).as("b"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Array[Byte]](2).toSeq, r.getAs[Array[Byte]](3).toSeq))
      .sortBy(t => (t._1, t._2))
    val custom = run()
    assert(custom.length === 37 * 11)
    val builtin = withBuiltin(run())
    assert(custom.toSeq === builtin.toSeq)

    // grouping EXPRESSION (alias of a computation) rather than attribute
    val expr = df.groupBy((col("gl") * 2).as("g2"))
      .agg(hll_agg(col("k")).as("h"))
    assert(collectPhysical(expr).exists(_.isInstanceOf[SketchFinalAggExec]))
    assert(expr.count() === 11)
  }

  test("byte budget flushes large-capacity buffers after a handful of groups") {
    // 2 MB budget vs ~1.2 MB-per-group filters: the partial map must
    // flush at ~1 group, not hold flushThreshold x 1.2 MB live; results
    // still byte-identical to the built-in path
    spark.conf.set("spark.graft.sketchAgg.flushBytes", (2L << 20).toString)
    try {
      def run() = groups.groupBy(col("g"))
        .agg(bloom_agg(col("k"), 1000000, 0.01).as("b"))
        .orderBy(col("g")).collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
      val custom = run()
      val builtin = withBuiltin(run())
      assert(custom.toSeq === builtin.toSeq)
    } finally spark.conf.unset("spark.graft.sketchAgg.flushBytes")
  }

  test("non-positive flush threshold fails fast instead of dropping data") {
    spark.conf.set("spark.graft.sketchAgg.flushThreshold", "0")
    try {
      val e = intercept[Exception] {
        groups.groupBy(col("g")).agg(hll_agg(col("k")).as("h")).collect()
      }
      assert(e.getMessage.contains("flushThreshold"))
    } finally spark.conf.unset("spark.graft.sketchAgg.flushThreshold")
  }

  test("grouping sets (rollup) plan through the custom exec and match built-in") {
    val df = spark.range(0L, 10000L, 1L, 4).select(
      (col("id") % 5).as("a"), (col("id") % 3).as("b"), col("id").as("k"))
    def run() = df.rollup(col("a"), col("b"))
      .agg(hll_agg(col("k")).as("h"))
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_.toString)
    val custom = run()
    assert(custom.length === 5 * 3 + 5 + 1)
    assert(collectPhysical(df.rollup(col("a"), col("b")).agg(hll_agg(col("k"))))
      .exists(_.isInstanceOf[SketchFinalAggExec]))
    val builtin = withBuiltin(run())
    assert(custom.toSeq === builtin.toSeq)
  }

  test("randomized shapes: custom plan equals built-in across seeded configurations") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val nRows = 1000 + rnd.nextInt(9000)
      val nGroups = 1 + rnd.nextInt(300)
      val nullPct = rnd.nextInt(30)
      val parts = 1 + rnd.nextInt(7)
      val flush = 1 + rnd.nextInt(64)
      val df = spark.range(0L, nRows, 1L, parts).select(
        when(rand(trial) * 100 < nullPct, lit(null))
          .otherwise(col("id") % nGroups).as("g"),
        when(rand(trial + 100) * 100 < nullPct, lit(null))
          .otherwise(col("id") * 7919L).as("k"))
        .cache() // rand() is per-evaluation; freeze the data across both runs
      df.count()
      try {
        spark.conf.set("spark.graft.sketchAgg.flushThreshold", flush.toString)
        def run() = df.groupBy(col("g"))
          .agg(hll_agg(col("k")).as("h"), cms_agg(col("k"), 0.01, 0.01).as("c"))
          .collect()
          .map(r => (Option(r.get(0)), r.getAs[Array[Byte]](1).toSeq,
            r.getAs[Array[Byte]](2).toSeq))
          .sortBy(_._1.toString)
        val custom = run()
        val builtin = withBuiltin(run())
        assert(custom.toSeq === builtin.toSeq,
          s"trial $trial: rows=$nRows groups=$nGroups nulls=$nullPct% parts=$parts flush=$flush")
      } finally {
        spark.conf.unset("spark.graft.sketchAgg.flushThreshold")
        df.unpersist()
      }
    }
  }

  test("high-cardinality stress: 100k groups, flushes engage, bytes match built-in") {
    // the cardinality the operator exists for — far past
    // ObjectHashAggregate's 128-group sort fallback. Bounded-memory
    // partial maps MUST flush (metric-asserted) and the final result
    // must equal the built-in plan byte for byte.
    val rows = 400000L
    val nGroups = 100000
    val df = spark.range(0L, rows, 1L, 4).select(
      (col("id") % nGroups).as("g"), col("id").as("k"))
    spark.conf.set("spark.graft.sketchAgg.flushThreshold", "8192")
    try {
      def run() = df.groupBy(col("g"))
        .agg(bloom_agg(col("k"), 16, 0.02).as("f"))
        .collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
        .sortBy(_._1)
      val customDf = df.groupBy(col("g")).agg(bloom_agg(col("k"), 16, 0.02).as("f"))
      val custom = customDf.collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
      // flushes actually happened (each 100k-row partition vs an 8192-group map)
      val partial = collectPhysical(customDf)
        .collectFirst { case p: SketchPartialAggExec => p }
      assert(partial.isDefined, "custom partial operator missing from the plan")
      val flushes = partial.get.metrics("numFlushes").value
      assert(flushes > 0, s"expected partial-map flushes at 100k groups, got $flushes")
      val builtin = withBuiltin(run())
      assert(custom.length === nGroups)
      assert(custom.toSeq === builtin.toSeq, "high-cardinality custom != builtin")
    } finally spark.conf.unset("spark.graft.sketchAgg.flushThreshold")
  }

  test("GROWABLE sketch buffers trip the sampled live-byte flush, not just the empty-buffer estimate") {
    // Misra-Gries serializes ~29 B empty but grows to ~1-2 KB once its k
    // counters fill — an empty-buffer byte estimate alone would let a
    // wide-group map blow the budget silently. flushBytes is set so the
    // EMPTY estimate admits all 1000 groups while the GROWN buffers
    // exceed it: flushes must still fire (live sampling), and results
    // must match the built-in plan.
    // 59 is coprime to the 1000-group modulus, so every group sees all 59
    // distinct values (the MG genuinely grows to ~1.2 KB serialized) while
    // staying UNDER k=64 — at <= k distinct keys MG counts are exact and
    // order-independent, so flushed partials must still merge to bytes
    // identical to the built-in plan
    val df = spark.range(0L, 120000L, 1L, 3).select(
      (col("id") % 1000).as("g"),
      concat(lit("value_"), (col("id") % 59).cast("string")).as("v"))
    spark.conf.set("spark.graft.sketchAgg.flushBytes", (400L << 10).toString)
    try {
      def run() = df.groupBy(col("g")).agg(mg_agg(col("v"), 64).as("m"))
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
      val customDf = df.groupBy(col("g")).agg(mg_agg(col("v"), 64).as("m"))
      val custom = customDf.collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
      val partial = collectPhysical(customDf)
        .collectFirst { case p: SketchPartialAggExec => p }
      assert(partial.isDefined)
      assert(partial.get.metrics("numFlushes").value > 0,
        "grown MG buffers exceeded the byte budget but no flush fired")
      val builtin = withBuiltin(run())
      assert(custom.length === 1000)
      assert(custom.toSeq === builtin.toSeq)
    } finally spark.conf.unset("spark.graft.sketchAgg.flushBytes")
  }

  test("long-key map: reset drops flushed buffers; lowest slot tracks inserts and growth") {
    val m = new LongKeyBufferMap(() => Array[Any](new Object))
    def firstOccupied = (0 until m.capacity).find(m.occupied).getOrElse(m.capacity)
    (0L until 3000L).foreach(m.getOrInsert) // grows 1024 -> 8192 slots
    assert(m.size === 3000 && m.capacity === 8192)
    assert(m.lowest === firstOccupied)
    m.reset()
    assert(m.size === 0 && m.lowest === m.capacity)
    // a low-cardinality chunk whose slots all lie past the first 256
    val late = Iterator.from(100000).map(_.toLong)
      .filter(k => (graft.core.Hashing.mix64(k).toInt & (m.capacity - 1)) >= 256)
      .take(3).toSeq
    late.foreach(m.getOrInsert)
    assert(m.lowest === firstOccupied && m.lowest >= 256)
    assert((0 until m.capacity).forall(i => m.occupied(i) || m.buffers(i) == null),
      "a slot that is not occupied still references a flushed buffer")
  }

  test("grown long-key table + low-cardinality chunk past slot 256: byte-budget flush fires") {
    // chunk 1: 2000 single-row groups hit the group rail (flushThreshold)
    // and leave the table grown to 4096 slots. chunk 2: group A collects
    // 3000 distinct 120-char values (its MG grows to ~400 KB), then group
    // B repeats one value; the 8192-row byte sample lands on B (small),
    // so only the live-byte probe of the lowest occupied slot (A) can see
    // that the two groups exceed the 400 KB budget. Both keys' slots lie
    // past 256, where a bounded prefix scan finds nothing.
    val cap = 4096
    def slot(k: Long) = graft.core.Hashing.mix64(k).toInt & (cap - 1)
    val Seq(a, b) = Iterator.from(1000000).map(_.toLong).filter(slot(_) >= 256)
      .take(2).toSeq.sortBy(slot)
    val pad = "x" * 120
    val rows = (0L until 2000L).map(k => (k, "v")) ++
      (0 until 3000).map(i => (a, s"$pad$i")) ++
      (0 until 4000).map(_ => (b, "v"))
    val df = spark.sparkContext.parallelize(rows, 1).toDF("g", "v")
      .groupBy(col("g")).agg(mg_agg(col("v"), 4096).as("m"))
    spark.conf.set("spark.graft.sketchAgg.flushThreshold", "2000")
    spark.conf.set("spark.graft.sketchAgg.flushBytes", (400L << 10).toString)
    try {
      // ONE execution: a second collect would add to the same metric
      val partial = collectPhysical(df).collectFirst { case p: SketchPartialAggExec => p }
      assert(partial.isDefined)
      assert(partial.get.metrics("numFlushes").value === 2,
        "the grown-table chunk exceeded the byte budget but no flush fired")
    } finally {
      spark.conf.unset("spark.graft.sketchAgg.flushThreshold")
      spark.conf.unset("spark.graft.sketchAgg.flushBytes")
    }
  }

  test("sql_surface harness query's sketch CTE is planned by SketchAggStrategy") {
    // the harness query splits its exact count(DISTINCT) into a separate
    // scan precisely so the all-sketch aggregate plans through the custom
    // exec end-to-end via SQL — pin that shape here
    val df = graft.SparkEntry.queries("sql_surface")(spark, "/root/testdata/sf0.001")
    val plan = collectPhysical(df)
    assert(plan.exists(_.isInstanceOf[SketchFinalAggExec]),
      "sql_surface's sketch aggregate no longer plans through SketchAggStrategy")
    assert(plan.exists(_.isInstanceOf[SketchPartialAggExec]))
  }

  test("disabled by conf: built-in plan returns") {
    withBuiltin {
      val df = groups.groupBy(col("g")).agg(hll_agg(col("k")).as("h"))
      assert(!collectPhysical(df).exists(_.isInstanceOf[SketchFinalAggExec]))
    }
  }
}
