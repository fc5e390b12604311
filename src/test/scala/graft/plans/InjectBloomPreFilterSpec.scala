package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.expr.{SketchOp, SketchQuery}

/** The automatic ABLM bloom join pre-filter rule: injection conditions,
  * join-type safety matrix, and end-to-end result equivalence.
  */
class InjectBloomPreFilterSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private val isBloomProbe: org.apache.spark.sql.catalyst.expressions.Expression => Boolean = {
    case SketchQuery(_, _, SketchOp.BloomContains) => true
    case _ => false
  }

  private def withConf[A](pairs: (String, String)*)(f: => A): A = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("injects a bloom pre-filter on the large side of a plain equi-join") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.runtimeFilter.applicationSideMinSize" -> "10000",
      "spark.graft.runtimeFilter.capacity" -> "10000") {
      val large = spark.range(0, 50000).select(col("id").as("k"), (col("id") * 2).as("v"))
      val small = spark.range(0, 50000, 250).select(col("id").as("j"))
      val joined = large.join(small, col("k") === col("j"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_contains"), opt)
      // subquery aggregate builds the ABLM filter over the small side
      assert(opt.contains("bloom_agg"), opt)
      // exact join semantics preserved through execution
      assert(joined.count() === 200)
    }
  }

  test("no injection when disabled or below the size gates") {
    val large = spark.range(0, 10000).toDF("k")
    val small = spark.range(0, 10).toDF("j")
    withConf(
      "spark.graft.runtimeFilter.enabled" -> "false",
      "spark.graft.runtimeFilter.applicationSideMinSize" -> "0") {
      val opt = large.join(small, col("k") === col("j"))
        .queryExecution.optimizedPlan.toString
      assert(!opt.contains("bloom_contains"))
    }
    // default thresholds: tiny tables never qualify (filtering a small
    // scan is pure overhead)
    val opt2 = large.join(small, col("k") === col("j"))
      .queryExecution.optimizedPlan.toString
    assert(!opt2.contains("bloom_contains"))
  }

  test("join-type safety matrix: full outer never, left outer only right side") {
    val left = spark.range(0, 5000).toDF("k")
    val right = spark.range(0, 2000).toDF("j")
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.runtimeFilter.applicationSideMinSize" -> "0") {
      val fo = left.join(right, col("k") === col("j"), "full_outer")
        .queryExecution.optimizedPlan.toString
      assert(!fo.contains("bloom_contains"), "full outer must not be pruned")

      val lo = left.join(right, col("k") === col("j"), "left_outer")
      val opt = lo.queryExecution.optimizedPlan
      val bloomFilters = opt.collect {
        case f: Filter if f.condition.exists(isBloomProbe) => f
      }
      assert(bloomFilters.size === 1, s"exactly the right side pruned:\n$opt")
      val j = opt.collectFirst { case jn: Join => jn }.get
      assert(!j.left.exists {
        case f: Filter => f.condition.exists(isBloomProbe)
        case _ => false
      }, "left outer must keep unmatched left rows -> left side unpruned")
      // all 5000 left rows survive
      assert(lo.count() === 5000)
    }
  }

  test("rule is idempotent under the fixpoint batch (exactly one filter per side)") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.runtimeFilter.applicationSideMinSize" -> "0") {
      val large = spark.range(0, 30000).toDF("k")
      val small = spark.range(0, 100).toDF("j")
      val opt = large.join(small, col("k") === col("j"), "left_semi")
        .queryExecution.optimizedPlan
      val n = opt.collect {
        case f: Filter if f.condition.exists(isBloomProbe) => f
      }.size
      assert(n <= 2, s"one bloom filter per prunable side at most:\n$opt")
      assert(n >= 1)
    }
  }

  test("broadcastable creation sides are skipped by default (BHJ regime)") {
    // default autoBroadcastJoinThreshold (10 MB) >> this tiny side: the
    // join becomes a BHJ whose own probe subsumes a bloom pre-filter
    withConf(
      "spark.graft.runtimeFilter.applicationSideMinSize" -> "0",
      "spark.graft.runtimeFilter.capacity" -> "10000") {
      val large = spark.range(0, 50000).toDF("k")
      val small = spark.range(0, 200).toDF("j")
      val opt = large.join(small, col("k") === col("j")).queryExecution.optimizedPlan
      assert(!opt.toString.contains("bloom_contains"),
        "no pre-filter in front of a broadcast join")
      // opt-out restores injection
      withConf("spark.graft.runtimeFilter.skipBroadcastable" -> "false") {
        val opt2 = large.join(small, col("k") === col("j")).queryExecution.optimizedPlan
        assert(opt2.toString.contains("bloom_contains"))
      }
    }
  }

  test("creation side with a shuffle is scanned once: AQE reuses its exchange") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.runtimeFilter.applicationSideMinSize" -> "10000",
      "spark.graft.runtimeFilter.capacity" -> "10000") {
      import org.apache.spark.sql.functions.sum
      // creation side contains its own Exchange (groupBy aggregate)
      val small = spark.range(0, 20000)
        .select((col("id") % 97).as("j"), col("id").as("x"))
        .groupBy(col("j")).agg(sum(col("x")).as("sx"))
      val large = spark.range(0, 200000).select(col("id").as("k"))
      val joined = large.join(small, col("k") === col("j"))
      assert(joined.queryExecution.optimizedPlan.toString.contains("bloom_contains"))
      joined.collect() // materialize: AQE finalizes subquery + main stages
      val exec = joined.queryExecution.executedPlan.toString
      assert(exec.contains("ReusedExchange"),
        s"the subquery must reuse the join side's aggregate exchange:\n${exec.take(4000)}")
    }
  }

  test("bare-scan creation side: the subquery scan reads only the key column") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prefilter").toString + "/t"
    (0L until 500L).map(i => (i, s"pad_$i", i * 2.5)).toDF("j", "pad", "extra")
      .write.parquet(dir)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.runtimeFilter.applicationSideMinSize" -> "10000",
      "spark.graft.runtimeFilter.capacity" -> "10000") {
      val small = spark.read.parquet(dir)
      val large = spark.range(0, 100000).select(col("id").as("k"))
      val joined = large.join(small.select(col("j")), col("k") === col("j"))
      val exec = joined.queryExecution.executedPlan.toString
      assert(exec.contains("bloom_contains"), exec.take(2000))
      // the subquery's parquet scan must be pruned to the key column
      val subqueryScans = exec.linesIterator
        .filter(l => l.contains("FileScan parquet") && l.contains("ReadSchema"))
        .toSeq
      assert(subqueryScans.nonEmpty)
      subqueryScans.foreach { l =>
        assert(l.contains("ReadSchema: struct<j:bigint>"), l)
      }
    }
  }

  test("injected plan returns the identical result as the plain join") {
    val large = (0L until 20000L).map(i => (i % 997, i)).toDF("k", "v")
    val small = (0L until 30L).map(i => i * 13).toDF("j")
    val expected = withConf("spark.graft.runtimeFilter.enabled" -> "false") {
      large.join(small, col("k") === col("j")).collect().map(_.toSeq).toSet
    }
    val actual = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.graft.runtimeFilter.applicationSideMinSize" -> "1000",
      "spark.graft.runtimeFilter.capacity" -> "1000") {
      val df = large.join(small, col("k") === col("j"))
      assert(df.queryExecution.optimizedPlan.toString.contains("bloom_contains"))
      df.collect().map(_.toSeq).toSet
    }
    assert(actual === expected)
    assert(actual.nonEmpty)
  }
}
