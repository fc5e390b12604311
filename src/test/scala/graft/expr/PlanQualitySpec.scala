package graft.expr

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkTestBase
import graft.functions._

/** Plan-quality assertions: the properties that make these operators hold
  * up at 100 TB — column pruning to the scan, bloom pre-filter running
  * before the join, broadcast (not shuffle) semi-joins, no cartesian
  * products in the LSH pipelines — plus SQL-surface error paths.
  */
class PlanQualitySpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  test("bloom_semi_join: pruned scan, bloom filter pre-join, broadcast semi-join") {
    val df = graft.SparkEntry.queries("bloom_semi_join")(spark, sf)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // lineitem scan reads only the 3 needed columns
    assert(formatted.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      "column pruning reached the lineitem scan")
    // bloom probe is a Filter, and the exact join is broadcast
    assert(formatted.contains("bloom_contains"))
    assert(formatted.contains("BroadcastHashJoin"), "semi join must be broadcast")
    assert(!formatted.contains("SortMergeJoin"))
    assert(!formatted.contains("CartesianProduct"))
  }

  test("probeFilter is size-gated: literal below 1 MB, broadcast above") {
    import org.apache.spark.sql.GraftBridge
    val small = new Array[Byte](1024)
    val big = new Array[Byte](SketchQuery.LitMaxBytes + 1)
    val smallExpr = GraftBridge.expression(
      graft.SparkEntry.probeFilter(spark, small, col("k")))
    val bigExpr = GraftBridge.expression(
      graft.SparkEntry.probeFilter(spark, big, col("k")))
    assert(smallExpr match {
      case SketchQuery(_, _, SketchOp.BloomContains) => true
      case _ => false
    }, s"small filter should ship as a literal, got $smallExpr")
    assert(bigExpr match {
      case SketchBroadcastQuery(_, _, SketchOp.BloomContains) => true
      case _ => false
    }, s"large filter must ship as a broadcast, got $bigExpr")
  }

  test("dedup LSH pipelines contain no cartesian product") {
    for (q <- Seq("dedup_minhash", "dedup_simhash", "embedding_pairs")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plan")
    }
  }

  test("embeddingPairs API goes through LSH buckets, not all-pairs") {
    val df = (0 until 50).map(i => (i.toLong, Seq.tabulate(8)(d => (i * 0.1 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val plan = graft.ops.Dedup.embeddingPairs(df, "embedding", "vec_id", 0.99)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bloom_contains probe stays inside whole-stage codegen") {
    val filter = Seq("x").toDF("k").agg(bloom_agg(col("k"), 100, 0.01))
      .head.getAs[Array[Byte]](0)
    val df = spark.range(100).select(col("id").as("k"))
      .filter(bloom_contains(lit(filter), col("k")))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Filter bloom_contains"), plan)
    // and it evaluates correctly through the generated path
    assert(df.count() >= 0)
  }

  test("SQL error paths: incompatible union, bad args, corrupt bytes") {
    graft.sql.Registry.register(spark)
    val a = Seq("x").toDF("k").agg(bloom_agg(col("k"), 100, 0.01)).head.getAs[Array[Byte]](0)
    val b = Seq("y").toDF("k").agg(bloom_agg(col("k"), 200, 0.01)).head.getAs[Array[Byte]](0)

    // incompatible parameters -> the reference's merge error
    val e1 = intercept[Exception] {
      Seq((a, b)).toDF("a", "b").select(bloom_union(col("a"), col("b"))).collect()
    }
    assert(e1.getMessage != null)

    // corrupt bytes -> typed wire-format rejection surfaces
    val corrupt = a.clone(); corrupt(0) = 'X'
    val e2 = intercept[Exception] {
      Seq(corrupt).toDF("f").select(bloom_describe(col("f"))).collect()
    }
    assert(e2.getMessage.contains("magic") || e2.getCause != null)

    // type errors are analysis-time, not runtime
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1.5).toDF("f").select(bloom_describe(col("f"))).collect()
    }
    assert(e3.getMessage.contains("binary"))
  }

  test("bloom_is_empty semantics (SQL + Column)") {
    graft.sql.Registry.register(spark)
    val empty = Seq.empty[String].toDF("k").agg(bloom_agg(col("k"), 100, 0.01))
      .head.getAs[Array[Byte]](0)
    val nonEmpty = Seq("x").toDF("k").agg(bloom_agg(col("k"), 100, 0.01))
      .head.getAs[Array[Byte]](0)
    val rows = Seq((empty, nonEmpty)).toDF("e", "n")
      .select(bloom_is_empty(col("e")), bloom_is_empty(col("n"))).head
    assert(rows.getBoolean(0) === true && rows.getBoolean(1) === false)
    Seq(empty).toDF("f").createOrReplaceTempView("empty_f")
    assert(spark.sql("SELECT bloom_is_empty(f) FROM empty_f").head.getBoolean(0))
  }

  test("filter equality via plain binary = (deterministic encoding)") {
    val k = (0 until 100).map(i => s"eq$i")
    val f1 = k.toDF("k").repartition(2).agg(bloom_agg(col("k"), 500, 0.01))
      .head.getAs[Array[Byte]](0)
    val f2 = k.toDF("k").repartition(7).agg(bloom_agg(col("k"), 500, 0.01))
      .head.getAs[Array[Byte]](0)
    val eq = Seq((f1, f2)).toDF("a", "b").selectExpr("a = b").head.getBoolean(0)
    assert(eq)
  }
}
