package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, concat, lit, when}
import org.apache.spark.sql.types.{BooleanType, LongType}

import graft.SparkTestBase
import graft.functions._

/** The one sketch-query expression, table-driven over every [[SketchOp]]
  * and the four broadcast filter overloads, plus the task lifetime of the
  * codec's parse slot.
  */
class SketchQuerySpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private lazy val data = (0 until 100).map(i => (s"k$i", i.toDouble)).toDF("k", "v")
  private def build(agg: Column): Array[Byte] = data.agg(agg).head.getAs[Array[Byte]](0)

  private lazy val bloom = build(bloom_agg(col("k"), 1000, 0.01))
  private lazy val cbf = build(cbf_agg(col("k"), 1000, 0.01))
  private lazy val sbf = build(sbf_agg(col("k")))
  private lazy val cms = build(cms_agg(col("k"), 0.01, 0.01))
  private lazy val tdigest = build(tdigest_agg(col("v")))
  private lazy val kll = build(kll_agg(col("v")))

  /** One op: its sketch, its Column form, the SQL argument that form
    * matches (the table's `a` column, or the constant a quantile's Column
    * form takes) and its broadcast form.
    */
  private case class Case(
      op: SketchOp,
      sketch: () => Array[Byte],
      column: (Column, Column) => Column,
      sqlArg: String = "a",
      broadcast: Option[(Broadcast[Array[Byte]], Column) => Column] = None)

  private val cases = Seq(
    Case(SketchOp.BloomContains, () => bloom, bloom_contains(_, _),
      broadcast = Some(bloom_contains(_, _))),
    Case(SketchOp.CbfContains, () => cbf, cbf_contains(_, _), broadcast = Some(cbf_contains(_, _))),
    Case(SketchOp.CbfCount, () => cbf, cbf_count(_, _), broadcast = Some(cbf_count(_, _))),
    Case(SketchOp.SbfContains, () => sbf, sbf_contains(_, _), broadcast = Some(sbf_contains(_, _))),
    Case(SketchOp.CmsQuery, () => cms, cms_query(_, _)),
    Case(SketchOp.TDigestQuantile, () => tdigest, (s, _) => tdigest_quantile(s, 0.5), "0.5"),
    Case(SketchOp.TDigestCdf, () => tdigest, tdigest_cdf(_, _)),
    Case(SketchOp.KllQuantile, () => kll, (s, _) => kll_quantile(s, 0.5), "0.5"),
    Case(SketchOp.KllRank, () => kll, kll_rank(_, _)))

  private val rows = 8
  private val nullSketchRow = 3
  private val nullArgRow = 4
  private val live = (0 until rows).filterNot(Set(nullSketchRow, nullArgRow))

  // keys k0, k29, k58, k87 were inserted, k116.. were not; doubles 0..0.875
  private def arg(op: SketchOp): Column =
    if (op.argType == LongType) concat(lit("k"), (col("id") * 29).cast("string"))
    else col("id").cast("double") / 8

  // one range partition per 4 rows, no exchange: collect keeps id order
  private def litTable(c: Case): DataFrame =
    spark.range(0, rows, 1, 2).select(col("id"), lit(c.sketch()).as("s"), arg(c.op).as("a"))

  // a computed (non-foldable) sketch column, NULL on one row; NULL argument on another
  private def colTable(c: Case): DataFrame =
    spark.range(0, rows, 1, 2).select(col("id"),
      when(col("id") =!= nullSketchRow, lit(c.sketch())).as("s"),
      when(col("id") =!= nullArgRow, arg(c.op)).as("a"))

  private def values(df: DataFrame): Seq[Any] = df.collect().map(_.get(0)).toSeq

  private def isQuery(e: Expression): Boolean = e match {
    case _: SketchQuery | _: SketchBroadcastQuery => true
    case _ => false
  }

  /** The query runs inside whole-stage codegen, no expression falls back
    * to interpreted evaluation, and the plan reads `name(children)`.
    */
  private def assertCodegen(df: DataFrame, pretty: String): Unit = {
    val plan = df.queryExecution.executedPlan
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.find(_.expressions.exists(_.exists(isQuery))).isDefined),
      s"$pretty outside whole-stage codegen:\n$plan")
    assert(plan.find(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))).isEmpty,
      s"CodegenFallback in\n$plan")
    val queries = plan.flatMap(_.expressions.flatMap(_.collect { case e if isQuery(e) => e }))
    assert(queries.nonEmpty && queries.forall(_.prettyName == pretty), plan.toString)
    queries.foreach {
      case q: SketchQuery =>
        assert(q.toString == s"$pretty(${q.left}, ${q.right})", plan.toString)
      case q: SketchBroadcastQuery =>
        assert(q.toString == s"$pretty(${q.bcast}, ${q.child})", plan.toString)
    }
    assert(!plan.toString.contains("SketchOp"), plan.toString)
  }

  test("the table covers every op and the broadcast overloads cover every filter") {
    assert(cases.map(_.op) == SketchOp.all)
    assert(cases.filter(_.broadcast.isDefined).map(_.op) == SketchOp.filters)
  }

  for (c <- cases) {
    val name = c.op.name
    test(s"$name: NULL in, NULL out; SQL == Column; literal == column == broadcast; codegen") {
      colTable(c).createOrReplaceTempView("sq_col")
      litTable(c).createOrReplaceTempView("sq_lit")
      def sql(table: String, a: String = "a"): DataFrame =
        spark.sql(s"SELECT $name(s, $a) FROM $table")

      val colForm = colTable(c).select(c.column(col("s"), col("a")))
      assert(colForm.columns.head.startsWith(s"$name(s, "), colForm.columns.head)
      assert(values(colForm) == values(sql("sq_col", c.sqlArg)), "SQL result == Column result")

      val viaSql = values(sql("sq_col"))
      assert(viaSql(nullSketchRow) == null, "NULL sketch gives NULL")
      assert(viaSql(nullArgRow) == null, "NULL argument gives NULL")
      val nullArg = if (c.op.argType == LongType) "CAST(NULL AS STRING)" else "CAST(NULL AS DOUBLE)"
      assert(values(sql("sq_col", nullArg)).forall(_ == null), "NULL argument gives NULL")

      assert(live.forall(i => viaSql(i) != null))
      val viaLit = values(sql("sq_lit"))
      assert(live.forall(i => viaLit(i) == viaSql(i)), s"literal $viaLit vs column $viaSql")

      assertCodegen(sql("sq_col"), name)
      assertCodegen(sql("sq_lit"), name)

      c.broadcast.foreach { bc =>
        val b = spark.sparkContext.broadcast(c.sketch())
        try {
          val df = colTable(c).select(bc(b, col("a")))
          assert(df.columns.head.startsWith(s"${name}_bc("), df.columns.head)
          val viaBc = values(df)
          assert(live.forall(i => viaBc(i) == viaSql(i)), s"broadcast $viaBc vs column $viaSql")
          assert(viaBc(nullArgRow) == null, "NULL key gives NULL")
          assertCodegen(df, s"${name}_bc")
        } finally b.destroy()
      }
    }
  }

  test("cbf_contains and cbf_count over the same filter and key stay two columns") {
    val df = colTable(cases(1)).select(cbf_contains(col("s"), col("a")), cbf_count(col("s"), col("a")))
    assert(df.schema.map(_.dataType) == Seq(BooleanType, LongType))
    val got = df.collect().toSeq
    assert(live.forall(i => got(i).getBoolean(0) == (got(i).getLong(1) > 0)), got)
    assert(live.exists(i => got(i).getBoolean(0)) && live.exists(i => !got(i).getBoolean(0)), got)
  }

  test("the codec's parse slot is released when its task completes") {
    // the shuffle keeps the sketch a column: the query runs in a task and
    // parses through CmsCodec.parse
    val df = Seq((cms, "k1"), (cms, "zz")).toDF("s", "k").repartition(1)
      .select(cms_query(col("s"), col("k")))
    val (queryThread, counts, heldDuringTask) = df.queryExecution.toRdd.mapPartitions { it =>
      val c = it.map(_.getLong(0)).toArray
      Iterator((Thread.currentThread().getId, c.toSeq, !CmsCodec.taskSlotEmpty))
    }.collect().head
    assert(counts.sorted.last >= 1L)
    assert(heldDuringTask, "the query parsed through the codec's slot")
    val (laterThread, emptyLater) = spark.sparkContext.parallelize(Seq(0), 1)
      .map(_ => (Thread.currentThread().getId, CmsCodec.taskSlotEmpty)).collect().head
    assume(laterThread == queryThread,
      s"the later task ran on thread $laterThread, not the query's $queryThread")
    assert(emptyLater, "a finished task's sketch stays pinned to its thread")
  }
}
