package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{array, col, concat, element_at, lit, when}
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.functions._

/** The sketch-function expressions, table-driven over every [[SketchOp]]
  * and the four broadcast filter overloads, plus the task lifetime of the
  * codec's parse slot. The summary, pairwise and `mg_topk` rows are pinned
  * to names, types and values recorded before they became table rows.
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

  private def buildOver(lo: Int, hi: Int, agg: Column): Array[Byte] =
    data.filter(col("v") >= lo && col("v") < hi).agg(agg).head.getAs[Array[Byte]](0)

  /** A family's sketch over keys 0..59 and three more over 0..59, 20..79
    * and 40..99: the right operands of a pairwise row, the sketch column
    * of a summary row.
    */
  private case class Family(left: Array[Byte], rights: Seq[Array[Byte]])
  private def family(agg: Column): Family =
    Family(buildOver(0, 60, agg), (0 until 3).map(j => buildOver(20 * j, 20 * j + 60, agg)))

  private lazy val bloomFam = family(bloom_agg(col("k"), 1000, 0.01))
  private lazy val sbfFam = family(sbf_agg(col("k")))
  private lazy val hllFam = family(hll_agg(col("k")))
  private lazy val kmvFam = family(kmv_agg(col("k"), 16))
  private lazy val kmvSampleFam = family(kmv_sample_agg(col("k"), col("k"), 16))
  private lazy val weightedFam = family(weighted_sample_agg(col("k"), col("v") + 1, col("k"), 16))
  private lazy val cmsFam = family(cms_agg(col("k"), 0.01, 0.01))
  private lazy val mgFam =
    family(mg_agg(concat(lit("m"), (col("v").cast("int") % 11 % 5).cast("string")), 3))

  /** A row's auto column name (SQL and Column), result type and its
    * nullability ([[nulls]]), the output nullability over a literal
    * sketch, and the SHA-256 prefix of its [[render]]ed values over
    * [[colTable]]: all recorded before the row joined the table.
    */
  private case class Recorded(
      autoName: String, catalog: String, nulls: String, nullableLit: Boolean, digest: String)

  /** One op: its sketch, its Column form, the SQL argument that form
    * matches (the table's `a` column, or the constant a quantile's Column
    * form takes), its broadcast form, its family (summary and pairwise
    * rows) and its recorded results.
    */
  private case class Case(
      op: SketchOp,
      sketch: () => Array[Byte],
      column: (Column, Column) => Column,
      sqlArg: String = "a",
      broadcast: Option[(Broadcast[Array[Byte]], Column) => Column] = None,
      fam: () => Family = () => null,
      recorded: Option[Recorded] = None)

  private def row(op: SketchOp, fam: => Family, column: (Column, Column) => Column,
      recorded: Recorded, sqlArg: String = "a"): Case =
    Case(op, () => if (op.shape == SketchOp.Alone) fam.rights.head else fam.left, column, sqlArg,
      fam = () => fam, recorded = Some(recorded))
  private def summary(op: SketchOp, fam: => Family, column: Column => Column,
      catalog: String, nulls: String, digest: String): Case =
    row(op, fam, (s, _) => column(s), Recorded(s"${op.name}(s)", catalog, nulls, false, digest))
  private def pair(op: SketchOp, fam: => Family, column: (Column, Column) => Column,
      catalog: String, digest: String): Case =
    row(op, fam, column, Recorded(s"${op.name}(s, a)", catalog, "", false, digest))

  private val describe = "struct<k:int,n:int,saturated:boolean,theta:double>"

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
    Case(SketchOp.KllRank, () => kll, kll_rank(_, _)),
    summary(SketchOp.BloomDescribe, bloomFam, bloom_describe, "struct<capacity:bigint," +
      "fp_rate:double,block_count:bigint,byte_count:bigint,bit_count:bigint,k:int,is_empty:boolean>",
      "(!!!!!!!)", "7a934d7404a4511b"),
    summary(SketchOp.BloomIsEmpty, bloomFam, bloom_is_empty, "boolean", "", "b39f3eaf8b404f76"),
    summary(SketchOp.BloomCardinalityEstimate, bloomFam, bloom_cardinality_estimate, "double", "",
      "62e337f880318919"),
    pair(SketchOp.BloomIntersectEstimate, bloomFam, bloom_intersect_estimate, "double",
      "2f03b65210dc4a42"),
    pair(SketchOp.BloomUnion, bloomFam, bloom_union, "binary", "65842571aa45e1e9"),
    summary(SketchOp.SbfDescribe, sbfFam, sbf_describe, "struct<initial_capacity:bigint," +
      "fp0:double,growth:bigint,tightening:double,stage_count:int,inserted_count:bigint," +
      "compound_fp_bound:double>", "(!!!!!!!)", "b1e335f1f0f0513c"),
    summary(SketchOp.HllEstimate, hllFam, hll_estimate, "bigint", "", "fb1330b68aff9f44"),
    pair(SketchOp.HllIntersectEstimate, hllFam, hll_intersect_estimate, "bigint",
      "3f61a3d52f145b54"),
    summary(SketchOp.KmvEstimate, kmvFam, kmv_estimate, "bigint", "", "4c0d931b2f7c804d"),
    pair(SketchOp.KmvIntersectEstimate, kmvFam, kmv_intersect_estimate, "bigint",
      "92b6ee692aa53fbe"),
    summary(SketchOp.KmvDescribe, kmvFam, kmv_describe, describe, "(!!!!)", "1d5f45202d0369fc"),
    summary(SketchOp.KmvSampleEstimate, kmvSampleFam, kmv_sample_estimate, "bigint", "",
      "4c0d931b2f7c804d"),
    summary(SketchOp.KmvSampleValues, kmvSampleFam, kmv_sample_values, "array<string>", "![]",
      "721773b1aac6dd4e"),
    summary(SketchOp.KmvSampleDescribe, kmvSampleFam, kmv_sample_describe, describe, "(!!!!)",
      "1d5f45202d0369fc"),
    summary(SketchOp.WeightedSampleEntries, weightedFam, weighted_sample_entries,
      "array<struct<value:string,weight:double>>", "![(!!)]", "37662a73c923a792"),
    summary(SketchOp.WeightedSampleDescribe, weightedFam, weighted_sample_describe,
      "struct<k:int,n:int,saturated:boolean,threshold:double>", "(!!!!)", "0f7cf4efc2ed6f7a"),
    pair(SketchOp.CmsInnerProduct, cmsFam, cms_inner_product, "bigint", "31c72fc8736a4dd3"),
    row(SketchOp.MgTopK, mgFam, (s, _) => mg_topk(s, 2), Recorded("mg_topk(s, 2)",
      "array<struct<item:string,count_lb:bigint,count_ub:bigint>>", "![(!!!)]", true,
      "03269adb43a86495"), sqlArg = "2"))

  private val rows = 8
  private val nullSketchRow = 3
  private val nullArgRow = 4
  private val live = (0 until rows).filterNot(Set(nullSketchRow, nullArgRow))

  // row i's sketch of the family's three: one array per sketch, so each
  // repeats by identity and a cached parse serves the later rows
  private def sketchAt(fam: Family): Column =
    element_at(array(fam.rights.map(lit): _*), (col("id") % 3 + 1).cast("int"))

  // keys k0, k29, k58, k87 were inserted, k116.. were not; doubles 0..0.875;
  // m 1, 2, 3; a summary takes no argument
  private def arg(c: Case): Column = c.op.shape match {
    case SketchOp.Arg(LongType, _) => concat(lit("k"), (col("id") * 29).cast("string"))
    case SketchOp.Arg(DoubleType, _) => col("id").cast("double") / 8
    case SketchOp.Arg(_, _) => (col("id") % 3 + 1).cast("int")
    case SketchOp.Pair => sketchAt(c.fam())
    case SketchOp.Alone => lit(0)
  }

  // one range partition per 4 rows, no exchange: collect keeps id order
  private def litTable(c: Case): DataFrame =
    spark.range(0, rows, 1, 2).select(col("id"), lit(c.sketch()).as("s"), arg(c).as("a"))

  // a computed (non-foldable) sketch column, NULL on one row; NULL argument
  // on another. A summary's sketch is row i's of its family, so the
  // literal table's sketch is the column's on rows 0 and 6.
  private def colTable(c: Case): DataFrame =
    spark.range(0, rows, 1, 2).select(col("id"),
      when(col("id") =!= nullSketchRow,
        if (c.op.shape == SketchOp.Alone) sketchAt(c.fam()) else lit(c.sketch())).as("s"),
      when(col("id") =!= nullArgRow, arg(c)).as("a"))

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  /** A comparable string of a result: binary by hash, structs as [..], arrays as (..). */
  private def render(v: Any): String = v match {
    case b: Array[Byte] => sha256(b).take(16)
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("(", ",", ")")
    case x => String.valueOf(x)
  }

  /** The nullability of a type's fields (`!` not null, `?` nullable), nested. */
  private def nulls(dt: DataType): String = dt match {
    case s: StructType =>
      s.fields.map(f => (if (f.nullable) "?" else "!") + nulls(f.dataType)).mkString("(", "", ")")
    case a: ArrayType => (if (a.containsNull) "?" else "!") + "[" + nulls(a.elementType) + "]"
    case _ => ""
  }

  private def values(df: DataFrame): Seq[String] =
    df.collect().map(r => if (r.isNullAt(0)) null else render(r.get(0))).toSeq

  private def isQuery(e: Expression): Boolean = e match {
    case _: SketchQuery | _: SketchSummary | _: SketchBroadcastQuery => true
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
      case q: SketchSummary =>
        assert(q.toString == s"$pretty(${q.child})", plan.toString)
      case q: SketchBroadcastQuery =>
        assert(q.toString == s"$pretty(${q.bcast}, ${q.child})", plan.toString)
    }
    assert(!plan.toString.contains("SketchOp"), plan.toString)
  }

  test("the table covers every op and the broadcast overloads cover every filter") {
    assert(cases.map(_.op) == SketchOp.all)
    assert(SketchOp.all.map(_.name).distinct.size == SketchOp.all.size)
    assert(cases.filter(_.broadcast.isDefined).map(_.op) == SketchOp.filters)
  }

  for (c <- cases) {
    val name = c.op.name
    val alone = c.op.shape == SketchOp.Alone
    test(s"$name: NULL in, NULL out; SQL == Column; literal == column == broadcast; codegen") {
      colTable(c).createOrReplaceTempView("sq_col")
      litTable(c).createOrReplaceTempView("sq_lit")
      def sql(table: String, a: String = "a"): DataFrame =
        spark.sql(s"SELECT ${if (alone) s"$name(s)" else s"$name(s, $a)"} FROM $table")

      val colForm = colTable(c).select(c.column(col("s"), col("a")))
      assert(colForm.columns.head.startsWith(s"$name(s${if (alone) ")" else ", "}"),
        colForm.columns.head)
      assert(values(colForm) == values(sql("sq_col", c.sqlArg)), "SQL result == Column result")

      val viaSql = values(sql("sq_col"))
      assert(viaSql(nullSketchRow) == null, "NULL sketch gives NULL")
      if (!alone) assert(viaSql(nullArgRow) == null, "NULL argument gives NULL")
      val nullArg = c.op.shape match {
        case SketchOp.Arg(LongType, _) => "CAST(NULL AS STRING)"
        case SketchOp.Arg(t, _) => s"CAST(NULL AS ${t.sql})"
        case _ => "CAST(NULL AS BINARY)"
      }
      val nullCall = if (alone) s"$name($nullArg)" else s"$name(s, $nullArg)"
      assert(values(spark.sql(s"SELECT $nullCall FROM sq_col")).forall(_ == null),
        "NULL operand gives NULL")

      assert(live.forall(i => viaSql(i) != null))
      // a summary's literal is the column's sketch on rows 0 and 6 only
      val same = if (alone) live.filter(_ % 3 == 0) else live
      val viaLit = values(sql("sq_lit"))
      assert(same.forall(i => viaLit(i) == viaSql(i)), s"literal $viaLit vs column $viaSql")

      c.recorded.foreach { r =>
        assert(colForm.columns.head == r.autoName)
        assert(sql("sq_col", c.sqlArg).columns.head == r.autoName)
        val field = sql("sq_col").schema.head
        assert(field.dataType.catalogString == r.catalog)
        assert(nulls(field.dataType) == r.nulls)
        assert(field.nullable)
        assert(sql("sq_lit").schema.head.nullable == r.nullableLit)
        // a pairwise row's right operand differs row by row, so a cached
        // or folded left sketch that a call mutated would change the values
        val rendered = viaSql.map(v => if (v == null) "null" else v).mkString("|")
        assert(sha256(rendered.getBytes("UTF-8")).take(16) == r.digest, rendered)
      }

      assertCodegen(sql("sq_col"), name)
      // a summary of a literal sketch is constant-folded away
      if (!alone) assertCodegen(sql("sq_lit"), name)

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

  test("a wrong SQL argument count fails at analysis with the row's signature") {
    assert(SketchOp.HllEstimate.signature == "hll_estimate(sketch)")
    assert(SketchOp.HllIntersectEstimate.signature == "hll_intersect_estimate(sketch, sketch)")
    assert(SketchOp.CmsQuery.signature == "cms_query(sketch, key)")
    assert(SketchOp.KllRank.signature == "kll_rank(sketch, x)")
    assert(SketchOp.MgTopK.signature == "mg_topk(sketch, m)")
    spark.range(1).select(lit(Array[Byte](1)).as("s")).createOrReplaceTempView("sq_arity")
    for (op <- SketchOp.all) {
      Seq(0, op.arity - 1, op.arity + 1).distinct.foreach { n =>
        val call = s"${op.name}(${Seq.fill(n)("s").mkString(", ")})"
        val err = intercept[Exception](spark.sql(s"SELECT $call FROM sq_arity"))
        assert(err.getMessage.contains(op.signature), s"$call: ${err.getMessage}")
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

  test("kmv_estimate and kmv_describe over the same sketch stay two columns") {
    val c = cases.find(_.op == SketchOp.KmvEstimate).get
    val df = colTable(c).select(kmv_estimate(col("s")), kmv_describe(col("s")))
    assert(df.schema.map(_.dataType.catalogString) == Seq("bigint", describe))
    val got = df.collect().toSeq
    assert(live.forall(i => got(i).getLong(0) > 0 && got(i).getStruct(1).getInt(0) == 16), got)
  }

  // the shuffle keeps the sketches columns: each query runs in a task and
  // parses through CmsCodec.parse
  for ((prefix, query) <- Seq[(String, (Column, Column) => Column)](
      "" -> ((s, _) => cms_query(s, col("k"))),
      "cms_inner_product: " -> cms_inner_product)) {
    test(s"${prefix}the codec's parse slot is released when its task completes") {
      val df = Seq((cms, cmsFam.left, "k1"), (cms, cmsFam.rights(2), "zz")).toDF("s", "t", "k")
        .repartition(1).select(query(col("s"), col("t")))
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
}
