package graft.expr

import org.apache.spark.sql.{Column, DataFrame, TypedColumn}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions._
import graft.job.{PartitionSketcher, SketchBuild}
import graft.plans.SketchPartialAggExec
import graft.typed.TypedSketches

// top-level: Dataset encoders for inner case classes need an outer scope
case class BuildRow(k: String, v: Double, w: Double, iw: Int)

/** Every SQL build entry, table-driven: the bytes, names, plan strings and
  * plans of each family's [[SketchBuildAgg]] are pinned to digests
  * recorded from the per-family aggregate classes it replaced, and every
  * derived path (Column function, checkpointed build, typed facade)
  * gives the same bytes.
  */
class SketchBuildAggSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private case class Entry(
      sqlFn: String,
      kernel: SketchKernel[_ <: AnyRef],
      sql: String,
      column: Column,
      tooFew: String,
      signature: String,
      sqlName: String,
      columnName: String,
      planString: String,
      digest: String,
      digest3: String,
      emptyDigest: String,
      resume: Option[(String, PartitionSketcher)],
      typed: Option[org.apache.spark.sql.expressions.Aggregator[BuildRow, _, Array[Byte]]],
      typedDigest: String = null)

  // digest: one partition; digest3: three partitions; typedDigest: the
  // facade through groupByKey over three partitions
  private lazy val entries = Seq(
    Entry("bloom_agg", BloomKernel, "bloom_agg(k, 1000, 0.01)", bloom_agg(col("k"), 1000, 0.01),
      tooFew = "bloom_agg(k)", signature = "bloom_agg(key, capacity[, fp_rate])",
      sqlName = "bloom_agg(abloom_key_hash(k), 1000, 0.01)", columnName = "bloom_agg(abloom_key_hash(k), 1000, 0.01)",
      planString = "bloom_agg(abloom_key_hash(k), 1000, 0.01, 0, 0)",
      digest = "a2ad37f4ca8e2825909895b8991c1efba8d95c453dad70d8e9da7311cdab928c",
      digest3 = "a2ad37f4ca8e2825909895b8991c1efba8d95c453dad70d8e9da7311cdab928c",
      emptyDigest = "599d119f5f551c69d32d72001b1f3923890c5bc0c014bdf964ca63edfe21db42",
      resume = Some("k" -> PartitionSketcher.bloom(1000, 0.01)),
      typed = Some(TypedSketches.bloomOfString[BuildRow](_.k, 1000, 0.01)), typedDigest = "a2ad37f4ca8e2825909895b8991c1efba8d95c453dad70d8e9da7311cdab928c"),
    Entry("cbf_agg", CbfKernel, "cbf_agg(k, 1000, 0.01)", cbf_agg(col("k"), 1000, 0.01),
      tooFew = "cbf_agg(k)", signature = "cbf_agg(key, capacity[, fp_rate])",
      sqlName = "cbf_agg(abloom_key_hash(k), 1, 1000, 0.01)", columnName = "cbf_agg(abloom_key_hash(k), 1, 1000, 0.01)",
      planString = "cbf_agg(abloom_key_hash(k), 1, 1000, 0.01, 0, 0)",
      digest = "fe5492f0a01d07450cdbae67f87c2f53803a933cef16250d27be15cdb3535b1a",
      digest3 = "fe5492f0a01d07450cdbae67f87c2f53803a933cef16250d27be15cdb3535b1a",
      emptyDigest = "966b577e8f6bc82414636de4ccac7729226383ece8e3fc3c9a534b3b540170c0",
      resume = Some("k" -> PartitionSketcher.cbf(1000, 0.01)),
      typed = None),
    Entry("cbf_agg_weighted", CbfKernel, "cbf_agg_weighted(k, iw, 1000, 0.01)", cbf_agg(col("k"), col("iw"), 1000, 0.01),
      tooFew = "cbf_agg_weighted(k, iw)", signature = "cbf_agg_weighted(key, weight, capacity[, fp_rate])",
      sqlName = "cbf_agg(abloom_key_hash(k), iw, 1000, 0.01)", columnName = "cbf_agg(abloom_key_hash(k), iw, 1000, 0.01)",
      planString = "cbf_agg(abloom_key_hash(k), cast(iw as int), 1000, 0.01, 0, 0)",
      digest = "7f96fa55aec0a1d96936b959325002ef05d1fe42f8e82159a0581ea06c8e1611",
      digest3 = "7f96fa55aec0a1d96936b959325002ef05d1fe42f8e82159a0581ea06c8e1611",
      emptyDigest = "966b577e8f6bc82414636de4ccac7729226383ece8e3fc3c9a534b3b540170c0",
      resume = None,
      typed = None),
    Entry("sbf_agg", SbfKernel, "sbf_agg(k, 256, 0.01)", sbf_agg(col("k"), 256, 0.01),
      tooFew = "sbf_agg(k, 256)", signature = "sbf_agg(key[, initial_capacity, fp_rate])",
      sqlName = "sbf_agg(abloom_key_hash(k), 256, 0.01)", columnName = "sbf_agg(abloom_key_hash(k), 256, 0.01)",
      planString = "sbf_agg(abloom_key_hash(k), 256, 0.01, 0, 0)",
      digest = "168f0edcde08d0c388ada1bb3d0ad4ee17da4eaa910f5a4c97f010141a53ae39",
      digest3 = "d75e2d3a8b272dee5243069ddddda9c82c82eec9c0dd21347162660b4f501f27",
      emptyDigest = "dea84998029a44acc4ba9864dc269cf4055af078e1124a03a2f5e252176f7bbe",
      resume = Some("k" -> PartitionSketcher.sbf(256, 0.01)),
      typed = None),
    Entry("hll_agg", HllKernel, "hll_agg(k, 12)", hll_agg(col("k"), 12),
      tooFew = "hll_agg()", signature = "hll_agg(key[, p])",
      sqlName = "hll_agg(abloom_key_hash(k), 12)", columnName = "hll_agg(abloom_key_hash(k), 12)",
      planString = "hll_agg(abloom_key_hash(k), 12, 0, 0)",
      digest = "54a9b82af0230e79a83eeeb8313bb162faf97070baab221e6927e2c1c3f2ff00",
      digest3 = "54a9b82af0230e79a83eeeb8313bb162faf97070baab221e6927e2c1c3f2ff00",
      emptyDigest = "bdb8da5ef935e808528c11a66604306c35115b5705c1603b77b6311d788af331",
      resume = Some("k" -> PartitionSketcher.hll(12)),
      typed = Some(TypedSketches.hllOfString[BuildRow](_.k, 12)), typedDigest = "54a9b82af0230e79a83eeeb8313bb162faf97070baab221e6927e2c1c3f2ff00"),
    Entry("kmv_agg", KmvKernel, "kmv_agg(k, 64)", kmv_agg(col("k"), 64),
      tooFew = "kmv_agg()", signature = "kmv_agg(key[, k])",
      sqlName = "kmv_agg(abloom_key_hash(k), 64)", columnName = "kmv_agg(abloom_key_hash(k), 64)",
      planString = "kmv_agg(abloom_key_hash(k), 64, 0, 0)",
      digest = "db5be23eb9bab87792410a5a1778a9fa0a3bab3184e342128a8d50ac5569fbab",
      digest3 = "db5be23eb9bab87792410a5a1778a9fa0a3bab3184e342128a8d50ac5569fbab",
      emptyDigest = "082339b48f992137b7889f27a85f50fb9db8a81acf29e0e6e6a10ee298687ce8",
      resume = Some("k" -> PartitionSketcher.kmv(64)),
      typed = None),
    Entry("kmv_sample_agg", KmvSampleKernel, "kmv_sample_agg(k, k, 64)", kmv_sample_agg(col("k"), col("k"), 64),
      tooFew = "kmv_sample_agg(k)", signature = "kmv_sample_agg(key, payload[, k])",
      sqlName = "kmv_sample_agg(abloom_key_hash(k), k, 64)", columnName = "kmv_sample_agg(abloom_key_hash(k), k, 64)",
      planString = "kmv_sample_agg(abloom_key_hash(k), k, 64, 0, 0)",
      digest = "8219178b9317c6b55063a03e2549daddfb3143552396c0813e32abfc32f437db",
      digest3 = "8219178b9317c6b55063a03e2549daddfb3143552396c0813e32abfc32f437db",
      emptyDigest = "082339b48f992137b7889f27a85f50fb9db8a81acf29e0e6e6a10ee298687ce8",
      resume = Some("k" -> PartitionSketcher.kmvSample(64)),
      typed = None),
    Entry("weighted_sample_agg", WeightedSampleKernel, "weighted_sample_agg(k, w, k, 64)", weighted_sample_agg(col("k"), col("w"), col("k"), 64),
      tooFew = "weighted_sample_agg(k, w)", signature = "weighted_sample_agg(key, weight, payload[, k])",
      sqlName = "weighted_sample_agg(abloom_key_hash(k), w, k, 64)", columnName = "weighted_sample_agg(abloom_key_hash(k), w, k, 64)",
      planString = "weighted_sample_agg(abloom_key_hash(k), cast(w as double), k, 64, 0, 0)",
      digest = "443cc66e8b5db1fd409bfc952a71e49f142aef12537ae369f4ce9f4f367cdfe5",
      digest3 = "443cc66e8b5db1fd409bfc952a71e49f142aef12537ae369f4ce9f4f367cdfe5",
      emptyDigest = "082339b48f992137b7889f27a85f50fb9db8a81acf29e0e6e6a10ee298687ce8",
      resume = Some("k" -> PartitionSketcher.weightedSample(col("w"), 64)),
      typed = None),
    Entry("cms_agg", CmsKernel, "cms_agg(k, 0.01, 0.01)", cms_agg(col("k"), 0.01, 0.01),
      tooFew = "cms_agg(k, 0.01)", signature = "cms_agg(key, eps, delta)",
      sqlName = "cms_agg(abloom_key_hash(k), 0.01, 0.01)", columnName = "cms_agg(abloom_key_hash(k), 0.01, 0.01)",
      planString = "cms_agg(abloom_key_hash(k), 0.01, 0.01, 0, 0)",
      digest = "c72cc728e2795f6959d8ba747fe0695a42b1175c50d46e81b0f90b5e697d0dd9",
      digest3 = "c72cc728e2795f6959d8ba747fe0695a42b1175c50d46e81b0f90b5e697d0dd9",
      emptyDigest = "7a5afb2640ca8fb200e127bb4a6632b2ca09dd00d8c0022a180bb95d7dbf7455",
      resume = Some("k" -> PartitionSketcher.cms(0.01, 0.01)),
      typed = None),
    Entry("tdigest_agg", TDigestKernel, "tdigest_agg(v, 100)", tdigest_agg(col("v"), 100.0),
      tooFew = "tdigest_agg()", signature = "tdigest_agg(value[, compression])",
      sqlName = "tdigest_agg(v, 100)", columnName = "tdigest_agg(v, 100.0)",
      planString = "tdigest_agg(cast(v as double), 100, 0, 0)",
      digest = "83567e58ec4dd4bc20d2fd2626234045c4afdf9e83c627dcfff0ff66c3fcbc64",
      digest3 = "d834115302d59424c7673751cf345ef7fa50d0b3f2dd88652d1e3d08a6df22fe",
      emptyDigest = "2bfdc944d0ee35f4153f1d9c0c3561cbb2c76b3b73439defbf4bab10f41554b1",
      resume = Some("v" -> PartitionSketcher.tdigest(100.0)),
      typed = Some(TypedSketches.tdigestOf[BuildRow](_.v, 100.0)), typedDigest = "d834115302d59424c7673751cf345ef7fa50d0b3f2dd88652d1e3d08a6df22fe"),
    Entry("kll_agg", KllKernel, "kll_agg(v, 200)", kll_agg(col("v"), 200),
      tooFew = "kll_agg()", signature = "kll_agg(value[, k])",
      sqlName = "kll_agg(v, 200)", columnName = "kll_agg(v, 200)",
      planString = "kll_agg(cast(v as double), 200, 0, 0)",
      digest = "9522ae003009e64918a5ce69e8ca09d4217ab17efbef60d8a3e79d4580b0996f",
      digest3 = "9bd14b7c3a6c2ce8b96c41bed401ad8691b67d90288670ef66420ffcff492880",
      emptyDigest = "6c6a8fa490784b1a457a055a2fdb3945329af7a9425409d58872b4dd9f6f0c20",
      resume = Some("v" -> PartitionSketcher.kll(200)),
      typed = Some(TypedSketches.kllOf[BuildRow](_.v, 200)), typedDigest = "b8d3cdea9535b84f6cf96705a69e230a716b410d80d5ca8e98c26113c649dc9f"),
    Entry("mg_agg", MgKernel, "mg_agg(k, 16)", mg_agg(col("k"), 16),
      tooFew = "mg_agg(k)", signature = "mg_agg(key, k)",
      sqlName = "mg_agg(k, 16)", columnName = "mg_agg(k, 16)",
      planString = "mg_agg(k, 16, 0, 0)",
      digest = "5b910da4876dea9abeca4164261ebdabf3964b33f84d8120a42c6f07cde6629c",
      digest3 = "4cdedb45a439d111486538ce5a43616b1d9845b3fb91837ccd401305966cd445",
      emptyDigest = "44374f68635fc9710aeec82dce6c9fa077d631e9f37696dea6e1e7dbd056a26d",
      resume = Some("k" -> PartitionSketcher.misraGries(16)),
      typed = Some(TypedSketches.misraGriesOf[BuildRow](_.k, 16)), typedDigest = "4cdedb45a439d111486538ce5a43616b1d9845b3fb91837ccd401305966cd445"))

  private val rows = (0 until 3000).map { i =>
    BuildRow(s"k${(i * 7919) % 1100}", ((i * 37) % 1000) / 7.0, 1.0 + (i % 5),
      if (i % 11 == 0) -1 else 1)
  }
  private def table(parts: Int): DataFrame = spark.sparkContext.parallelize(rows, parts).toDF()
  private lazy val t1 = { val t = table(1); t.createOrReplaceTempView("build1"); t }
  private lazy val t3 = { val t = table(3); t.createOrReplaceTempView("build3"); t }

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
  private def bytes(df: DataFrame): Array[Byte] = df.head().getAs[Array[Byte]](0)
  private def sql(call: String, view: String = "build1"): DataFrame = {
    t1; t3
    spark.sql(s"SELECT $call FROM $view")
  }
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-build-spec").toString + "/ck"

  private def physical(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    flatten(df.queryExecution.executedPlan)
  }

  test("the table covers every SQL build entry and every kernel") {
    assert(entries.map(_.kernel).toSet === SketchKernel.all.toSet)
    val buildNames = graft.sql.Registry.functions.map(_._1).filter(n =>
      SketchKernel.all.exists(k => n.startsWith(k.name)))
    assert(entries.map(_.sqlFn).toSet === buildNames.toSet)
    assert(entries.size === 12)
    entries.foreach { e =>
      val agg = sql(e.sql).queryExecution.analyzed.collectFirst { case a: Aggregate => a }.get
        .aggregateExpressions.head.collectFirst { case ae: AggregateExpression => ae }.get
      assert(agg.aggregateFunction.asInstanceOf[SketchBuildAgg[_]].kernel eq e.kernel, e.sqlFn)
    }
  }

  test("SQL, Column, resume and typed bytes match the recorded digests") {
    entries.foreach { e =>
      val one = bytes(sql(e.sql))
      assert(sha(one) === e.digest, s"${e.sqlFn} SQL")
      assert(sha(bytes(sql(e.sql, "build3"))) === e.digest3, s"${e.sqlFn} SQL, 3 partitions")
      assert(bytes(t1.agg(e.column)).sameElements(one), s"${e.sqlFn} Column")
      e.resume.foreach { case (c, sk) =>
        assert(SketchBuild.resume(t1, col(c), sk, tmp()).sameElements(one), s"${e.sqlFn} resume")
      }
      e.typed.foreach { agg =>
        // groupByKey over 3 partitions: partial buffers really serialize
        val tc = agg.toColumn
        val viaTyped = t3.as[BuildRow].groupByKey(_ => 0).agg(tc).head()._2
        assert(sha(viaTyped) === e.typedDigest, s"${e.sqlFn} typed")
        // KLL merges into the facade's zero buffer, which the partial
        // aggregate never does, and its merge is not byte-associative
        if (e.kernel ne KllKernel) {
          assert(viaTyped.sameElements(bytes(sql(e.sql, "build3"))), s"${e.sqlFn} typed vs SQL")
          assert(t1.as[BuildRow].select(tc).head().sameElements(one), s"${e.sqlFn} typed, 1 partition")
        }
      }
    }
  }

  test("prettyName, auto column names, plan strings, nullability and empty input are unchanged") {
    entries.foreach { e =>
      val df = sql(e.sql)
      assert(df.columns.head === e.sqlName, e.sqlFn)
      assert(!df.schema.head.nullable, e.sqlFn)
      val cdf = t1.agg(e.column)
      assert(cdf.columns.head === e.columnName, e.sqlFn)
      assert(!cdf.schema.head.nullable, e.sqlFn)
      val fn = df.queryExecution.analyzed.collectFirst { case a: Aggregate => a }.get
        .aggregateExpressions.head.collectFirst { case ae: AggregateExpression => ae }.get
        .aggregateFunction
      assert(fn.prettyName === e.kernel.name)
      assert(fn.toString.replaceAll("#\\d+", "") === e.planString, e.sqlFn)
      assert(sha(bytes(spark.sql(s"SELECT ${e.sql} FROM build1 WHERE k = 'none'"))) === e.emptyDigest,
        s"${e.sqlFn} empty")
    }
  }

  test("every build entry (and topk_agg) plans as SketchPartialAggExec") {
    entries.foreach { e =>
      val df = spark.sql(s"SELECT iw, ${e.sql} AS s FROM build3 GROUP BY iw")
      assert(physical(df).exists(_.isInstanceOf[SketchPartialAggExec]), e.sqlFn)
    }
    val topk = t3.groupBy(col("iw")).agg(topk_agg(col("v"), col("iw"), col("k"), 3))
    assert(physical(topk).exists(_.isInstanceOf[SketchPartialAggExec]))
  }

  test("each hashed family's key child is an Attribute after optimization") {
    entries.filter(_.kernel.inputs.head == KernelInput.keyHash).foreach { e =>
      val agg = sql(e.sql).queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }.get
      val fn = agg.aggregateExpressions.flatMap(_.collect { case f: SketchBuildAgg[_] => f }).head
      assert(fn.children.head.isInstanceOf[Attribute], s"${e.sqlFn}: ${fn.children.head}")
    }
  }

  test("too many or too few arguments fail at analysis with the signature") {
    entries.foreach { e =>
      Seq(e.sql.stripSuffix(")") + ", 7)", e.tooFew).foreach { call =>
        val err = intercept[Exception](sql(call))
        assert(err.getMessage.contains(e.signature), s"$call: ${err.getMessage}")
      }
    }
  }

  test("a NULL or non-numeric constant parameter fails at analysis, naming function and parameter") {
    entries.foreach { e =>
      val nIn = e.kernel.inputs.size - (if (e.sqlFn == "cbf_agg") 1 else 0)
      val args = e.sql.stripPrefix(e.sqlFn + "(").stripSuffix(")").split(", ").toSeq
      e.kernel.params.indices.foreach { i =>
        Seq("NULL", "'x'").foreach { bad =>
          val call = s"${e.sqlFn}(${args.updated(nIn + i, bad).mkString(", ")})"
          val err = intercept[org.apache.spark.sql.AnalysisException](sql(call))
          assert(err.getMessage.contains(s"${e.kernel.name}: ${e.kernel.params(i).name} must be a numeric constant"),
            s"$call: ${err.getMessage}")
        }
      }
    }
    val err = intercept[org.apache.spark.sql.AnalysisException](sql("hll_agg(k, iw)"))
    assert(err.getMessage.contains("hll_agg: p must be a constant"))
  }

  test("the SQL default forms and Column overloads give the recorded bytes and names") {
    Seq(
"bloom_agg(k, 1000)" -> ("a2ad37f4ca8e2825909895b8991c1efba8d95c453dad70d8e9da7311cdab928c", "bloom_agg(abloom_key_hash(k), 1000, 0.01)"),
    "cbf_agg(k, 1000)" -> ("fe5492f0a01d07450cdbae67f87c2f53803a933cef16250d27be15cdb3535b1a", "cbf_agg(abloom_key_hash(k), 1, 1000, 0.01)"),
    "cbf_agg_weighted(k, iw, 1000)" -> ("7f96fa55aec0a1d96936b959325002ef05d1fe42f8e82159a0581ea06c8e1611", "cbf_agg(abloom_key_hash(k), iw, 1000, 0.01)"),
    "sbf_agg(k)" -> ("10347ab97274070cb5ac296ce65df4bfaffe3bd92b68cb629d4bfdaf9edc5e7b", "sbf_agg(abloom_key_hash(k), 4096, 0.001)"),
    "hll_agg(k)" -> ("5ff10d043ef1ee98905fbb25ba04b68e1267f2c6c343ecf710682598038406b0", "hll_agg(abloom_key_hash(k), 14)"),
    "kmv_agg(k)" -> ("b89d95b0f01c4679edc1aff0ad1e6016d487e1b6418d7c565b0a87f9d5f6216a", "kmv_agg(abloom_key_hash(k), 1024)"),
    "kmv_sample_agg(k, k)" -> ("dfa512e01a5f073c24de74ee4ab9b296643196be1379e86e9238f69439fa18a5", "kmv_sample_agg(abloom_key_hash(k), k, 1024)"),
    "weighted_sample_agg(k, w, k)" -> ("565595766966de744113065b5e165ba0a90a6c7bd2f5bb1d795d31827686746e", "weighted_sample_agg(abloom_key_hash(k), w, k, 1024)"),
    "tdigest_agg(v)" -> ("83567e58ec4dd4bc20d2fd2626234045c4afdf9e83c627dcfff0ff66c3fcbc64", "tdigest_agg(v, 100.0)"),
    "kll_agg(v)" -> ("9522ae003009e64918a5ce69e8ca09d4217ab17efbef60d8a3e79d4580b0996f", "kll_agg(v, 200)"),
    "bloom_agg(k, 1000L, 0.01D)" -> ("a2ad37f4ca8e2825909895b8991c1efba8d95c453dad70d8e9da7311cdab928c", "bloom_agg(abloom_key_hash(k), 1000, 0.01)"),
    "hll_agg(k, 12.0)" -> ("54a9b82af0230e79a83eeeb8313bb162faf97070baab221e6927e2c1c3f2ff00", "hll_agg(abloom_key_hash(k), 12.0)")
    ).foreach { case (call, (digest, name)) =>
      val df = sql(call)
      assert(sha(bytes(df)) === digest, call)
      assert(df.columns.head === name, call)
    }
    Seq(
      bloom_agg(col("k"), 1000) -> "a2ad37f4ca8e2825909895b8991c1efba8d95c453dad70d8e9da7311cdab928c",
      sbf_agg(col("k")) -> "10347ab97274070cb5ac296ce65df4bfaffe3bd92b68cb629d4bfdaf9edc5e7b",
      hll_agg(col("k")) -> "5ff10d043ef1ee98905fbb25ba04b68e1267f2c6c343ecf710682598038406b0",
      kmv_agg(col("k")) -> "b89d95b0f01c4679edc1aff0ad1e6016d487e1b6418d7c565b0a87f9d5f6216a",
      kmv_sample_agg(col("k"), col("k")) -> "dfa512e01a5f073c24de74ee4ab9b296643196be1379e86e9238f69439fa18a5",
      tdigest_agg(col("v")) -> "83567e58ec4dd4bc20d2fd2626234045c4afdf9e83c627dcfff0ff66c3fcbc64",
      kll_agg(col("v")) -> "9522ae003009e64918a5ce69e8ca09d4217ab17efbef60d8a3e79d4580b0996f",
      bloom_agg_hashed(abloom_key_hash(col("k")), 1000, 0.01) ->
        "a2ad37f4ca8e2825909895b8991c1efba8d95c453dad70d8e9da7311cdab928c"
    ).foreach { case (c, digest) => assert(sha(bytes(t1.agg(c))) === digest, c.toString) }
  }
}
