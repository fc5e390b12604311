package graft.expr

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}

import graft.SparkTestBase
import graft.functions._

/** The `*_union_agg` contract, checked the same way for every family:
  * NULL on empty or all-NULL input, NULL blobs skipped, the SQL and
  * Column calls agree byte for byte under the auto-generated column name,
  * and the byte-associative families give the same bytes through the
  * custom sketch-agg operator and through Spark's built-in plan.
  */
class SketchUnionAggSpec extends SparkTestBase {

  private case class Family(
      name: String,
      build: Column,
      union: Column => Column,
      byteEqualAcrossPlans: Boolean)

  private val key = col("id")
  private val value = col("id").cast("double")
  private val payload = concat(lit("p"), col("id").cast("string"))

  private val families = Seq(
    Family("bloom", bloom_agg(key, 1000, 0.01), bloom_union_agg, true),
    Family("cbf", cbf_agg(key, 1000, 0.01), cbf_union_agg, true),
    Family("sbf", sbf_agg(key, 64, 0.001), sbf_union_agg, true),
    Family("hll", hll_agg(key, 10), hll_union_agg, true),
    Family("kmv", kmv_agg(key, 64), kmv_union_agg, true),
    Family("kmv_sample", kmv_sample_agg(key, payload, 64), kmv_sample_union_agg, false),
    Family("weighted_sample",
      weighted_sample_agg(key, value + 1.0, payload, 64), weighted_sample_union_agg, false),
    Family("cms", cms_agg(key, 0.01, 0.01), cms_union_agg, true),
    Family("tdigest", tdigest_agg(value), tdigest_union_agg, false),
    Family("kll", kll_agg(value), kll_union_agg, false),
    Family("mg", mg_agg((col("id") % 50).cast("string"), 32), mg_union_agg, false))

  /** Stored per-group blobs plus two NULL rows, in ONE partition so every
    * plan folds them in the same order (t-digest and KLL merges are not
    * byte-associative). */
  private def stored(f: Family): DataFrame = {
    val blobs = spark.range(0L, 4000L, 1L, 4)
      .groupBy((col("id") % 8).as("g")).agg(f.build.as("s"))
      .collect().map(r => org.apache.spark.sql.Row(r.getLong(0), r.getAs[Array[Byte]](1)))
    val rows = blobs.take(4) ++ Seq(org.apache.spark.sql.Row(-1L, null)) ++
      blobs.drop(4) ++ Seq(org.apache.spark.sql.Row(-2L, null))
    val schema = StructType(Seq(StructField("g", LongType), StructField("s", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  private def unionBytes(df: DataFrame, f: Family): Array[Byte] =
    df.agg(f.union(col("s"))).head.getAs[Array[Byte]](0)

  families.foreach { f =>
    test(s"${f.name}_union_agg: NULL on empty/all-NULL input, NULLs skipped, SQL == Column") {
      val df = stored(f)
      val fn = s"${f.name}_union_agg"

      val empty = df.filter(col("g") < -100).agg(f.union(col("s"))).head
      assert(empty.isNullAt(0), s"$fn over empty input must be NULL")
      val allNull = df.filter(col("s").isNull).agg(f.union(col("s"))).head
      assert(allNull.isNullAt(0), s"$fn over NULL blobs only must be NULL")

      val withNulls = unionBytes(df, f)
      val nonNull = unionBytes(df.filter(col("s").isNotNull), f)
      assert(withNulls != null)
      assert(java.util.Arrays.equals(withNulls, nonNull), s"$fn must skip NULL blobs")

      val viewName = s"union_spec_${f.name}"
      df.createOrReplaceTempView(viewName)
      val viaSql = spark.sql(s"SELECT $fn(s) FROM $viewName")
      assert(java.util.Arrays.equals(viaSql.head.getAs[Array[Byte]](0), withNulls),
        s"$fn: SQL and Column calls disagree")
      assert(viaSql.columns.toSeq === Seq(s"$fn(s)"))
      assert(df.agg(f.union(col("s"))).columns.toSeq === Seq(s"$fn(s)"))

      if (f.byteEqualAcrossPlans) {
        spark.conf.set("spark.graft.sketchAgg.enabled", "false")
        val builtin = try unionBytes(df, f)
          finally spark.conf.set("spark.graft.sketchAgg.enabled", "true")
        assert(java.util.Arrays.equals(builtin, withNulls),
          s"$fn: custom sketch-agg plan and built-in plan disagree")
      }
    }
  }

  test("the table above covers every codec family") {
    assert(SketchCodec.all.map(_.family).toSet === families.map(_.name).toSet)
  }
}
