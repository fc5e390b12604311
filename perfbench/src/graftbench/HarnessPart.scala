package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** Harness queries (`graft.SparkEntry.queries`) on the fixed sf tables,
  * each timed to a fully collected result. Every result is hashed
  * canonically (columns sorted by name, rows sorted) and must match the
  * digest recorded for it.
  */
final class HarnessPart(s: SparkSession, sfDir: String, val names: Seq[String],
    expected: Map[String, String], tr: Tracer, ops: Ops) {

  /** Seconds per query, one entry per timed pass. */
  val times = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val digests = mutable.LinkedHashMap[String, String]()

  def pass(record: Boolean): Double = {
    var total = 0.0
    names.foreach { name =>
      val sec = tr.span("phase", s"${HarnessPart.family(name)}:$name") {
        ops.timed(name) {
          val df = SparkEntry.queries(name)(s, sfDir)
          (df.schema.fieldNames.toSeq, df.collect())
        } { case (columns, rows) =>
          val d = HarnessPart.digest(columns, rows)
          digests(name) = d
          expected.get(name) match {
            case Some(want) => ops.check(s"$name: result digest", d == want, s"$d, recorded $want")
            case None => ops.check(s"$name: result digest", ok = false, "no recorded digest")
          }
        }
      }
      sec.foreach { t =>
        total += t
        if (record) times.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += t
      }
    }
    total
  }

  /** Sum over queries of each query's median time across timed passes. */
  def totalSeconds: Double =
    if (times.size < names.size) Double.NaN
    else names.map(n => Stats.median(times(n).toSeq)).sum

  def report(m: Metrics): Unit = m.put("queries_total_s", totalSeconds, "s")
}

object HarnessPart {
  /** Queries of the ops families: the count-pruned dedup_substrings plan,
    * `Parallelize.spread` under multimodal_decode, and a text scan.
    */
  val OpsQueries: Seq[String] = Seq("dedup_substrings", "multimodal_decode", "text_repetition")

  /** Queries of the streaming and expr families: the streaming
    * micro-batch floor, the sbf_unknown_cardinality re-measurement and an
    * HLL count.
    */
  val StreamingQueries: Seq[String] =
    Seq("streaming_dedup", "sbf_unknown_cardinality", "hll_distinct")

  val Families: Seq[String] = Seq("ops.dedup", "ops.ann", "ops.multimodal", "ops.text",
    "ops.selection", "streaming.queries", "job.queries", "expr.queries")

  private val Selection = Set("dataset_split", "stratified_sample", "epoch_shuffle",
    "mixture_sample", "sequence_packing", "token_budget_select", "balanced_partitions")
  private val JobQueries = Set("sharded_build_probe", "dict_bloom_build",
    "sketch_build_resume", "salted_group_sketch", "source_files_build")

  /** The module family a query's time is counted under. */
  def family(name: String): String =
    if (name.startsWith("streaming_")) "streaming.queries"
    else if (name.startsWith("dedup_") || name == "decontamination") "ops.dedup"
    else if (name.startsWith("ann_") || name == "similarity_topk" || name == "embedding_pairs")
      "ops.ann"
    else if (name.startsWith("multimodal_")) "ops.multimodal"
    else if (name.startsWith("text_")) "ops.text"
    else if (Selection(name)) "ops.selection"
    else if (JobQueries(name)) "job.queries"
    else "expr.queries"

  private def render(v: Any): String = v match {
    case null => "<null>"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  /** sha256 over the sorted column names and the sorted rendered rows,
    * followed by the row count.
    */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val order = columns.zipWithIndex.sortBy(_._1)
    md.update(order.map(_._1).mkString(",").getBytes("UTF-8"))
    rows.map(r => order.map { case (_, i) => render(r.get(i)) }.mkString("\u0001"))
      .sorted.foreach(line => md.update(("\n" + line).getBytes("UTF-8")))
    md.digest().map(x => f"${x & 0xff}%02x").mkString + s":${rows.length}"
  }
}
