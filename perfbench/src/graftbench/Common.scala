package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Hashing
import graft.functions.mix64

/** Seeded input generation. Every input value derives from `key(base, i)`,
  * the Murmur3 64-bit finalizer (`graft.core.Hashing.mix64`) of a seeded
  * index. The finalizer is a bijection, so distinct indices give distinct
  * keys and members and non-members are disjoint by construction. Each
  * generator has a column form, evaluated by Spark at set-up, and a scalar
  * form for the checks.
  */
object Gen {
  /** Index space of stream `stream` for `seed`: 2^40 indices per stream,
    * 16 streams per seed, so streams and seeds never overlap.
    */
  def base(seed: Long, stream: Int): Long = (seed << 44) | (stream.toLong << 40)

  def key(base: Long, i: Long): Long = Hashing.mix64(base | i)
  def keyCol(base: Long, i: Column): Column = mix64(i.bitwiseOR(lit(base)))

  private val Unit53 = 1.0 / (1L << 53)

  /** Group of row `i`: groups * u^skew for uniform u. Skew 3 puts most
    * rows in the low group ids and leaves a long tail of small groups.
    */
  def group(base: Long, i: Long, groups: Int, skew: Int): Long = {
    val u = (key(base, i) >>> 11) * Unit53
    var g = groups.toDouble
    (1 to skew).foreach(_ => g *= u)
    math.min(groups - 1L, g.toLong)
  }

  def groupCol(base: Long, i: Column, groups: Int, skew: Int): Column = {
    val u = shiftrightunsigned(keyCol(base, i), 11).cast("double") * lit(Unit53)
    val g = (1 to skew).foldLeft(lit(groups.toDouble))((acc, _) => acc * u)
    least(lit(groups - 1L), g.cast("long"))
  }

  /** A file-path-like string key, unique per row. */
  def pathKey(base: Long, i: Long): String = {
    val h = key(base, i)
    s"src/m${h >>> 58}/pkg${(h >>> 48) & 0x3ff}/${java.lang.Long.toHexString(h)}.scala"
  }

  def pathKeyCol(base: Long, i: Column): Column = {
    val h = keyCol(base, i)
    concat(lit("src/m"), shiftrightunsigned(h, 58).cast("string"),
      lit("/pkg"), shiftrightunsigned(h, 48).bitwiseAND(lit(0x3ffL)).cast("string"),
      lit("/"), lower(hex(h)), lit(".scala"))
  }
}

/** Attempted and failed operations. Every timed operation is one attempt;
  * it fails, once, when it throws or any of its correctness checks fails.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  /** Records a failed check; returns `ok` so checks chain with `&&`. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    if (!ok) note(s"$what: $detail")
    ok
  }

  private def note(msg: String): Unit = {
    failures += msg
    System.err.println(s"[graftbench] FAILED $msg")
  }

  /** Runs one operation: times `action`, then checks its result outside
    * the timed interval. Returns the seconds taken, or None when the
    * operation threw or its result failed `check`.
    */
  def timed[A](what: String)(action: => A)(check: A => Boolean): Option[Double] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val result = action
      val sec = (System.nanoTime() - t0) / 1e9
      if (check(result)) Some(sec) else { failed += 1; None }
    } catch {
      case e: Throwable =>
        note(s"$what threw ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        failed += 1
        None
    }
  }
}

object Stats {
  /** Median; NaN (printed as null) when every sample failed. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def timeSec[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Flat string -> string map, as the digest file holds. */
  def parseStringMap(text: String): Map[String, String] = {
    val pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
    pair.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }
}

/** Metric sink: name -> (value, unit), in insertion order. */
final class Metrics {
  val values = mutable.LinkedHashMap[String, (Double, String)]()
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def toJson: String = values.map { case (k, (v, u)) =>
    s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
  }.mkString("{", ",", "}")
}
