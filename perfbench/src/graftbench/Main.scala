package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM at `local[4]`: set-up, warm-up, then a
  * closed loop, for `--seconds`, of rounds over the three parts — global
  * SBBF build/probe, grouped sketch table, harness queries. Every workload
  * runs every part, so every run reports every end-to-end metric; the
  * workloads differ in the group-size distribution of the sketch table
  * and in which harness queries they time. A traced run reports the
  * per-layer metrics instead.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --run-dir DIR --sf-dir DIR --digests FILE --result FILE
  *   [--trace-file FILE] [--record-digests FILE]
  */
object Main {
  /** Workload -> (group-size exponent, harness queries it times). */
  val Workloads: Map[String, (Int, Seq[String])] = Map(
    "skewed_ops" -> (3, HarnessPart.OpsQueries),
    "uniform_streaming" -> (1, HarnessPart.StreamingQueries))

  val Keys = 2000000L
  val Rows = 500000L
  val Groups = 100000
  val SetupRepetitions = 3
  /** The first timed round still runs slower than the rest while the JIT
    * catches up, so a median needs at least three.
    */
  val MinRounds = 3

  private def session(runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      // the default 100 generated classes are fewer than one round's plans:
      // each round evicted the last one's, and the first probe and rollup
      // of every round recompiled and took twice as long as the second
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val (skew, queries) = Workloads(workload)
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val runDir = args("run-dir")
    val expected = Json.parseStringMap(
      new String(JFiles.readAllBytes(Paths.get(args("digests"))), StandardCharsets.UTF_8))

    val s = session(runDir)
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val tr = new Tracer(runId, trace)
    tr.attach(s)
    val counters = new Counters
    if (trace) {
      s.sparkContext.addSparkListener(counters)
      s.listenerManager.register(counters)
    }
    def bucket(b: String): Unit = if (trace) {
      GraftBenchBus.drain(s.sparkContext)
      counters.bucket = b
    }
    graft.sql.Registry.register(s)
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

    val ops = new Ops
    val e2e = new Metrics
    val layers = new Metrics
    val sbbf = new SbbfPart(s, seed, Keys, tr, ops)
    val grouped = new GroupedPart(s, seed, Rows, Groups, skew, s"$runDir/tables", tr, ops)
    val harness = new HarnessPart(s, args("sf-dir"), queries, expected, tr, ops)

    // the same operations in the same order every round
    def round(record: Boolean): Unit = {
      tr.span("part", "sbbf_build_probe")(sbbf.iteration(record))
      tr.span("part", "grouped_sketch_table")(grouped.iteration(record))
      tr.span("part", "harness_queries")(harness.pass(record))
    }
    try {
      tr.span("workload", workload) {
        val prep = tr.span("part", "setup.inputs") {
          (1 to SetupRepetitions).map { r =>
            Stats.timeSec {
              tr.span("phase", "setup.sbbf_keys")(sbbf.prepare())
              tr.span("phase", "setup.grouped_input")(grouped.prepare(r))
            }._2
          }
        }
        System.err.println(s"[graftbench] setup repetitions: ${prep.map(x => f"$x%.2f").mkString(" ")}")

        // warm-up: one untimed round, whose harness pass is the cold pass
        // that set-up pays
        bucket("expr")
        tr.span("part", "warmup") {
          sbbf.iteration(record = false)
          grouped.iteration(record = false)
        }
        bucket("ops")
        val cold = tr.span("part", "setup.harness_cold_pass") {
          Stats.timeSec(harness.pass(record = false))._2
        }
        e2e.put("setup_s", Stats.median(prep) + cold, "s")
        bucket("none")

        // closed loop: at least MinRounds rounds, then rounds while another
        // still fits in --seconds
        val t0 = System.nanoTime()
        var rounds = 0
        var last = 0.0
        while (rounds < MinRounds || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
          last = Stats.timeSec(round(record = true))._2
          rounds += 1
        }
      }
      sbbf.report(e2e)
      grouped.report(e2e)
      harness.report(e2e)
      def samples(name: String, xs: Iterable[Double]): Unit =
        System.err.println(s"[graftbench] samples $name: " + xs.map(x => f"$x%.3f").mkString(" "))
      samples("build_c1", sbbf.c1); samples("build_c4", sbbf.c4); samples("probe", sbbf.probes)
      samples("group_agg", grouped.aggs); samples("rollup", grouped.rollups)
      samples("table_probe", grouped.probes)
      harness.times.foreach { case (q, t) => samples(q, t) }

      if (trace) {
        GraftBenchBus.drain(s.sparkContext)
        val spans = tr.withSpark(counters)
        reportSpark(layers, counters)
        reportFamilies(layers, harness, spans)
        Tracer.selfTimes(spans).foreach { case (kind, sec) => layers.put(s"self.${kind}_s", sec, "s") }
        layers.put("expr.codegen_fallback_nodes",
          Option(counters.fallbackNodes.get("expr")).map(_.toDouble).getOrElse(0.0), "count")
        layers.put("ops.codegen_fallback_nodes",
          Option(counters.fallbackNodes.get("ops")).map(_.toDouble).getOrElse(0.0), "count")
        val aggPhase = spans.filter(sp => sp.kind == "phase" && sp.name == "plans.group_agg")
          .lastOption.map(_.id)
        val aggJobs = spans.filter(sp => sp.kind == "job" && aggPhase.contains(sp.parent))
          .map(_.name.stripPrefix("job ").toInt).toSet
        val aggStages = counters.stageList.filter(_.jobId.exists(aggJobs))

        // tracing overhead: one untraced round, then one traced round
        tracing(s, tr, counters, enabled = false)
        val off = Stats.timeSec(round(record = false))._2
        tracing(s, tr, counters, enabled = true)
        val on = Stats.timeSec(round(record = false))._2
        layers.put("trace.overhead_pct", 100.0 * (on / off - 1), "%")

        bucket("expr")
        sbbf.layers(layers, counters)
        grouped.layers(layers, counters, aggStages)
        layers.put("jvm.peak_heap_mb", heapPeakMb, "MB")
        args.get("trace-file").foreach { f =>
          JFiles.write(Paths.get(f), Tracer.toJson(runId, spans).getBytes(StandardCharsets.UTF_8))
        }
      }
      args.get("record-digests").foreach { f =>
        val body = harness.digests.map { case (k, v) => s"""  "$k": "$v"""" }.mkString(",\n")
        JFiles.write(Paths.get(f), s"{\n$body\n}\n".getBytes(StandardCharsets.UTF_8))
      }
    } finally s.stop()

    val metrics = if (trace) layers else e2e
    val result = s"""{"correct":${ops.failed == 0},"attempted":${ops.attempted},""" +
      s""""failed":${ops.failed},"metrics":${metrics.toJson}}"""
    JFiles.write(Paths.get(args("result")), result.getBytes(StandardCharsets.UTF_8))
  }

  private def tracing(s: SparkSession, tr: Tracer, c: Counters, enabled: Boolean): Unit = {
    GraftBenchBus.drain(s.sparkContext)
    tr.enabled = enabled
    if (enabled) {
      s.sparkContext.addSparkListener(c)
      s.listenerManager.register(c)
    } else {
      s.sparkContext.removeSparkListener(c)
      s.listenerManager.unregister(c)
    }
  }

  private def reportSpark(m: Metrics, c: Counters): Unit = {
    val st = c.stageList
    m.put("spark.jobs", c.jobList.size.toDouble, "count")
    m.put("spark.stages", st.size.toDouble, "count")
    m.put("spark.tasks", st.map(_.tasks.toLong).sum.toDouble, "count")
    m.put("spark.shuffle_write_mb", st.map(_.shuffleWriteBytes).sum / 1048576.0, "MB")
    m.put("spark.shuffle_read_mb", st.map(_.shuffleReadBytes).sum / 1048576.0, "MB")
    m.put("spark.executor_run_s", st.map(_.runMs).sum / 1e3, "s")
    m.put("spark.executor_cpu_s", st.map(_.cpuNs).sum / 1e9, "s")
    m.put("spark.gc_s", st.map(_.gcMs).sum / 1e3, "s")
    m.put("spark.planning_s", c.planningSeconds, "s")
  }

  /** Per module family: the median seconds of its timed queries, and the
    * Spark jobs its queries ran per timed pass.
    */
  private def reportFamilies(m: Metrics, h: HarnessPart, spans: Seq[Span]): Unit = {
    val timedParts = spans.filter(sp => sp.kind == "part" && sp.name == "harness_queries")
      .map(_.id).toSet
    val passes = math.max(1, timedParts.size)
    HarnessPart.Families.foreach { fam =>
      val names = h.names.filter(n => HarnessPart.family(n) == fam)
      val sec = names.flatMap(n => h.times.get(n).map(t => Stats.median(t.toSeq))).sum
      val phases = spans.filter(sp => sp.kind == "phase" && timedParts(sp.parent) &&
        sp.name.startsWith(fam + ":")).map(_.id).toSet
      val jobs = spans.count(sp => sp.kind == "job" && phases(sp.parent))
      m.put(s"${fam}_s", sec, "s")
      m.put(s"${fam}_jobs", jobs.toDouble / passes, "count")
    }
  }
}
