package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are wall-clock microseconds since the epoch,
  * so bench-side spans and Spark listener timestamps share one axis.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startUs: Long, endUs: Long)

/** Spans recorded around the benchmark's own calls into each layer:
  * workload -> part -> phase, plus job and stage spans derived from the
  * [[Counters]] listener. A disabled tracer records nothing; it prints
  * each part's duration to stderr as progress.
  */
final class Tracer(val runId: String, var enabled: Boolean) {
  private val baseUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = baseUs + System.nanoTime() / 1000L

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var current = 0L
  private var sc: org.apache.spark.SparkContext = _

  def attach(spark: SparkSession): Unit = sc = spark.sparkContext

  def span[A](kind: String, name: String)(body: => A): A =
    if (!enabled) {
      if (kind != "part") body
      else {
        val t0 = System.nanoTime()
        try body
        finally System.err.println(f"[graftbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    } else {
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      if (sc != null) sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = nowUs
      try body
      finally {
        spans += Span(id, parent, kind, name, start, nowUs)
        current = parent
        if (sc != null) sc.setLocalProperty(Tracer.SpanProperty,
          if (parent == 0L) null else parent.toString)
      }
    }

  /** Bench spans plus one span per Spark job and stage. A job hangs under
    * the span that was open when it was submitted (or, for jobs submitted
    * from other threads such as streaming, the innermost phase whose
    * interval holds its start); a stage hangs under its first job.
    */
  def withSpark(c: Counters): Seq[Span] = {
    val bench = spans.toSeq
    val phases = bench.filter(_.kind == "phase")
    var id = nextId
    val jobSpan = mutable.Map[Int, Long]()
    val out = mutable.ArrayBuffer[Span]() ++= bench
    c.jobList.sortBy(_.jobId).foreach { j =>
      val startUs = j.startMs * 1000L
      val parent = j.span.filter(p => bench.exists(_.id == p)).getOrElse(
        phases.filter(p => p.startUs <= startUs && startUs <= p.endUs)
          .sortBy(p => p.endUs - p.startUs).headOption.map(_.id).getOrElse(0L))
      jobSpan(j.jobId) = id
      out += Span(id, parent, "job", s"job ${j.jobId}", startUs,
        math.max(startUs, j.endMs * 1000L))
      id += 1
    }
    c.stageList.foreach { st =>
      val parent = st.jobId.flatMap(jobSpan.get).getOrElse(0L)
      out += Span(id, parent, "stage", s"stage ${st.stageId}.${st.attempt}",
        st.submitMs * 1000L, math.max(st.submitMs, st.completeMs) * 1000L)
      id += 1
    }
    out.toSeq
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children. Summed per span kind, in seconds.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { sp =>
        val covered = children.getOrElse(sp.id, Nil)
          .map(c => (math.max(c.startUs, sp.startUs), math.min(c.endUs, sp.endUs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
        var busy = 0L
        var (curA, curB) = (-1L, -1L)
        covered.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) busy += curB - curA
        (sp.endUs - sp.startUs - busy) / 1e6
      }.sum
    }
  }

  def toJson(runId: String, spans: Seq[Span]): String = {
    val sb = new StringBuilder
    sb.append(s"""{"run_id":"$runId","spans":[""")
    spans.zipWithIndex.foreach { case (sp, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${sp.id},"parent":${sp.parent},"kind":"${sp.kind}",""")
      sb.append(s""""name":"${Json.escape(sp.name)}","start_us":${sp.startUs},""")
      sb.append(s""""end_us":${sp.endUs},"run_id":"$runId"}""")
    }
    sb.append("]}\n")
    sb.toString
  }
}

final case class JobRec(jobId: Int, span: Option[Long], startMs: Long, var endMs: Long)
final case class StageRec(stageId: Int, attempt: Int, jobId: Option[Int], submitMs: Long,
    completeMs: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long)

/** Spark-engine counters, read from the outside: a SparkListener for jobs,
  * stages and task metrics, and a QueryExecutionListener for planning time
  * and for the expressions that break whole-stage codegen.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var planningMs = 0L
  /** The last sketch-table write planned with SketchPartialAggExec. */
  @volatile var lastAggExecution: QueryExecution = _
  /** Codegen-fallback nodes per bucket; the bench names the bucket. */
  val fallbackNodes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  @volatile var bucket: String = "expr"

  def jobList: Seq[JobRec] = jobs.asScala.toSeq
  def stageList: Seq[StageRec] = stages.asScala.toSeq
  def planningSeconds: Double = planningMs / 1e3

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong)
    jobs.add(JobRec(e.jobId, span, e.time, e.time))
    e.stageIds.foreach(id => stageJob.putIfAbsent(id, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.jobId == e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (i.submissionTime.isDefined && m != null) {
      stages.add(StageRec(i.stageId, i.attemptNumber(), Option(stageJob.get(i.stageId)).map(_.toInt),
        i.submissionTime.get, i.completionTime.getOrElse(i.submissionTime.get), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    val all = Counters.nodes(qe.executedPlan)
    if (all.exists(_.isInstanceOf[graft.plans.SketchPartialAggExec]) &&
        all.exists(_.getClass.getSimpleName.contains("Write"))) lastAggExecution = qe
    countFallbacks(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def countFallbacks(plan: SparkPlan): Unit = {
    val n = Counters.nodes(plan).map(_.expressions.map(Counters.fallbacks).sum).sum
    fallbackNodes.merge(bucket, n.toLong, (a, b) => a + b)
  }
}

object Counters {
  /** Every physical node, looking inside adaptive plans and query stages. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Scalar expressions that evaluate interpreted inside generated code.
    * Aggregate functions are excluded: the aggregate operator runs them,
    * so their interpreted update path does not break a codegen stage.
    */
  def fallbacks(e: Expression): Int = e.collect {
    case a: AggregateFunction => Nil
    case x: CodegenFallback => x :: Nil
    case u: ScalaUDF => u :: Nil
  }.map(_.size).sum
}
