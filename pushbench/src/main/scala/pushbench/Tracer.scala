package pushbench

import scala.collection.mutable

import org.apache.spark.{PushbenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters kept for one span, or one module within it. */
final class Counters {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  var planMs, sourceRows = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; planMs += o.planMs; sourceRows += o.sourceRows
  }
  def fields: Seq[(String, Double)] = Seq[(String, Double)]("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
    "spill_bytes" -> spill, "plan_ms" -> planMs, "source_rows" -> sourceRows)
}

/** A timed call into one layer. `pass` groups the spans of one pass. */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int) {
  var startMs, endMs, startNs, endNs, codegenCompiles = 0L
  val counters = new Counters
  val modules = mutable.TreeMap.empty[String, Counters]
  var driverGapMs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the engine and keys
  * Spark's own counters to them: jobs by the span id the benchmark
  * thread sets as a local property, tasks and stages through their job,
  * and planning time and source-scan rows of each finished query by the
  * span whose interval holds the query's planning. Jobs issued inside a
  * span are also split by module, read off the job's call site.
  * Everything stays in memory until [[finish]]. */
final class Tracer(sc: SparkContext, isSourceScan: SparkPlan => Boolean)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None

  def span[T](name: String, pass: Int)(body: => T): (T, Span) = {
    val s = new Span(spans.size + 1, name, current.fold(0)(_.id), pass)
    spans += s
    val outer = current
    current = Some(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    s.startMs = System.currentTimeMillis(); s.startNs = System.nanoTime()
    try (body, s)
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      s.codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      current = outer
      sc.setLocalProperty(SpanKey, outer.map(_.id.toString).orNull)
    }
  }

  // Listener-side state, touched only on the listener bus thread.
  private final case class Job(span: Int, var module: String, execution: Option[String],
                               start: Long, var end: Long, counters: Counters)
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val queries = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (planning start, plan ms, source rows)
  private val executionModule = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionModule(s.executionId.toString) = module(s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { id =>
      val c = new Counters
      c.jobs = 1
      jobs(e.jobId) = Job(id.toInt, module(e.stageInfos.headOption.map(_.details).getOrElse("")),
        Option(e.properties.getProperty("spark.sql.execution.id")), e.time, e.time, c)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.get(e.jobId).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.counters.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      val c = j.counters
      c.tasks += 1; c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime; c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  private def recordQuery(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val rows = collectWithSubqueries(qe.executedPlan) {
        case p if p.children.isEmpty && isSourceScan(p) =>
          p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      queries += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum, rows))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordQuery(qe)

  /** Wait for every queued event, then key jobs and queries to their
    * span and each of its ancestors. */
  def finish(): Unit = {
    PushbenchBus.drain(sc)
    val byId = spans.iterator.map(s => s.id -> s).toMap
    def chain(id: Int): Iterator[Span] =
      Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent))).takeWhile(_.isDefined).map(_.get)
    // a SQL execution submits its jobs from a pool thread, whose call site
    // holds no engine frame: those jobs take the module of the call site
    // that started the execution
    jobs.values.filter(_.module == Unattributed)
      .foreach(j => j.module = j.execution.flatMap(executionModule.get).getOrElse(Unattributed))
    val intervals = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    jobs.values.foreach { j =>
      chain(j.span).foreach { s =>
        s.counters.add(j.counters)
        s.modules.getOrElseUpdate(j.module, new Counters).add(j.counters)
        intervals.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) +=
          ((math.max(j.start, s.startMs), math.min(j.end, s.endMs)))
      }
    }
    // a query belongs to the innermost span whose interval holds its planning
    queries.foreach { case (t, planMs, rows) =>
      spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startMs).foreach { inner =>
        chain(inner.id).foreach { s => s.counters.planMs += planMs; s.counters.sourceRows += rows }
      }
    }
    // driver gap: span time that no job of the span (or its children) covers
    spans.foreach { s =>
      var covered, from, to = 0L
      var open = false
      intervals.getOrElse(s.id, mutable.ArrayBuffer.empty).filter { case (a, b) => b > a }
        .sortBy(_._1).foreach { case (a, b) =>
          if (open && a <= to) to = math.max(to, b)
          else { if (open) covered += to - from; from = a; to = b; open = true }
        }
      if (open) covered += to - from
      s.driverGapMs = (s.endMs - s.startMs) - covered
    }
  }
}

object Tracer {
  val SpanKey = "pushbench.span"
  val Unattributed = "bench"

  private val Frame = """\bgraft\.(\w+)\.(\w+?)\$?[.$]""".r
  private val Modules = Map(
    "MetadataSource" -> "sources.extract", "GraphExpansion" -> "operators",
    "CsvGraphStage" -> "sources.stage_write", "MetadataJob" -> "sources.stage_readback",
    "SqsPublisher" -> "sources.publish")

  /** Module of the innermost engine frame in a job's call site. */
  def module(callSite: String): String =
    Frame.findFirstMatchIn(callSite).map(m => Modules.getOrElse(m.group(2), s"${m.group(1)}.${m.group(2)}"))
      .getOrElse(Unattributed)
}
