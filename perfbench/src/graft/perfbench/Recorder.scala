package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans opened by the benchmark around calls into the program. The open
  * span's id travels to Spark as a job-local property, so every job (and
  * through its execution id, every query) is attributed to the innermost
  * span that was open when it started. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val unit: String, val phase: String, val startMs: Long,
                 val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var next = 0L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  /** "measure" or "trace": which pass a span belongs to. */
  var phase = "measure"

  def span[T](name: String, unit: String)(body: => T): T = {
    next += 1
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = new Span(next, name, parent, unit, phase,
      System.currentTimeMillis(), System.nanoTime())
    stack.push(s)
    spans += s
    sc.setLocalProperty(Recorder.SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(Recorder.SpanKey,
        stack.headOption.map(_.id.toString).orNull)
    }
  }
}

/** Spark's own counters, collected from outside the program by a
  * SparkListener (jobs, stages, task metrics) and a QueryExecutionListener
  * (planning time and executed-plan shape per query). */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  /** `site` is the head of the job's call site. */
  final class Job(val id: Int, val startMs: Long, val span: Long,
                  val execId: Long, val layer: String, val site: String) {
    var endMs = -1L
    var stages, tasks = 0
    var runMs, cpuNs, gcMs, shuffleWrite, spill, bytesRead, maxTaskMs = 0L
  }
  final case class Query(execId: Long, planningMs: Double, jsonScans: Int,
                         nlJoins: Int)

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val queries = new ConcurrentLinkedQueue[Query]()
  /** The QueryExecutionListener callback and the SQLExecutionEnd event of
    * one execution arrive on different listener queues, in either order:
    * whichever comes first waits here, keyed by the query object. */
  private val statsOf = new java.util.WeakHashMap[AnyRef, (Double, Int, Int)]()
  private val execOf = new java.util.WeakHashMap[AnyRef, java.lang.Long]()
  /** Layer of each SQL execution, from the call site of the action that
    * started it. */
  val execLayer = new ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
    val details = e.stageInfos.map(_.details).mkString("\n")
    val j = new Job(e.jobId, e.time,
      prop(SpanKey).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      layerOf(details), details.take(400))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.bytesRead += m.inputMetrics.bytesRead
      }
    }

  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    val planningMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    var scans, nl = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        other match {
          case f: FileSourceScanExec
              if f.relation.fileFormat.getClass.getSimpleName
                .startsWith("Json") => scans += 1
          case _: BroadcastNestedLoopJoinExec => nl += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    synchronized {
      Option(execOf.remove(qe)) match {
        case Some(id) => queries.add(Query(id, planningMs, scans, nl))
        case None => statsOf.put(qe, (planningMs, scans, nl))
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart =>
      execLayer.put(start.executionId, layerOf(start.details))
    case end: SparkListenerSQLExecutionEnd =>
      val qe = PerfbenchAccess.queryOf(end)
      if (qe != null) synchronized {
        Option(statsOf.remove(qe)) match {
          case Some((planningMs, scans, nl)) =>
            queries.add(Query(end.executionId, planningMs, scans, nl))
          case None => execOf.put(qe, end.executionId)
        }
      }
    case _ =>
  }

  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
}

object Recorder {
  val SpanKey = "perfbench.span"

  /** The program layer that triggered a job itself, from the job's call
    * site (the driver stack of the action): the innermost known frame. */
  private val Layers = Seq(
    "graft.Run$.writeSingleCsv" -> "sink",
    "graft.io.Writers" -> "sink",
    "graft.ops.Acc$.restingBand" -> "categorize",
    "graft.ops.TimeOps" -> "normalize",
    "graft.ops.Filters" -> "filters",
    "graft.io.Readers" -> "readers",
    "graft.dedup" -> "curate",
    "graft.text" -> "curate",
    "graft.pipeline.Pipelines$.curate" -> "curate",
    "graft.perfbench" -> "bench")

  def layerOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).flatMap(l =>
      Layers.collectFirst { case (k, v) if l.startsWith(k) => v })
      .nextOption().getOrElse("other")

  /** A job's layer: its own call site's or, for the stage jobs that
    * adaptive execution submits from its own threads, that of the action
    * that started the job's SQL execution. */
  private def layers(rec: Recorder): Map[Int, String] =
    rec.jobs.values().asScala.map(j => j.id ->
      (if (j.layer != "other") j.layer
       else Option(rec.execLayer.get(j.execId)).getOrElse("other"))).toMap

  /** One JSON object per job: its span, execution, layer and counters. */
  def jobsJson(rec: Recorder): Seq[String] = {
    val layer = layers(rec)
    rec.jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj(Seq("job" -> j.id.toString, "span" -> j.span.toString,
        "exec" -> j.execId.toString, "layer" -> Json.str(layer(j.id)),
        "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
        "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
        "site" -> Json.str(j.site)))
    }
  }

  /** Per-span counters over the span and its descendants, as one JSON
    * object per line. */
  def spansJson(spans: Seq[Span], rec: Recorder, cores: Int): Seq[String] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Set[Long] =
      Set(s.id) ++ children.getOrElse(s.id, Nil).flatMap(subtree)
    val jobs = rec.jobs.values().asScala.toSeq
    val byExec = rec.queries.asScala.toSeq.groupBy(_.execId)
    val layer = layers(rec)
    spans.map { s =>
      val ids = subtree(s)
      val js = jobs.filter(j => ids(j.span))
      val qs = js.map(_.execId).distinct.flatMap(e => byExec.getOrElse(e, Nil))
      // driver gap: span time during which none of its jobs ran
      val iv = js.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      val wallMs = (s.endMs - s.startMs).max(0L)
      val layerMs = js.groupBy(j => layer(j.id)).map { case (l, g) =>
        l -> g.map(j => (j.endMs - j.startMs).max(0L)).sum }
      def sumL(f: rec.Job => Long) = js.map(f).sum
      Json.obj(Seq(
        "id" -> s.id.toString,
        "parent" -> s.parent.toString,
        "name" -> Json.str(s.name),
        "unit" -> Json.str(s.unit),
        "phase" -> Json.str(s.phase),
        "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString,
        "seconds" -> Json.num(s.seconds),
        "jobs" -> js.size.toString,
        "stages" -> js.map(_.stages).sum.toString,
        "tasks" -> js.map(_.tasks).sum.toString,
        "task_run_s" -> Json.num(sumL(_.runMs) / 1e3),
        "task_cpu_s" -> Json.num(sumL(_.cpuNs) / 1e9),
        "gc_s" -> Json.num(sumL(_.gcMs) / 1e3),
        "max_task_s" -> Json.num(
          js.map(_.maxTaskMs).foldLeft(0L)(math.max) / 1e3),
        "shuffle_write_bytes" -> sumL(_.shuffleWrite).toString,
        "spill_bytes" -> sumL(_.spill).toString,
        "input_bytes" -> sumL(_.bytesRead).toString,
        "driver_gap_s" -> Json.num((wallMs - covered).max(0L) / 1e3),
        "core_busy_ratio" -> Json.num(
          if (wallMs > 0) sumL(_.runMs).toDouble / (wallMs * cores) else 0.0),
        "planning_s" -> Json.num(qs.map(_.planningMs).sum / 1e3),
        "json_scans" -> qs.map(_.jsonScans).sum.toString,
        "nl_joins" -> qs.map(_.nlJoins).sum.toString,
        "job_s_by_layer" -> Json.obj(layerMs.toSeq.sortBy(_._1)
          .map { case (l, ms) => l -> Json.num(ms / 1e3) }),
        "jobs_by_layer" -> Json.obj(js.groupBy(j => layer(j.id)).toSeq
          .sortBy(_._1).map { case (l, g) => l -> g.size.toString })))
    }
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
