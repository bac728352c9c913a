package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-aligned nanoseconds: Spark stamps its events with
  * `System.currentTimeMillis`, so spans use the same epoch to line up
  * with them, at nanoTime resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

/** One call the benchmark made into the program (an op, or a direct
  * per-layer call in the traced run). `parent` is -1 at top level. */
final case class Span(id: Int, name: String, parent: Int, req: Long,
    start: Long, var end: Long = 0L) {
  def durMs: Double = (end - start) / 1e6
}

/** Spans kept in memory; with tracing off it only runs the body. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  def apply[T](name: String, req: Long)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), req, Clock.now())
      spans += s
      open = s :: open
      try body finally { s.end = Clock.now(); open = open.tail }
    }
}

/** Work a Spark job did, summed over its tasks. */
final class JobRec(val id: Int, val start: Long, val stages: Seq[Int]) {
  var end: Long = Long.MaxValue
  var tasks = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

/** The listener the traced run registers: every job with its task
  * totals, and every query's planning time (all phases of its
  * `QueryPlanningTracker`), stamped with when planning started. */
final class Recorder extends SparkListener with QueryExecutionListener {
  /** Job and stage ids restart with each SparkContext; keys carry the
    * context's number. */
  private var context = 0
  val jobs = mutable.LinkedHashMap[(Int, Int), JobRec]()
  private val jobOfStage = mutable.HashMap[(Int, Int), JobRec]()
  def nextContext(): Unit = synchronized { context += 1 }
  /** (planning start, planning ms) per finished query. */
  val queries = mutable.ArrayBuffer[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time * 1000000L, e.stageIds)
    jobs((context, e.jobId)) = j
    e.stageIds.foreach(s => jobOfStage((context, s)) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get((context, e.jobId)).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    jobOfStage.get((context, e.stageId)).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      queries += ((phases.map(_.startTimeMs).min * 1000000L,
        phases.map(_.durationMs).sum.toDouble))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** What the jobs and queries that started inside one span did. */
final case class SpanWork(span: Span, jobs: Int, tasks: Long, jobMs: Double,
    shuffleBytes: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long, planMs: Double) {
  /** Span wall time not covered by any of its jobs. */
  def gapMs: Double = span.durMs - jobMs
}

object SpanWork {
  /** The innermost span open when a job or query started at `t`; Spark's
    * millisecond stamps get a millisecond of slack at the span start. */
  def owner(spans: Seq[Span], t: Long): Option[Span] = {
    val inside = spans.filter(s => t >= s.start - 1000000L && t <= s.end)
    if (inside.isEmpty) None else Some(inside.maxBy(_.start))
  }

  def of(spans: Seq[Span], rec: Recorder): Map[Int, SpanWork] = rec.synchronized {
    val jobsBy = rec.jobs.values.toSeq.groupBy(j => owner(spans, j.start).map(_.id))
    val plansBy = rec.queries.toSeq.groupBy(q => owner(spans, q._1).map(_.id))
    spans.map { s =>
      val js = jobsBy.getOrElse(Some(s.id), Nil)
      val covered = union(js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end))))
      s.id -> SpanWork(s, js.size, js.map(_.tasks).sum, covered / 1e6,
        js.map(_.shuffleBytes).sum, js.map(_.inputBytes).sum,
        js.map(_.inputRecords).sum, js.map(_.outputBytes).sum,
        plansBy.getOrElse(Some(s.id), Nil).map(_._2).sum)
    }.toMap
  }

  /** Total length covered by a set of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spans and jobs as JSON lines; each job is a child of its span. */
  def dump(path: java.nio.file.Path, spans: Seq[Span], rec: Recorder): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},"start_ns":${s.start},"end_ns":${s.end}}""" += '\n'
    }
    rec.synchronized(rec.jobs.values.toSeq).foreach { j =>
      val parent = owner(spans, j.start).fold(-1)(_.id)
      sb ++= s"""{"job":${j.id},"parent":$parent,"start_ns":${j.start},"end_ns":${j.end},"tasks":${j.tasks},"shuffle_bytes":${j.shuffleBytes},"input_bytes":${j.inputBytes},"output_bytes":${j.outputBytes}}""" += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
