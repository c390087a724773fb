package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** In-memory trace of a run: spans the benchmark puts around each public
  * call, and one record per Spark job charged to the library module whose
  * source file started it. Written out as one JSON file when the run ends.
  *
  * Attribution reads the job's result-stage call site (the stack of the
  * thread that started the job). Jobs started from an async frame (AQE
  * stage materialization, broadcast builds) carry no library frame there,
  * so they fall back to the call site recorded when their SQL execution
  * started. A job with neither is counted as unattributed, never dropped. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  /** SQL execution id -> (short, long) call site at execution start. */
  private val execSites = mutable.Map.empty[Long, (String, String)]

  /** Runs `body` inside a named span; jobs it starts carry the span id. */
  def span[A](name: String)(body: => A): A = {
    val s = new Span(spans.size, name, open.headOption.fold(-1)(_.id),
      System.currentTimeMillis())
    spans += s
    open.push(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.currentTimeMillis()
      open.pop()
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  def lastSpan(name: String): Span = spans.findLast(_.name == name).get

  /** Spans under (and including) `root`. */
  def subtree(root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    spans.filter(s => s.id >= root.id).foreach { s =>
      if (ids.contains(s.parent)) ids += s.id
    }
    spans.filter(s => ids.contains(s.id)).toSeq
  }

  /** Completed jobs started inside `root` or any span below it. */
  def jobsUnder(root: Span): Seq[Job] = {
    Bus.drain(sc)
    val ids = subtree(root).map(_.id).toSet
    synchronized(jobs.values.filter(j => ids.contains(j.span) && j.end >= 0).toSeq)
  }

  /** The job's (short, long) call site: its result stage's, or its SQL
    * execution's when the stage's carries no library or benchmark frame. */
  def callSite(j: Job): (String, String) = synchronized {
    if (Trace.module(j.site).isDefined) (j.name, j.site)
    else j.execId.flatMap(execSites.get).getOrElse((j.name, j.site))
  }

  def moduleOf(j: Job): String = Trace.module(callSite(j)._2).getOrElse(Unattributed)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(execSites(s.executionId) = (s.description, s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val result = e.stageInfos.maxBy(_.stageId)
    val j = new Job(e.jobId, e.time,
      prop(SpanProp).map(_.toInt).getOrElse(-1),
      prop("spark.sql.execution.id").map(_.toLong),
      result.name, result.details)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (j <- stageJob.get(e.stageId); if m != null) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.deserMs += m.executorDeserializeTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
    }
  }

  def toJson(iterations: Seq[Map[String, Double]]): String = synchronized {
    Bus.drain(sc)
    Main.json.writeValueAsString(ListMap(
      "spans" -> spans.map(s => ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end)),
      "jobs" -> jobs.values.map(j => ListMap("id" -> j.id, "span" -> j.span,
        "start_ms" -> j.start, "end_ms" -> j.end, "module" -> moduleOf(j),
        "call_site" -> callSite(j)._1, "stage_call_site" -> j.name, "sql_execution" -> j.execId.getOrElse(-1L),
        "stages" -> j.stages, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
        "task_deser_ms" -> j.deserMs, "task_gc_ms" -> j.gcMs,
        "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
        "output_bytes" -> j.outBytes)),
      "iterations" -> iterations))
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val Unattributed = "unattributed"

  final class Span(val id: Int, val name: String, val parent: Int,
      val start: Long) {
    var end: Long = -1L
    def seconds: Double = (end - start) / 1000.0
  }

  final class Job(val id: Int, val start: Long, val span: Int,
      val execId: Option[Long], val name: String, val site: String) {
    var end: Long = -1L
    var stages, tasks = 0
    var runMs, deserMs, gcMs, shuffleRead, shuffleWrite, spill, outBytes = 0L
  }

  /** The module of the innermost library (or benchmark) frame of a call
    * stack: the repo's package layout names the layers. A job under an
    * `AuditLog` frame is charged to `sink.audit`, whatever sink code ran. */
  def module(stack: String): Option[String] = {
    val frames = Option(stack).toSeq.flatMap(_.split("\n")).map(_.trim)
    val classes = frames.map(f => f.takeWhile(_ != '('))
    classes.find(c => c.startsWith("graft.") || c.startsWith("perfbench.")).map {
      case c if c.startsWith("perfbench.") => "bench"
      case c if c.startsWith("graft.api.") => "api"
      case c if c.startsWith("graft.io.") => "io"
      case c if c.startsWith("graft.validate.") => "validate"
      case c if c.startsWith("graft.sink.") =>
        if (classes.exists(_.startsWith("graft.sink.AuditLog"))) "sink.audit" else "sink"
      case c if c.startsWith("graft.ext.") || c.startsWith("graft.functions.") => "ext"
      case _ => "other"
    }
  }

  val Modules: Seq[String] =
    Seq("api", "io", "validate", "sink", "sink.audit", "ext", "bench", "other", Unattributed)

  /** Seconds covered by the union of the jobs' [start, end] intervals. */
  def busy(js: Seq[Job]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    js.map(j => (j.start, j.end)).sorted.foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1000.0
  }
}
