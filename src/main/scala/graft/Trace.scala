package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.SessionBridge
import scala.collection.mutable

/** The one stage listener of the measurement mains ([[Bench]], [[Probe]]
  * and the mains built on it): a record of every stage and job since
  * the last [[reset]].
  *
  *  - [[worst]] is the task-skew reading: max / median task millis of
  *    the most skewed stage with at least 8 tasks whose longest task ran
  *    200 ms or more. A ratio near 1 means balanced partitions; >>1 is
  *    the straggler signature a Zipfian key produces when a plan
  *    co-locates a hot key.
  *  - [[report]] is the "which operator is the money going to" view the
  *    Spark UI would give, as text: the job timeline with its inter-job
  *    gaps (driver planning, eager setup), then the 30 most expensive
  *    stages with wall, task time split into deserialize / GC / run,
  *    input, shuffle and spill.
  *
  * Listener events reach the listener asynchronously, after the action
  * that caused them has returned, so every read first waits for the
  * listener bus to drain.
  */
private[graft] final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val stages = mutable.HashMap.empty[Int, Stage]
  private val jobs = mutable.HashMap.empty[Int, Job]

  private def stage(id: Int, name: String): Stage =
    stages.getOrElseUpdate(id, new Stage(name.takeWhile(_ != '\n')))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p =>
      Option(p.getProperty("callSite.short"))
        .orElse(Option(p.getProperty("spark.job.description")))
        .orElse(Option(p.getProperty("spark.sql.execution.root.id"))
          .map("sqlRoot " + _)))
      .getOrElse("?") + " | stages=" + e.stageInfos.map(si =>
        si.name.takeWhile(_ != '\n').take(40)).mkString(";").take(120)
    jobs(e.jobId) = new Job(e.time, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized(stage(e.stageInfo.stageId, e.stageInfo.name))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val s = stage(info.stageId, info.name)
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        s.wallMs += t1 - t0
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.successful && e.taskMetrics != null)
      synchronized {
        val s = stage(e.stageId, "?")
        val m = e.taskMetrics
        s.taskMs += e.taskInfo.duration
        s.deserMs += m.executorDeserializeTime
        s.gcMs += m.jvmGCTime
        s.runMs += m.executorRunTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.srBytes += m.shuffleReadMetrics.totalBytesRead
        s.swBytes += m.shuffleWriteMetrics.bytesWritten
        s.outRows += m.shuffleWriteMetrics.recordsWritten
        s.spill += m.diskBytesSpilled
      }

  private def drain(): Unit = SessionBridge.waitUntilEmpty(sc)

  /** Forget every record, after the events already posted are in. */
  def reset(): Unit = {
    drain()
    synchronized { stages.clear(); jobs.clear() }
  }

  /** (maxTaskMs, medianTaskMs, ratio) of the worst qualifying stage. */
  def worst(): Option[(Long, Long, Double)] = {
    drain()
    synchronized(stages.values.map(_.taskMs.sorted).toSeq)
      .filter(ds => ds.size >= 8 && ds.last >= 200)
      .map { ds =>
        val med = math.max(ds(ds.size / 2), 1L)
        (ds.last, med, ds.last.toDouble / med)
      }
      .maxByOption(_._3)
  }

  /** [[worst]] as the suffix of a measurement line. */
  def skew(): String = worst().map { case (mx, med, r) =>
    f" max_task=${mx / 1000.0}%.2f s median=${med / 1000.0}%.2f s ratio=$r%.2f"
  }.getOrElse(" (no >=8-task stage reached 200 ms)")

  /** The job timeline and the 30 most expensive stages, one line each. */
  def report(): String = {
    drain()
    synchronized {
      def mb(b: Long): String = f"${b / 1048576.0}%.1f"
      val tot = stages.values.map(_.taskMs.sum).sum
      val jobWall = jobs.values.filter(_.end >= 0)
        .map(j => (j.end - j.start) / 1e3).sum
      val out = mutable.ArrayBuffer(
        f"[profile] total task time ${tot / 1000.0}%.2f s across " +
          s"${stages.size} stages, ${jobs.size} jobs " +
          f"(summed job wall $jobWall%.2f s)")
      val ordered = jobs.toSeq.sortBy(_._1)
      var prevEnd = ordered.headOption.map(_._2.start).getOrElse(0L)
      ordered.foreach { case (id, j) =>
        val gap = (j.start - prevEnd) / 1e3
        val w = if (j.end >= 0) (j.end - j.start) / 1e3 else -1.0
        out += f"[job $id%3d] gap=$gap%6.3fs wall=$w%6.3fs  ${j.site}%s"
        if (j.end >= 0) prevEnd = math.max(prevEnd, j.end)
      }
      stages.toSeq.sortBy(-_._2.taskMs.sum).take(30).foreach { case (id, s) =>
        out += f"[stage $id%4d] task=${s.taskMs.sum / 1000.0}%7.2fs " +
          f"(deser=${s.deserMs / 1000.0}%.2f gc=${s.gcMs / 1000.0}%.2f " +
          f"run=${s.runMs / 1000.0}%.2f) " +
          f"wall=${s.wallMs / 1000.0}%6.2fs n=${s.taskMs.size}%4d " +
          f"maxTask=${s.taskMs.maxOption.getOrElse(0L) / 1000.0}%5.2fs " +
          f"in=${mb(s.inBytes)}%8sMB/${s.inRows}%d rows " +
          f"sr=${mb(s.srBytes)}%8sMB " +
          f"sw=${mb(s.swBytes)}%8sMB/${s.outRows}%d rows " +
          f"spill=${mb(s.spill)}%s MB  ${s.name.take(90)}"
      }
      out.mkString("\n")
    }
  }
}

private[graft] object Trace {

  /** A job's start and end on the scheduler's clock (ms); end is -1
    * while it runs. */
  private final class Job(val start: Long, val site: String) {
    var end = -1L
  }

  private final class Stage(val name: String) {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var wallMs, deserMs, gcMs, runMs, inBytes, inRows = 0L
    var srBytes, swBytes, outRows, spill = 0L
  }
}
