package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener side of the traced run. Registered only around traced ops and
  * drained after each, so [[take]] returns exactly the events of the op
  * that just ran: one record per Spark job (call site, start, end, and the
  * task metrics of the stages it ran) plus the planning-phase times of
  * every query execution.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOwner = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val sqlSites = mutable.HashMap.empty[Long, (String, String)]
  private var stagesCompleted = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
      .orElse(e.stageInfos.headOption.map(_.details))
      .getOrElse("")
    val short = props.flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.headOption.map(_.name))
      .getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, e.time, -1L, short, site, exec)
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
  }

  // Jobs that adaptive execution submits from its own threads carry only
  // a thread-pool call site; the SQL execution they belong to carries the
  // call site of the action that started it.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlSites(s.executionId) = (s.description, s.details)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesCompleted += 1
    stageOwner.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOwner.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.bytesRead += m.inputMetrics.bytesRead
      j.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
    plans += Plan(ms("analysis"), ms("optimization"), ms("planning"))
  }

  /** Everything recorded since the last call, then forget it. */
  def take(): (Seq[Job], Seq[Plan], Long) = synchronized {
    jobs.values.foreach { j =>
      sqlSites.get(j.exec).foreach { case (short, site) => j.short = short; j.site = site }
    }
    val out = (jobs.values.toSeq, plans.toSeq, stagesCompleted)
    jobs.clear(); stageOwner.clear(); plans.clear(); sqlSites.clear(); stagesCompleted = 0L
    out
  }
}

object Tracer {
  final class Job(val id: Int, val start: Long, var end: Long, var short: String,
      var site: String, val exec: Long) {
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var peakMem = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var bytesRead = 0L
    var bytesWritten = 0L
  }

  final case class Plan(analysisMs: Long, optimizationMs: Long, planningMs: Long)
}
