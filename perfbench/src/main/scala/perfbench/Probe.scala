package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent,
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage task totals. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0.0
  var maxRunMs = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesRead = 0L
}

final case class JobRec(id: Int, group: Option[String], stages: Seq[Int],
    startMs: Long, var endMs: Long = -1L)

final case class ExecRec(id: Long, group: Option[String], callSite: String,
    startMs: Long, var endMs: Long = -1L)

/** Listener state for the traced run: Spark jobs and their tasks, SQL
  * executions with their Catalyst phase times, and streaming progress.
  * Everything is keyed by job group, so it can be attributed to the
  * [[Tracer]] span that submitted it. Callbacks arrive on Spark's listener
  * threads; all state is guarded by this object's lock. */
final class Probe extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val execs = mutable.LinkedHashMap.empty[Long, ExecRec]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  /** Catalyst phases of each finished query: (first phase start, ms). */
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      val run = m.executorRunTime.toDouble
      a.tasks += 1
      a.runMs += run
      a.maxRunMs = math.max(a.maxRunMs, run)
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = ExecRec(s.executionId, s.jobGroupId, s.details, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.endMs = s.time)
    }
    case _ =>
  }

  // QueryExecutionListener: Catalyst phase times of each finished query
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      plans += ((phases.map(_.startTimeMs).min,
        phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
  }

  /** Analysis + optimization + planning ms of the queries whose first phase
    * started in [fromMs, toMs) — planning runs on the driver thread, so a
    * span's interval bounds its own queries. */
  def planMsWithin(fromMs: Double, toMs: Double): Double = synchronized {
    plans.collect { case (start, ms) if start >= fromMs && start < toMs => ms }.sum
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Probe.this.synchronized(progress += e.progress)
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Task totals over the stages of `jobIds`. */
  def stageTotals(jobIds: Iterable[Int]): StageAgg = synchronized {
    val out = new StageAgg
    jobIds.flatMap(j => jobs.get(j).toSeq.flatMap(_.stages))
      .flatMap(stages.get).foreach { a =>
        out.tasks += a.tasks
        out.runMs += a.runMs
        out.maxRunMs = math.max(out.maxRunMs, a.maxRunMs)
        out.shuffleWriteBytes += a.shuffleWriteBytes
        out.spillBytes += a.spillBytes
        out.recordsRead += a.recordsRead
        out.bytesRead += a.bytesRead
      }
    out
  }

  def execList: Seq[ExecRec] = synchronized(execs.values.toSeq)

  def jobsOfSpan(span: Int): Seq[JobRec] = synchronized {
    jobs.values.filter(_.group.flatMap(Trace.spanOfGroup).contains(span)).toSeq
  }

  def execsOfSpan(span: Int): Seq[ExecRec] = synchronized {
    execs.values.filter(_.group.flatMap(Trace.spanOfGroup).contains(span)).toSeq
  }
}
