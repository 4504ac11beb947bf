package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw events of the traced run, gathered at the engine's layer
  * boundaries and kept in memory until [[Collector.drain]].
  *
  * Spark delivers listener events asynchronously; the harness flushes the
  * listener bus before draining, and attributes each record to its span
  * afterwards (jobs by the `perfbench.span` local property they inherit
  * from the submitting thread, catalyst phases by their timestamps).
  */
object Collector {

  /** Local property carrying the harness span (`build` or `execute`). */
  val SpanKey = "perfbench.span"

  final class TaskAgg {
    var tasks = 0L
    var durationMs = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var shuffleReadBytes = 0L
    var shuffleReadRecords = 0L
    var fetchWaitMs = 0L
    val taskWriteBytes = mutable.ArrayBuffer.empty[Long]

    def add(o: TaskAgg): Unit = {
      tasks += o.tasks; durationMs += o.durationMs; runMs += o.runMs
      cpuNs += o.cpuNs; gcMs += o.gcMs; spillBytes += o.spillBytes
      inputBytes += o.inputBytes; inputRecords += o.inputRecords
      shuffleWriteBytes += o.shuffleWriteBytes
      shuffleWriteRecords += o.shuffleWriteRecords
      shuffleReadBytes += o.shuffleReadBytes
      shuffleReadRecords += o.shuffleReadRecords
      fetchWaitMs += o.fetchWaitMs
    }
  }

  final case class StageRec(id: Int, var startMs: Long = 0L, var endMs: Long = 0L,
      agg: TaskAgg = new TaskAgg, var peakMemSum: Long = 0L)

  final case class JobRec(id: Int, startMs: Long, span: String,
      streamQuery: Option[String], var endMs: Long = 0L,
      stages: mutable.ArrayBuffer[StageRec] = mutable.ArrayBuffer.empty)

  final case class PlanRec(funcName: String, phases: Map[String, (Long, Long)],
      filesRead: Long, scanMs: Long, failed: Boolean)

  final case class BatchRec(batchId: Long, startMs: Long, inputRows: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long,
      stateCommitMs: Long, droppedLate: Long)

  final case class DriveRec(queryId: String, span: String, startMs: Long,
      batches: mutable.ArrayBuffer[BatchRec] = mutable.ArrayBuffer.empty)

  /** One SQL execution: a physical plan's run on the driver, its jobs
    * included, timed by the engine's own start and end events.
    */
  final case class ExecRec(id: Long, startMs: Long, var endMs: Long = 0L)

  final case class Drained(jobs: Seq[JobRec], plans: Seq[PlanRec],
      drives: Seq[DriveRec], execs: Seq[ExecRec])

  @volatile var enabled = false

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val drives = mutable.LinkedHashMap.empty[String, DriveRec]
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRec]

  def drain(): Drained = synchronized {
    val out = Drained(jobs.values.toSeq, plans.toSeq, drives.values.toSeq, execs.values.toSeq)
    jobs.clear(); stageJob.clear(); stages.clear(); plans.clear(); drives.clear()
    execs.clear()
    out
  }

  private[perfbench] def jobStarted(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val job = JobRec(e.jobId, e.time, prop(SpanKey).getOrElse(""),
      prop("sql.streaming.queryId"))
    jobs(e.jobId) = job
    e.stageIds.foreach { sid =>
      if (!stageJob.contains(sid)) {
        stageJob(sid) = job
        val st = StageRec(sid)
        stages(sid) = st
        job.stages += st
      }
    }
  }

  private[perfbench] def jobEnded(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private[perfbench] def sqlStarted(id: Long, timeMs: Long): Unit = synchronized {
    execs(id) = ExecRec(id, timeMs)
  }

  private[perfbench] def sqlEnded(id: Long, timeMs: Long): Unit = synchronized {
    execs.get(id).foreach(_.endMs = timeMs)
  }

  private[perfbench] def stageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { st =>
      st.startMs = e.stageInfo.submissionTime.getOrElse(0L)
      st.endMs = e.stageInfo.completionTime.getOrElse(0L)
    }
  }

  private[perfbench] def taskEnded(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { st =>
      val a = st.agg
      a.tasks += 1
      a.durationMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.peakMemSum += m.peakExecutionMemory
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        val w = m.shuffleWriteMetrics
        a.shuffleWriteBytes += w.bytesWritten
        a.shuffleWriteRecords += w.recordsWritten
        a.taskWriteBytes += w.bytesWritten
        val r = m.shuffleReadMetrics
        a.shuffleReadBytes += r.totalBytesRead
        a.shuffleReadRecords += r.recordsRead
        a.fetchWaitMs += r.fetchWaitTime
      }
    }
  }

  private[perfbench] def planFinished(qe: QueryExecution, funcName: String,
      failed: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val scans = Scans.of(qe.executedPlan)
    def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    val rec = PlanRec(funcName, phases, metric("numFiles"), metric("scanTime"), failed)
    synchronized { plans += rec }
  }

  private[perfbench] def driveStarted(runId: String, queryId: String,
      span: String): Unit = synchronized {
    drives(runId) = DriveRec(queryId, span, System.currentTimeMillis())
  }

  private[perfbench] def driveProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val ops = p.stateOperators.toSeq
    val rec = BatchRec(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum)
    synchronized { drives.get(p.runId.toString).foreach(_.batches += rec) }
  }
}

/** File scan nodes of an executed plan, through adaptive query stages. */
private object Scans extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
}

/** SQL executions, jobs, stages and tasks; added to the SparkContext of a
  * traced run.
  */
final class JobMeter extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Collector.enabled) Collector.jobStarted(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (Collector.enabled) Collector.jobEnded(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Collector.enabled) Collector.stageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Collector.enabled) Collector.taskEnded(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (Collector.enabled) e match {
      case s: SparkListenerSQLExecutionStart => Collector.sqlStarted(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd => Collector.sqlEnded(s.executionId, s.time)
      case _ =>
    }
}

/** Catalyst phases and scan metrics of every executed query plan.
  * Registered through the static conf `spark.sql.queryExecutionListeners`.
  */
final class PlanMeter extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Collector.enabled) Collector.planFinished(qe, funcName, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Collector.enabled) Collector.planFinished(qe, funcName, failed = true)
}

/** Streaming drives and their micro-batches. Registered through the
  * static conf `spark.sql.streaming.streamingQueryListeners`, so every
  * session gets one, `newSession()` children included: a session's
  * listener bus only forwards progress of queries started in it.
  */
final class DriveMeter extends StreamingQueryListener {
  import StreamingQueryListener._
  // the start event is delivered on the stream's own thread, which
  // inherits the local properties of the thread that started the drive
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (Collector.enabled) {
      val span = Option(org.apache.spark.SparkContext.getOrCreate()
        .getLocalProperty(Collector.SpanKey)).getOrElse("")
      Collector.driveStarted(e.runId.toString, e.id.toString, span)
    }
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Collector.enabled) Collector.driveProgress(e.progress)
  // a drive ends with its last trigger (see Layers): this event arrives
  // through the asynchronous bus and would carry its lag
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
