package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Marks one execution's boundaries on Spark's listener bus, in order
  * with the jobs, stages and tasks the execution causes. */
final case class ExecMark(exec: Int, phase: String, atMs: Long) extends SparkListenerEvent

/** What one traced execution did, as Spark's public listeners saw it. */
final class ExecStats(val exec: Int) {
  var jobs, stages, tasks, emptyTasks = 0L
  var runTimeMs, taskOverheadMs = 0L
  var scanBytes, scanRows, scanTimeMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords = 0L
  var shuffleWriteNs, fetchWaitMs, spillBytes = 0L
  var sinkBytes, sinkRecords, sinkFiles = 0L
  var analysisMs, optimizerMs, physicalMs = 0.0
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  var writeStartMs = Long.MaxValue
  /** The timed action's own SQL execution: the first root execution
    * that starts after the write began. */
  var sqlExecId = -1L
  var sqlStartMs, sqlEndMs = -1L
}

/** A span: one timed interval at a layer boundary, linked to its cause. */
final case class Span(id: String, parent: String, name: String, startMs: Long,
                      endMs: Long, attrs: Map[String, Any] = Map.empty)

/** One micro-batch as `StreamingQueryListener` reported it. */
final case class BatchRecord(startMs: Long, durations: Map[String, Long],
                             stateCommitMs: Long, stateRows: Long, stateMemBytes: Long)

/** Spark's public listeners, attached from outside the engine:
  * `SparkListener` for jobs, stages, tasks and SQL metrics,
  * `QueryExecutionListener` for the timed action's planning phases, and
  * `StreamingQueryListener`'s progress events for micro-batch phases.
  * Those are read off the shared bus, in order with the rest, because a
  * listener registered on one session only hears that session's
  * queries and the replays run theirs on sessions of their own.
  * Everything lands in memory and is read after the bus has drained. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  val execs = mutable.LinkedHashMap[Int, ExecStats]()
  val spans = mutable.ArrayBuffer[Span]()
  val batches = mutable.ArrayBuffer[BatchRecord]()
  private var current: ExecStats = null
  private val accNames = mutable.HashMap[Long, String]()
  private val jobOwner = mutable.HashMap[Int, ExecStats]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private var attached = false

  def mark(exec: Int, phase: String): Unit =
    PerfbenchBus.post(sc, ExecMark(exec, phase, System.currentTimeMillis()))

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(this)
    spark.listenerManager.register(planListener)
    attached = true
  }

  /** Waits for every queued event, then stops listening. */
  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case ExecMark(exec, "build", _) =>
      current = execs.getOrElseUpdate(exec, new ExecStats(exec))
    case ExecMark(_, "write", at) if current != null => current.writeStartMs = at
    case ExecMark(_, "end", _) => current = null
    case e: SparkListenerSQLExecutionStart =>
      learn(e.sparkPlanInfo)
      if (current != null && current.sqlExecId < 0 && e.time >= current.writeStartMs &&
          e.rootExecutionId.forall(_ == e.executionId)) {
        current.sqlExecId = e.executionId
        current.sqlStartMs = e.time
      }
    case e: SparkListenerSQLExecutionEnd if current != null && e.executionId == current.sqlExecId =>
      current.sqlEndMs = e.time
    case e: SparkListenerSQLAdaptiveExecutionUpdate => learn(e.sparkPlanInfo)
    case e: SparkListenerSQLAdaptiveSQLMetricUpdates =>
      e.sqlPlanMetrics.foreach(m => accNames(m.accumulatorId) = m.name)
    case e: StreamingQueryListener.QueryProgressEvent if current != null =>
      batches += batch(e.progress)
    case e: SparkListenerDriverAccumUpdates if current != null =>
      e.accumUpdates.foreach { case (id, v) =>
        if (accNames.get(id).contains("number of written files")) current.sinkFiles += v
      }
    case _ => ()
  }

  private def learn(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accNames(m.accumulatorId) = m.name)
    p.children.foreach(learn)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (current != null) {
    current.jobs += 1
    jobOwner(e.jobId) = current
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOwner.remove(e.jobId).foreach { x =>
      val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
      x.jobIntervals += ((t0, e.time))
      spans += Span(s"job-${e.jobId}", s"exec-${x.exec}",
        "job", t0, e.time, Map("job_id" -> e.jobId))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stageJob.get(info.stageId).flatMap(jobOwner.get).foreach { x =>
      x.stages += 1
      spans += Span(s"stage-${info.stageId}.${info.attemptNumber()}",
        s"job-${stageJob(info.stageId)}", "stage",
        info.submissionTime.getOrElse(0L), info.completionTime.getOrElse(0L),
        Map("stage_id" -> info.stageId, "tasks" -> info.numTasks))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val x = stageJob.get(e.stageId).flatMap(jobOwner.get).orNull
    if (x != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      x.tasks += 1
      x.runTimeMs += m.executorRunTime
      x.taskOverheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      val read = m.inputMetrics.recordsRead + sr.recordsRead
      val written = m.outputMetrics.recordsWritten + sw.recordsWritten
      if (read == 0 && written == 0) x.emptyTasks += 1
      x.scanBytes += m.inputMetrics.bytesRead
      x.scanRows += m.inputMetrics.recordsRead
      x.shuffleWriteBytes += sw.bytesWritten
      x.shuffleRecords += sw.recordsWritten
      x.shuffleWriteNs += sw.writeTime
      x.shuffleReadBytes += sr.remoteBytesRead + sr.localBytesRead
      x.fetchWaitMs += sr.fetchWaitTime
      x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      x.sinkBytes += m.outputMetrics.bytesWritten
      x.sinkRecords += m.outputMetrics.recordsWritten
      e.taskInfo.accumulables.foreach { a =>
        if (a.name.contains("scan time"))
          a.update.foreach(u => x.scanTimeMs += u.toString.toLong)
      }
    }
  }

  /** The noop write is the timed action; its tracker holds the phases. */
  private val planListener = new QueryExecutionListener {
    private def isTimedAction(qe: QueryExecution): Boolean = qe.logical match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation => r.table.name() == "noop-table"
        case _ => false
      }
      case _ => false
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (current != null && isTimedAction(qe)) {
        val ph = qe.tracker.phases
        def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        current.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
        current.optimizerMs += ms(QueryPlanningTracker.OPTIMIZATION)
        current.physicalMs += ms(QueryPlanningTracker.PLANNING)
      }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  private def batch(p: StreamingQueryProgress): BatchRecord = {
    import scala.jdk.CollectionConverters._
    val ops = p.stateOperators
    BatchRecord(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
  }
}
