package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One Spark job. `module` is the graft module of the innermost graft frame
  * in the job's call site (io, ops, queries, streaming), `perfbench` when
  * the harness itself issued the action, `spark` when no user frame is on
  * the stack (micro-batch jobs run on the stream's own thread). */
final case class JobRec(id: Int, startMs: Long, endMs: Long, callSite: String,
                        module: String)

/** Task metrics summed per stage, from task-end events. */
final class StageRec(val id: Int) {
  var numTasks = 0
  var scansFiles = false
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One micro-batch, from `StreamingQueryProgress`. */
final case class BatchRec(queryId: String, batchId: Long, startMs: Long,
                          durationMs: Map[String, Long], stateRows: Long,
                          stateBytes: Long, stateCommitMs: Long) {
  def triggerMs: Long = durationMs.getOrElse("triggerExecution", 0L)
}

/** SQLMetrics of one file-write command. */
final case class WriteRec(rows: Long, bytes: Long, files: Long)

/** Everything the listeners saw between two [[Recorder.take]] calls. */
final case class Snapshot(jobs: Seq[JobRec], stages: Seq[StageRec],
                          batches: Seq[BatchRec], writes: Seq[WriteRec],
                          cachedBytesPeak: Long)

/** In-memory event store shared by the three listeners. Listener queues run
  * on different threads, so every mutation is synchronized. */
final class Recorder {
  private val openJobs = mutable.Map.empty[Int, (Long, String, String)]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  private val writes = mutable.ArrayBuffer.empty[WriteRec]
  private val cached = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  def jobStart(id: Int, t: Long, callSite: String, module: String): Unit = synchronized {
    openJobs(id) = (t, callSite, module)
  }
  def jobEnd(id: Int, t: Long): Unit = synchronized {
    openJobs.remove(id).foreach { case (s, cs, m) => jobs += JobRec(id, s, t, cs, m) }
  }
  def stage(id: Int): StageRec = synchronized(stages.getOrElseUpdate(id, new StageRec(id)))
  def batch(b: BatchRec): Unit = synchronized { batches += b }
  def write(w: WriteRec): Unit = synchronized { writes += w }
  def block(id: String, bytes: Long): Unit = synchronized {
    cachedNow += bytes - cached.getOrElse(id, 0L)
    if (bytes == 0L) cached.remove(id) else cached(id) = bytes
    cachedPeak = math.max(cachedPeak, cachedNow)
  }

  /** Hand over what was recorded since the last call and start afresh. */
  def take(): Snapshot = synchronized {
    val s = Snapshot(jobs.toList, stages.values.toList, batches.toList,
      writes.toList, cachedPeak)
    jobs.clear(); stages.clear(); batches.clear(); writes.clear()
    cachedPeak = cachedNow
    s
  }
}

/** Jobs, stages, tasks and cached blocks. A job's call site is that of the
  * SQL execution it belongs to: adaptive execution submits stages from its
  * own threads, whose stacks hold no user frame. */
final class JobListener(rec: Recorder) extends SparkListener {
  private val graftFrame = """graft\.(io|ops|queries|streaming)\.""".r
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, (s.description, s.details))
    case s: SparkListenerSQLExecutionEnd => executions.remove(s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // without an execution, the result stage (created last) carries the call site
    val result = e.stageInfos.maxByOption(_.stageId)
    val (short, details) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong)))
      .getOrElse((result.map(_.name).getOrElse(""), result.map(_.details).getOrElse("")))
    val module = graftFrame.findFirstMatchIn(details).map(_.group(1))
      .getOrElse(if (details.contains("perfbench.")) "perfbench" else "spark")
    rec.jobStart(e.jobId, e.time, short, module)
    e.stageInfos.foreach { si =>
      val s = rec.stage(si.stageId)
      s.numTasks = si.numTasks
      s.scansFiles = si.rddInfos.exists(_.name == "FileScanRDD")
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = rec.jobEnd(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = rec.stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      if (e.reason != org.apache.spark.Success) s.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD)
      rec.block(info.blockId.name,
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L)
  }
}

/** Row, byte and file counts of every file-write command. */
final class WriteListener(rec: Recorder) extends QueryExecutionListener {
  private def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Seq(w)
    case c: CommandResultExec => writes(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
    case q: QueryStageExec => writes(q.plan)
    case other => other.children.flatMap(writes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    writes(qe.executedPlan).foreach { w =>
      def m(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
      rec.write(WriteRec(m("numOutputRows"), m("numOutputBytes"), m("numFiles")))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress. */
final class BatchListener(rec: Recorder) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    rec.batch(BatchRec(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum))
  }
}

/** Attaches the listeners a run needs. The untraced run attaches only the
  * streaming listener (the stream workload's batch metrics need it); the
  * traced run attaches all three, and can detach them between ops so one
  * run also measures its own tracing overhead. */
final class Tracing(spark: SparkSession, streams: Boolean) {
  private val rec = new Recorder
  private val jobs = new JobListener(rec)
  private val writes = new WriteListener(rec)
  private var on = false
  if (streams) spark.streams.addListener(new BatchListener(rec))

  def traced: Boolean = on

  /** Drain the bus, then hand over the events recorded since the last call. */
  def take(): Snapshot = { BenchBus.drain(spark.sparkContext); rec.take() }

  def setTraced(traced: Boolean): Unit = if (traced != on) {
    BenchBus.drain(spark.sparkContext)
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(writes)
    } else {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(writes)
    }
    on = traced
    rec.take()
  }
}
