package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts from Spark's public listener buses, for traced passes only.
  *
  * The three listener classes below are injected through session conf
  * ([[Tracer.conf]]); Spark instantiates them, so they report into this
  * global collector. Events arrive asynchronously: the runner reads them
  * only after `SparkSession.stop()`, which drains the listener bus.
  *
  * Attribution: the runner sets the local property [[SpanKey]] to the
  * running query's name before each phase. Jobs carry it (stream
  * threads inherit it from the thread that started the stream); jobs
  * without it, planning phases and micro-batch progress are attributed
  * by wall-clock time to the query whose interval contains them. The
  * benchmark runs one query at a time, so the intervals never overlap.
  */
object Tracer {
  val SpanKey = "perfbench.query"

  def conf: Seq[(String, String)] = Seq(
    "spark.extraListeners" -> classOf[TaskTrace].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamTrace].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PlanTrace].getName)

  /** Per-task totals; `query` is null when the job had no span property. */
  final case class Task(query: String, atMs: Long, failed: Boolean, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      outRecords: Long, outBytes: Long, inRecords: Long, inBytes: Long)
  final case class Job(query: String, atMs: Long)
  final case class Stage(query: String, atMs: Long)
  final case class Phases(atMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class Batch(atMs: Long, inputRows: Long, durations: Map[String, Long],
      stateRows: Long, stateMemBytes: Long)

  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val phases = new ConcurrentLinkedQueue[Phases]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  def clear(): Unit = { tasks.clear(); jobs.clear(); stages.clear(); phases.clear(); batches.clear() }
}

/** Jobs, completed stages and task metrics (`spark.extraListeners`). */
class TaskTrace extends SparkListener {
  // stage -> (query, job start time) of the job that submitted it
  private val stageOwner = new ConcurrentHashMap[Int, (String, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val q = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
    e.stageIds.foreach(id => stageOwner.put(id, (q, e.time)))
    Tracer.jobs.add(Tracer.Job(q, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val (q, jobAt) = Option(stageOwner.get(e.stageInfo.stageId))
      .getOrElse((null, e.stageInfo.submissionTime.getOrElse(0L)))
    Tracer.stages.add(Tracer.Stage(q, jobAt))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (q, jobAt) = Option(stageOwner.get(e.stageId)).getOrElse((null, e.taskInfo.launchTime))
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    if (m == null) {
      Tracer.tasks.add(Tracer.Task(q, jobAt, failed, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    } else {
      Tracer.tasks.add(Tracer.Task(q, jobAt, failed, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten,
        m.inputMetrics.recordsRead, m.inputMetrics.bytesRead))
    }
  }
}

/** Planning phases of every Dataset action (`spark.sql.queryExecutionListeners`). */
class PlanTrace extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    val at = if (p.isEmpty) System.currentTimeMillis() else p.values.map(_.startTimeMs).min
    Tracer.phases.add(Tracer.Phases(at, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch progress (`spark.sql.streaming.streamingQueryListeners`). */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val at = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = Option(p.stateOperators).getOrElse(Array.empty)
    Tracer.batches.add(Tracer.Batch(at, p.numInputRows, d,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }
}
