package perfbench

import scala.jdk.CollectionConverters._

/** Per-query layer counts of one traced pass, built from [[Tracer]]'s
  * events, and the query's spans.
  */
object Layer {

  final case class Counts(
      jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
      taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long,
      outRecords: Long, outBytes: Long, inRecords: Long, inBytes: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long,
      batchMs: Seq[Long], dataBatches: Int, phaseMs: Map[String, Long],
      stateRows: Long, stateMemBytes: Long) {

    def toMap(shape: Option[PlanStats.Shape]): Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
      "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "output_records" -> outRecords, "output_bytes" -> outBytes,
      "input_records" -> inRecords, "input_bytes" -> inBytes,
      "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
      "planning_ms" -> planningMs, "batch_ms" -> batchMs, "data_batches" -> dataBatches,
      "batch_phase_ms" -> phaseMs, "state_rows" -> stateRows,
      "state_mem_bytes" -> stateMemBytes,
      "exchanges" -> shape.map(_.exchanges), "wscg_stages" -> shape.map(_.wscgStages),
      "fallback_exprs" -> shape.map(_.fallbackExprs))
  }

  /** Micro-batch phases summed per query (`StreamingQueryProgress.durationMs` keys). */
  val BatchPhases: Seq[String] =
    Seq("addBatch", "queryPlanning", "getBatch", "walCommit", "triggerExecution")

  /** Attribute the drained [[Tracer]] events to `execs` (one session's queries). */
  def attribute(execs: Seq[Main.Exec]): Map[String, Counts] = {
    def owner(query: String, atMs: Long): Option[String] =
      Option(query).filter(q => execs.exists(_.query == q)).orElse(
        execs.find(e => atMs >= e.startMs && atMs <= e.endMs).map(_.query))
    val tasks = Tracer.tasks.asScala.toSeq.groupBy(t => owner(t.query, t.atMs))
    val jobs = Tracer.jobs.asScala.toSeq.groupBy(j => owner(j.query, j.atMs))
    val stages = Tracer.stages.asScala.toSeq.groupBy(s => owner(s.query, s.atMs))
    val phases = Tracer.phases.asScala.toSeq.groupBy(p => owner(null, p.atMs))
    val batches = Tracer.batches.asScala.toSeq.groupBy(b => owner(null, b.atMs))
    execs.map { e =>
      val k = Some(e.query)
      val ts = tasks.getOrElse(k, Nil)
      val ps = phases.getOrElse(k, Nil)
      val bs = batches.getOrElse(k, Nil)
      e.query -> Counts(
        jobs.getOrElse(k, Nil).size, stages.getOrElse(k, Nil).size, ts.size,
        ts.count(_.failed), ts.map(_.runMs).sum, ts.map(_.cpuNs).sum, ts.map(_.gcMs).sum,
        ts.map(_.shuffleWrite).sum, ts.map(_.shuffleRead).sum, ts.map(_.spill).sum,
        ts.map(_.outRecords).sum, ts.map(_.outBytes).sum,
        ts.map(_.inRecords).sum, ts.map(_.inBytes).sum,
        ps.map(_.analysisMs).sum, ps.map(_.optimizationMs).sum,
        ps.map(_.planningMs).sum,
        bs.map(_.durations.getOrElse("triggerExecution", 0L)), bs.count(_.inputRows > 0),
        BatchPhases.map(p => p -> bs.map(_.durations.getOrElse(p, 0L)).sum).toMap,
        if (bs.isEmpty) 0L else bs.map(_.stateRows).max,
        if (bs.isEmpty) 0L else bs.map(_.stateMemBytes).max)
    }.toMap
  }

  /** The query's span and its run / plan / exec children (epoch ms). */
  def spans(e: Main.Exec): Seq[String] = {
    val id = s"p${e.pass}.${e.query}"
    val bounds = Seq(e.runS, e.planS, e.execS).scanLeft(e.startMs.toDouble)(_ + _ * 1000)
      .map(math.round)
    Json.obj("id" -> id, "parent" -> s"p${e.pass}", "name" -> e.query,
      "start_ms" -> e.startMs, "end_ms" -> e.endMs, "ok" -> e.ok) +:
      Seq("run", "plan", "exec").zipWithIndex.map { case (phase, i) =>
        Json.obj("id" -> s"$id.$phase", "parent" -> id, "name" -> phase,
          "start_ms" -> bounds(i), "end_ms" -> bounds(i + 1))
      }
  }
}
