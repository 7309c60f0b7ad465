package graftbench

import scala.jdk.CollectionConverters._

/** Execution and planning counters over a set of Spark jobs and a time
  * window, from the SparkListener and QueryExecutionListener taps.
  */
object ExecLayers {
  def apply(ctx: Ctx, jobs: Seq[JobRec], fromUs: Long, toUs: Long): Map[String, Double] = {
    val tap = ctx.taps.spark0
    val stages = tap.synchronized(jobs.flatMap(_.stages).distinct.flatMap(tap.stageAgg.get))
    val skews = stages.filter(_.durations.length >= 2).map { a =>
      val d = a.durations.sorted
      if (d(d.length / 2) <= 0) 1.0 else d.last.toDouble / d(d.length / 2)
    }
    val plans = ctx.taps.plan.recs.asScala.filter(r => r.endUs >= fromUs && r.endUs <= toUs).toSeq
    def phase(k: String) = plans.flatMap(_.phases.get(k)).map { case (s, e) => (e - s).toDouble }.sum
    Map(
      "exec.jobs" -> jobs.length.toDouble,
      "exec.stages" -> stages.length.toDouble,
      "exec.tasks" -> stages.map(_.tasks).sum.toDouble,
      "exec.task_run_ms" -> stages.map(_.runMs).sum.toDouble,
      "exec.task_cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
      "exec.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "exec.input_bytes" -> stages.map(_.input).sum.toDouble,
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else Util.median(skews)),
      "exec.exchanges" -> plans.map(_.exchanges).sum.toDouble,
      "plan.analysis_ms" -> phase("analysis"),
      "plan.optimization_ms" -> phase("optimization"),
      "plan.planning_ms" -> phase("planning"))
  }

  def jobsBetween(ctx: Ctx, fromUs: Long, toUs: Long): Seq[JobRec] = {
    val tap = ctx.taps.spark0
    tap.synchronized(tap.finishedJobs.toSeq)
      .filter { case (j, endMs) => j.startMs * 1000 >= fromUs && endMs * 1000 <= toUs }
      .map(_._1)
  }
}

/** Per-trigger layer numbers of one streaming query, from its progress
  * reports (`durationMs` parts), the jobs of each micro-batch and the
  * processor intervals the workload recorded. Also emits the trigger and
  * part spans for the report: parts are laid out in the order the engine
  * runs them.
  */
final class StreamLayers(ctx: Ctx, name: String, processorNs: Seq[(Long, Long)]) {
  private val progress = ctx.taps.progressOf(name)
  private def d(p: StreamTap#Progress, k: String): Double = p.durations.getOrElse(k, 0L).toDouble
  private val Parts = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  private val procUs = processorNs.map { case (s, e) => (Clock.toUs(s), Clock.toUs(e)) }
  private def processorMsIn(fromUs: Long, toUs: Long): Double =
    procUs.map { case (s, e) => math.max(0L, math.min(e, toUs) - math.max(s, fromUs)) }.sum / 1000.0

  private val jobs: Map[Long, Seq[JobRec]] =
    progress.headOption.map(p => ctx.taps.jobsByBatch(p.queryId)).getOrElse(Map.empty)
  private def tasks(p: StreamTap#Progress): Double =
    ctx.taps.tasksOf(jobs.getOrElse(p.batchId, Nil)).toDouble

  progress.foreach { p =>
    val start = p.startMs * 1000
    val total = d(p, "triggerExecution")
    val id = ctx.tracer.nextId()
    ctx.tracer.add(Span(id, 0L, "", "trigger", s"$name batch ${p.batchId}", start,
      start + (total * 1000).toLong, Map("rows" -> p.rows.toDouble, "batchId" -> p.batchId.toDouble)))
    var t = start
    Parts.foreach { k =>
      val len = (d(p, k) * 1000).toLong
      if (len > 0) ctx.tracer.add(Span(ctx.tracer.nextId(), id, "", s"trigger.$k", k, t, t + len))
      t += len
    }
  }

  private def med(f: StreamTap#Progress => Double): Double = Util.median(progress.map(f))

  val microbatchMs: Double = med(d(_, "triggerExecution"))
  val addBatchOutsideProcessorMs: Double = med { p =>
    val s = p.startMs * 1000
    d(p, "addBatch") - processorMsIn(s, s + (d(p, "triggerExecution") * 1000).toLong)
  }
  val logCommitMs: Double = med(p => d(p, "walCommit") + d(p, "commitOffsets"))
  val planningMs: Double = med(d(_, "queryPlanning"))
  val listingMs: Double = med(p => d(p, "latestOffset") + d(p, "getBatch"))
  val rowsPerBatch: Double = med(_.rows.toDouble)
  val tasksPerBatch: Double = med(tasks)
  val rowsPerTask: Double = med(p => p.rows / math.max(1.0, tasks(p)))
  val pollWaitMs: Double = Util.median(progress.sliding(2).collect {
    case Seq(a, b) => (b.startMs - a.startMs - d(a, "triggerExecution")).max(0L).toDouble
  }.toSeq)
}
