package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `trace` groups the spans of one
  * query, micro-batch phase or pass; `parent` is 0 when the report places
  * the span by time containment within its trace.
  */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty)

/** In-memory span recorder plus the public Spark listener taps that feed it.
  * With `enabled = false` nothing is registered and `span` only runs its
  * body, so untraced runs measure the program alone.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Run `body` inside a span; jobs it submits on this thread are tagged
    * with the span's trace and id.
    */
  def span[A](trace: String, parent: Long, layer: String, name: String,
      sc: org.apache.spark.SparkContext = null)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = nextId()
      val prev = if (sc != null) (sc.getLocalProperty(Tracer.TraceKey),
        sc.getLocalProperty(Tracer.ParentKey)) else null
      if (sc != null) {
        sc.setLocalProperty(Tracer.TraceKey, trace)
        sc.setLocalProperty(Tracer.ParentKey, id.toString)
      }
      val t0 = Clock.nowUs()
      try body(id)
      finally {
        add(Span(id, parent, trace, layer, name, t0, Clock.nowUs()))
        if (sc != null) {
          sc.setLocalProperty(Tracer.TraceKey, prev._1)
          sc.setLocalProperty(Tracer.ParentKey, prev._2)
        }
      }
    }
}

object Tracer {
  val TraceKey = "graftbench.trace"
  val ParentKey = "graftbench.parent"
}

object Clock {
  private val nanoBase = System.nanoTime()
  private val usBase = System.currentTimeMillis() * 1000L
  def nowUs(): Long = usBase + (System.nanoTime() - nanoBase) / 1000L
  def toUs(nanoTime: Long): Long = usBase + (nanoTime - nanoBase) / 1000L
}

/** Per-stage task aggregates gathered from `SparkListenerTaskEnd`. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** Job record: which trace/parent submitted it and, for streaming jobs,
  * which query and micro-batch.
  */
final case class JobRec(jobId: Int, trace: String, parent: Long, startMs: Long,
    queryId: String, batchId: Long, stages: Seq[Int])

/** SparkListener tap: jobs, stages and task metrics, keyed so the report
  * can attribute each to the query or micro-batch that caused it.
  */
final class SparkTap(tracer: Tracer) extends SparkListener {
  val jobs = mutable.Map.empty[Int, JobRec]
  val jobSpan = mutable.Map.empty[Int, Long]
  val stageJob = mutable.Map.empty[Int, Int]
  val stageAgg = mutable.Map.empty[Int, StageAgg]
  val finishedJobs = mutable.ArrayBuffer.empty[(JobRec, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = JobRec(e.jobId, prop(Tracer.TraceKey).getOrElse(""),
      prop(Tracer.ParentKey).map(_.toLong).getOrElse(0L), e.time,
      prop("sql.streaming.queryId").getOrElse(""),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.stageIds)
    jobs(e.jobId) = rec
    jobSpan(e.jobId) = tracer.nextId()
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      finishedJobs += (j -> e.time)
      tracer.add(Span(jobSpan(e.jobId), j.parent, j.trace, "spark.job", s"job ${e.jobId}",
        j.startMs * 1000, e.time * 1000,
        Map("batchId" -> j.batchId.toDouble)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val job = stageJob.get(i.stageId)
    val trace = job.flatMap(jobs.get).map(_.trace).getOrElse("")
    val parent = job.flatMap(jobSpan.get).getOrElse(0L)
    val a = stageAgg.getOrElse(i.stageId, new StageAgg)
    val d = a.durations.sorted
    val skew = if (d.isEmpty || d(d.length / 2) <= 0) 1.0
      else d.last.toDouble / d(d.length / 2)
    for (s <- i.submissionTime; c <- i.completionTime)
      tracer.add(Span(tracer.nextId(), parent, trace, "spark.stage", s"stage ${i.stageId}",
        s * 1000, c * 1000, Map("tasks" -> a.tasks.toDouble, "runMs" -> a.runMs.toDouble,
          "cpuMs" -> a.cpuNs / 1e6, "skew" -> skew)))
  }
}

/** QueryExecutionListener tap: Catalyst phase intervals and Exchange count
  * per completed action. Placed in its trace by time containment.
  */
final class PlanTap(tracer: Tracer) extends QueryExecutionListener {
  final case class Rec(endUs: Long, phases: Map[String, (Long, Long)], exchanges: Int)
  val recs = new ConcurrentLinkedQueue[Rec]()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: (nodes(a.executedPlan) ++ a.subqueries.flatMap(nodes))
    case q: QueryStageExec => q +: (nodes(q.plan) ++ q.subqueries.flatMap(nodes))
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val exchanges = nodes(qe.executedPlan).count(_.isInstanceOf[Exchange])
    recs.add(Rec(Clock.nowUs(), phases, exchanges))
    phases.foreach { case (k, (s, e)) =>
      tracer.add(Span(tracer.nextId(), 0L, "", s"catalyst.$k", k, s * 1000, e * 1000,
        Map("exchanges" -> exchanges.toDouble)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** StreamingQueryListener tap: every progress report, with its trigger's
  * `durationMs` parts.
  */
final class StreamTap extends StreamingQueryListener {
  import StreamingQueryListener._
  final case class Progress(name: String, queryId: String, batchId: Long, startMs: Long,
      rows: Long, durations: Map[String, Long])
  val progress = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    progress.add(Progress(Option(p.name).getOrElse(""), p.id.toString, p.batchId, start,
      p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** Codegen counters from `CodegenMetrics`. The compile-time histogram keeps
  * every sample while fewer than 1028 compilations have run, so the sum of
  * its snapshot is exact for a benchmark run.
  */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMs: Double = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum.toDouble
}

/** All taps of one traced run. */
final class Taps(val spark: SparkSession, val tracer: Tracer) {
  val spark0 = new SparkTap(tracer)
  val plan = new PlanTap(tracer)
  val stream = new StreamTap
  if (tracer.enabled) {
    spark.sparkContext.addSparkListener(spark0)
    spark.listenerManager.register(plan)
    spark.streams.addListener(stream)
  }

  /** Wait until every event posted so far has reached the taps. */
  def drain(): Unit = if (tracer.enabled) org.apache.spark.GraftBenchAccess.drain(spark.sparkContext)

  /** Progress reports of the streaming query named `name` that read rows. */
  def progressOf(name: String): Seq[StreamTap#Progress] =
    stream.progress.asScala.filter(p => p.name == name && p.rows > 0).toSeq.sortBy(_.batchId)

  /** Jobs of one streaming query, grouped by micro-batch id. */
  def jobsByBatch(queryId: String): Map[Long, Seq[JobRec]] = spark0.synchronized {
    spark0.finishedJobs.map(_._1).filter(_.queryId == queryId).toSeq.groupBy(_.batchId)
  }

  def tasksOf(jobs: Seq[JobRec]): Long = spark0.synchronized {
    jobs.flatMap(_.stages).flatMap(spark0.stageAgg.get).map(_.tasks).sum
  }

}
