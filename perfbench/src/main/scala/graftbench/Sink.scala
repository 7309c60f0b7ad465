package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

import graft.streaming.{NibblerSink, SourcePresets, Trigger}

/** `stream_sink`: `NibblerSink` over `SourcePresets.parquetDir` in two
  * phases, each with its own streaming query and table.
  *
  *  1. drain: a backlog of seeded events-shaped files is present at start;
  *     throughput is records written per second until the backlog is gone.
  *  2. open loop: one load thread renames pre-written files into the
  *     watched directory on a fixed schedule; each file's latency runs from
  *     its scheduled drop to the return of the processor call that wrote it.
  *
  * The processor appends the batch to a parquet table and runs one
  * aggregate (rows per source file), so the sink writes beside its reads.
  * Every generated record must appear exactly once in the table.
  */
final class Sink(ctx: Ctx) extends Workload {
  import Sink._

  private var dir: Path = _

  def stage(d: Path): Unit = {
    Files.createDirectories(d)
    Datagen.eventFiles(d.resolve("backlog").toString, BacklogFiles,
      RecordsPerFile, ctx.seed, firstFile = 0)
    Datagen.eventFiles(d.resolve("pending").toString, dropCount,
      RecordsPerFile, ctx.seed + 1, firstFile = BacklogFiles)
    Files.createDirectories(d.resolve("incoming"))
    dir = d
  }

  private def dropCount: Int = math.max(4, (ctx.seconds * DropShare / DropInterval).toInt)

  private final case class Call(files: Map[Long, Long], startNs: Long, endNs: Long)

  private def run(name: String, source: String, maxFiles: Int, table: Path, done: Int,
      deadlineNs: Long, drops: () => Unit): (Long, Seq[Call]) = {
    val calls = new ConcurrentLinkedQueue[Call]()
    val processor: (Trigger, Dataset[Row]) => Unit = (_, batch) => {
      val t0 = System.nanoTime()
      batch.write.mode("append").parquet(table.toString)
      val perFile = batch.groupBy(expr(s"event_id div ${Datagen.FileStride}").as("file"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      calls.add(Call(perFile, t0, System.nanoTime()))
    }
    val cfg = NibblerSink.Config[Row](processor, size = maxFiles.toLong * RecordsPerFile,
      tickerDuration = TickerMs.millis)
    val startNs = System.nanoTime()
    val q = NibblerSink.writer(
        SourcePresets.parquetDir(ctx.spark, source, Datagen.eventSchema, maxFiles), cfg)
      .queryName(name)
      .option("checkpointLocation", dir.resolve(s"checkpoint-$name").toString)
      .start()
    drops()
    def seen = calls.asScala.flatMap(_.files.keys).toSet.size
    while (seen < done && System.nanoTime() < deadlineNs && q.isActive)
      LockSupport.parkNanos(5000000L)
    q.stop()
    (startNs, calls.asScala.toSeq.sortBy(_.endNs))
  }

  def measure(): Outcome = {
    val sc = ctx.spark.sparkContext
    val cg0 = (Codegen.compiles, Codegen.compileMs)
    val t0 = System.nanoTime()
    val drainTable = dir.resolve("table-drain")
    sc.setLocalProperty(Tracer.TraceKey, "phase1")
    val (drainStart, drainCalls) = run("perfbench-sink-drain", dir.resolve("backlog").toString,
      DrainFilesPerTrigger, drainTable, BacklogFiles, t0 + TimeoutNs, () => ())
    val drainEnd = System.nanoTime()

    // open loop: rename pre-written files in on a fixed schedule
    sc.setLocalProperty(Tracer.TraceKey, "phase2")
    val cg1 = Codegen.compiles
    val pending = Files.list(dir.resolve("pending")).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    val dropAt = new Array[Long](pending.length)
    var lastDrop = 0L
    val openTable = dir.resolve("table-open")
    val (openStart, openCalls) = run("perfbench-sink-open", dir.resolve("incoming").toString,
      OpenFilesPerTrigger, openTable, pending.length, System.nanoTime() + TimeoutNs, () => {
        val base = System.nanoTime() + (DropInterval * 1e9).toLong
        Embedded.thread("mover") {
          pending.zipWithIndex.foreach { case (p, k) =>
            val due = base + (k * DropInterval * 1e9).toLong
            var now = System.nanoTime()
            while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
            dropAt(k) = due
            Files.move(p, dir.resolve("incoming").resolve(p.getFileName),
              StandardCopyOption.ATOMIC_MOVE)
          }
          lastDrop = System.nanoTime()
        }.join()
      })
    val endNs = System.nanoTime()
    val cg2 = (Codegen.compiles, Codegen.compileMs)
    sc.setLocalProperty(Tracer.TraceKey, null)

    // correctness: every generated record exactly once in each table
    def check(table: Path, files: Seq[Long]): Long = {
      val expectedIds = files.flatMap(f => (0L until RecordsPerFile).map(f * Datagen.FileStride + _))
      val r = ctx.spark.read.parquet(table.toString)
        .agg(count(lit(1)), countDistinct(col("event_id")), sum(col("event_id"))).head()
      val (n, distinct, total) = (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
      val missing = expectedIds.length - distinct
      val wrongSum = if (missing == 0 && total != expectedIds.sum) 1L else 0L
      missing + (n - distinct) + wrongSum
    }
    val backlogFiles = (0 until BacklogFiles).map(_.toLong)
    val openFiles = pending.indices.map(k => (BacklogFiles + k).toLong)
    val failed = check(drainTable, backlogFiles) + check(openTable, openFiles)
    val attempted = (backlogFiles.length + openFiles.length).toLong * RecordsPerFile

    // sustained drain rate: records of the batches after the first (the
    // cold one, reported as cold_s) over the time from the first batch's
    // processor return to the last one's
    val drained = drainCalls.flatMap(_.files.values).sum
    val firstReturn = drainCalls.head.endNs
    val drainS = (drainCalls.last.endNs - firstReturn) / 1e9
    val warmDrained = drainCalls.tail.flatMap(_.files.values).sum
    val writtenAt = openCalls.flatMap(c => c.files.keys.map(_ -> c.endNs)).toMap
    // files dropped while the open-loop query warms up are not sampled
    val latMs = pending.indices.filter(_ * DropInterval >= OpenWarmUpSeconds).flatMap { k =>
      writtenAt.get((BacklogFiles + k).toLong).map(t => Util.ms(t - dropAt(k)))
    }
    val e2e = Map(
      "cold_s" -> (firstReturn - drainStart) / 1e9,
      "throughput_per_s" -> (if (drainCalls.length < 2) Double.NaN else warmDrained / drainS),
      "latency_p50_ms" -> Util.quantile(latMs, 0.5),
      "latency_p95_ms" -> Util.quantile(latMs, 0.95))

    val layers =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        ctx.taps.drain()
        Seq("phase1" -> drainCalls, "phase2" -> openCalls).foreach { case (trace, cs) =>
          cs.foreach(c => ctx.tracer.add(Span(ctx.tracer.nextId(), 0L, trace, "processor",
            "processor", Clock.toUs(c.startNs), Clock.toUs(c.endNs))))
        }
        ctx.tracer.add(Span(ctx.tracer.nextId(), 0L, "phase1", "phase", "phase1 backlog drain",
          Clock.toUs(drainStart), Clock.toUs(drainEnd)))
        ctx.tracer.add(Span(ctx.tracer.nextId(), 0L, "phase2", "phase", "phase2 open loop",
          Clock.toUs(openStart), Clock.toUs(endNs)))
        val drain = new StreamLayers(ctx, "perfbench-sink-drain",
          drainCalls.map(c => (c.startNs, c.endNs)))
        val open = new StreamLayers(ctx, "perfbench-sink-open",
          openCalls.map(c => (c.startNs, c.endNs)))
        val backlogEnd = pending.indices.count { k =>
          writtenAt.get((BacklogFiles + k).toLong).forall(_ > lastDrop)
        }
        val (from, to) = (Clock.toUs(t0), Clock.toUs(endNs))
        Map(
          "sink.microbatch_ms" -> drain.microbatchMs,
          "sink.listing_ms" -> drain.listingMs,
          "sink.count_ms" -> drain.addBatchOutsideProcessorMs,
          "sink.tasks_per_batch" -> drain.tasksPerBatch,
          "sink.rows_per_batch" -> drain.rowsPerBatch,
          "sink.log_commit_ms" -> open.logCommitMs,
          "sink.planning_ms" -> open.planningMs,
          "sink.processor_ms" -> Util.median(openCalls.map(c => Util.ms(c.endNs - c.startNs))),
          "sink.backlog_files_end" -> backlogEnd.toDouble,
          "sink.bytes_written" -> (Util.treeBytes(drainTable) + Util.treeBytes(openTable)).toDouble
        ) ++ ExecLayers(ctx, ExecLayers.jobsBetween(ctx, from, to), from, to) ++ Map(
          "codegen.compiles" -> (cg2._1 - cg0._1).toDouble,
          "codegen.compile_ms" -> (cg2._2 - cg0._2),
          "codegen.warm_compiles" -> (cg2._1 - cg1).toDouble)
      }
    Outcome(attempted, failed, e2e, layers, Map(
      "drain_records" -> drained, "drain_s" -> drainS, "drain_batches" -> drainCalls.length,
      "open_files" -> pending.length, "open_batches" -> openCalls.length,
      "latency_samples" -> latMs.length, "drop_interval_s" -> DropInterval,
      "latency_ms" -> latMs))
  }
}

object Sink {
  val BacklogFiles = 48
  val RecordsPerFile = 250
  /** Drain batches of 6 files give eight backlog batches per run; the open
    * loop keeps the preset default of 16 so a slowed machine can still
    * absorb the drops.
    */
  val DrainFilesPerTrigger = 6
  val OpenFilesPerTrigger = 16
  val TickerMs = 100L
  /** Seconds between scheduled drops in the open-loop phase. */
  val DropInterval = 0.2
  /** Share of the run's seconds given to the open-loop drops. */
  val DropShare = 0.45
  val OpenWarmUpSeconds = 2.0
  val TimeoutNs: Long = 60L * 1000000000L
}
