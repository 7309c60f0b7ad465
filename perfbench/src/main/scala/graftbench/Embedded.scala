package graftbench

import java.nio.file.Path
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import graft.streaming.{Nibbler, NibblerConfig, Trigger}

/** `stream_embedded`: one `Nibbler[Long]` (slice size 10, receiver
  * capacity 100, default ticker) fed by one load thread in two phases.
  *
  *  1. closed loop: the producer pushes the next item as soon as `push`
  *     returns; throughput is items delivered in full slices per second.
  *  2. open loop: pushes follow a seeded Poisson schedule at a fixed rate;
  *     each full slice's latency runs from the scheduled push time of its
  *     last item to the processor's return.
  *
  * The processor only records what it receives, so the numbers measure
  * the engine, not the callback. Every pushed item must reach the
  * processor exactly once, in push order, in slices of at most `size`.
  */
final class Embedded(ctx: Ctx) extends Workload {
  import Embedded._

  def stage(dir: Path): Unit = {
    java.nio.file.Files.createDirectories(dir)
    schedule = poissonSchedule(ctx.seed, OpenRate,
      math.max(1.0, ctx.seconds - WarmUpSeconds - ClosedSeconds))
  }

  private var schedule: Array[Long] = Array.empty

  private final case class Slice(trigger: Trigger, first: Long, items: Seq[Long],
      startNs: Long, endNs: Long)

  def measure(): Outcome = {
    val sc = ctx.spark.sparkContext
    val slices = ArrayBuffer.empty[Slice]
    var planted = false
    val processor: (Trigger, Seq[Long]) => Unit = (trigger, items) => {
      val t0 = System.nanoTime()
      val got =
        if (ctx.plant && !planted && slices.length == 3) { planted = true; items.tail }
        else items
      slices.synchronized { slices += Slice(trigger, items.head, got, t0, System.nanoTime()) }
    }
    val cfg = NibblerConfig[Long](processor = processor, size = Size, receiverCapacity = Capacity)
    import ctx.spark.implicits._

    // phase 1: closed loop
    sc.setLocalProperty(Tracer.TraceKey, "phase1")
    val startNs = System.nanoTime()
    val cg0 = (Codegen.compiles, Codegen.compileMs)
    val nib = Nibbler.start(ctx.spark, cfg)
    val queryName = s"nibbler-${System.identityHashCode(nib)}"
    var pushed = 0L
    var pushNs = 0L
    // the closed loop runs for the warm-up plus the measured window, counted
    // from the first delivered slice: the engine's cold start is cold_s
    @volatile var closedEnd = Long.MaxValue
    val producer1 = thread("closed-loop") {
      while (System.nanoTime() < closedEnd) {
        val t0 = System.nanoTime()
        nib.push(pushed)
        pushNs += System.nanoTime() - t0
        pushed += 1
      }
    }
    while (slices.synchronized(slices.isEmpty)) LockSupport.parkNanos(1000000L)
    closedEnd = slices.synchronized(slices.head.endNs) +
      ((WarmUpSeconds + ClosedSeconds) * 1e9).toLong
    producer1.join()
    val closedPushed = pushed
    nib.processAllAvailable()

    // phase 2: open loop on the seeded schedule
    sc.setLocalProperty(Tracer.TraceKey, "phase2")
    val cg1 = Codegen.compiles
    val openStart = System.nanoTime()
    val lagNs = new Array[Long](schedule.length)
    val producer2 = thread("open-loop") {
      var i = 0
      while (i < schedule.length) {
        val due = openStart + schedule(i)
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        lagNs(i) = now - due
        nib.push(pushed)
        pushed += 1
        i += 1
      }
    }
    producer2.join()
    nib.stop()
    val endNs = System.nanoTime()
    val cg2 = (Codegen.compiles, Codegen.compileMs)
    sc.setLocalProperty(Tracer.TraceKey, null)

    val all = slices.synchronized(slices.toVector)
    // correctness: the concatenation of slices is exactly 0 until pushed
    // (each item missing, duplicated, out of range or out of order counts once)
    val received = all.flatMap(_.items)
    val distinct = received.toSet
    val missing = (0L until pushed).count(i => !distinct(i))
    val duplicated = received.length - distinct.size
    val outOfRange = distinct.count(v => v < 0 || v >= pushed)
    val disordered = received.iterator.sliding(2).count { case Seq(a, b) => a >= b; case _ => false }
    val oversized = all.map(s => math.max(0, s.items.length - Size)).sum
    val failed = missing + duplicated + outOfRange + disordered + oversized

    // baseline: the same slices handed straight to the same recording
    // processor on one thread, without the engine in between
    val direct = ArrayBuffer.empty[Slice]
    val d0 = System.nanoTime()
    received.grouped(Size).foreach { items =>
      val t0 = System.nanoTime()
      direct.synchronized { direct += Slice(Trigger.BatchFull, items.head, items, t0, System.nanoTime()) }
    }
    val directItemsPerS = received.length / math.max(1e-9, (System.nanoTime() - d0) / 1e9)

    val full = all.filter(_.trigger == Trigger.BatchFull)
    val coldS = (all.head.endNs - startNs) / 1e9
    // closed-loop rate: full slices returned after the warm-up, before the phase end
    val warmEnd = all.head.endNs + (WarmUpSeconds * 1e9).toLong
    val closedFull = full.filter(s => s.endNs > warmEnd && s.endNs <= closedEnd)
    val rate =
      if (closedFull.length < 2) Double.NaN
      else closedFull.tail.map(_.items.length).sum /
        ((closedFull.last.endNs - closedFull.head.endNs) / 1e9)
    // open-loop latency per full slice whose last item was scheduled in
    // phase 2 after its warm-up
    val openWarmNs = (OpenWarmUpSeconds * 1e9).toLong
    val latMs = full.filter(s => s.first + s.items.length - 1 >= closedPushed).flatMap { s =>
      val due = schedule((s.first + Size - 1 - closedPushed).toInt)
      if (due < openWarmNs) None else Some(Util.ms(s.endNs - (openStart + due)))
    }
    val e2e = Map(
      "cold_s" -> coldS,
      "throughput_per_s" -> rate,
      "latency_p50_ms" -> Util.quantile(latMs, 0.5),
      "latency_p95_ms" -> Util.quantile(latMs, 0.95))

    val layers =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        ctx.taps.drain()
        all.foreach { s =>
          ctx.tracer.add(Span(ctx.tracer.nextId(), 0L,
            if (s.first < closedPushed) "phase1" else "phase2", "processor",
            s"processor ${s.trigger}", Clock.toUs(s.startNs), Clock.toUs(s.endNs)))
        }
        ctx.tracer.add(Span(ctx.tracer.nextId(), 0L, "phase1", "phase", "phase1 closed loop",
          Clock.toUs(startNs), Clock.toUs(openStart)))
        ctx.tracer.add(Span(ctx.tracer.nextId(), 0L, "phase2", "phase", "phase2 open loop",
          Clock.toUs(openStart), Clock.toUs(endNs)))
        val st = new StreamLayers(ctx, queryName, all.map(s => (s.startNs, s.endNs)))
        val (from, to) = (Clock.toUs(startNs), Clock.toUs(endNs))
        val n = all.length.toDouble
        Map(
          "nibbler.push_block_ms" -> Util.ms(pushNs) / math.max(1L, closedPushed),
          "nibbler.microbatch_ms" -> st.microbatchMs,
          "nibbler.drain_ms" -> st.addBatchOutsideProcessorMs,
          "nibbler.tasks_per_microbatch" -> st.tasksPerBatch,
          "nibbler.items_per_task" -> st.rowsPerTask,
          "nibbler.log_commit_ms" -> st.logCommitMs,
          "nibbler.planning_ms" -> st.planningMs,
          "nibbler.poll_wait_ms" -> st.pollWaitMs,
          "nibbler.gen_lag_p95_ms" -> Util.quantile(lagNs.toSeq.map(Util.ms), 0.95),
          "nibbler.flushes_full" -> full.length.toDouble,
          "nibbler.flushes_ticker" -> (n - full.length),
          "nibbler.slice_fill_ratio" -> all.map(_.items.length).sum / (n * Size),
          "nibbler.processor_ms" -> Util.median(all.map(s => Util.ms(s.endNs - s.startNs)))
        ) ++ ExecLayers(ctx, ExecLayers.jobsBetween(ctx, from, to), from, to) ++ Map(
          "codegen.compiles" -> (cg2._1 - cg0._1).toDouble,
          "codegen.compile_ms" -> (cg2._2 - cg0._2),
          "codegen.warm_compiles" -> (cg2._1 - cg1).toDouble)
      }
    Outcome(attempted = pushed, failed = failed, e2e = e2e, layers = layers,
      detail = Map("pushed" -> pushed, "closed_pushed" -> closedPushed,
        "slices" -> all.length, "full_slices" -> full.length,
        "latency_samples" -> latMs.length, "direct_items_per_s" -> directItemsPerS, "open_rate_per_s" -> OpenRate,
        "open_items" -> schedule.length,
        "gen_lag_max_ms" -> (if (lagNs.isEmpty) 0.0 else Util.ms(lagNs.max)),
        "latency_ms" -> latMs))
  }
}

object Embedded {
  /** Slice size. The receiver capacity stays at 100 items, the reference
    * default for size 100, so each micro-batch drains what a size-100
    * nibbler would; the smaller slice gives ten latency samples per 100
    * items, which the open-loop phase needs to be measured in seconds.
    */
  val Size = 10
  val Capacity = 100
  /** Open-loop arrival rate: about half the closed-loop saturated rate at
    * the seed commit (250-290 items/s, 4 vCPUs), which at 25 run seconds
    * gives the open loop about 215 full slices to sample after its warm-up.
    */
  val OpenRate = 130.0
  /** Closed loop: warm-up after the first slice, then the measured window;
    * the open loop gets the rest of the run's seconds.
    */
  val WarmUpSeconds = 2.5
  val ClosedSeconds = 3.0
  /** Slices completed in the open loop's first seconds are not sampled:
    * their latency is still falling as the engine settles into the lower
    * arrival rate.
    */
  val OpenWarmUpSeconds = 3.0

  /** Seeded Poisson arrival offsets (ns from the phase start). */
  def poissonSchedule(seed: Long, rate: Double, seconds: Double): Array[Long] = {
    val r = new java.util.Random(seed)
    val out = ArrayBuffer.empty[Long]
    var t = 0.0
    while ({ t += -math.log(1 - r.nextDouble()) / rate; t < seconds }) out += (t * 1e9).toLong
    out.toArray
  }

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, s"perfbench-$name")
    t.start()
    t
  }
}
