package graft.streaming

import java.util.concurrent.{CancellationException, ExecutionException, Executors, ExecutorService, FutureTask, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.concurrent.TimeoutException
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Encoder, GraftColumnBridge, SparkSession, WakeClock}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SSTrigger}
import org.apache.spark.sql.types.StructType

/** Why a batch was flushed — mirrors the reference's two trigger kinds
  * (reference: nibbler.go:18-23).
  */
sealed trait Trigger
object Trigger {
  /** Flushed because the ticker fired with a non-empty batch. */
  case object Ticker extends Trigger
  /** Flushed because the batch reached `size` items. */
  case object BatchFull extends Trigger
}

object Nibbler {
  val DefaultSize = 100
  val DefaultTicker: FiniteDuration = 1.minute
  val DefaultTimeout: FiniteDuration = 1.second

  final class ValidationException(msg: String) extends IllegalArgumentException(msg)
  final class ReceiverClosedException
    extends IllegalStateException("receiver closed: nibbler stopped after processor failure")

  /** New + start in one call (reference: nibbler.go:188-197). */
  def start[T: Encoder](spark: SparkSession, cfg: NibblerConfig[T]): Nibbler[T] = {
    val n = new Nibbler[T](spark, cfg)
    n.start()
    n
  }
}

/** Cooperative cancellation handle for context-aware processors — the
  * analog of the reference's `ctx` carrying `ProcessingTimeout`
  * (nibbler.go:25, :103-106). `isCancelled` flips when the processing
  * deadline elapses (the worker thread is also interrupted), so a looping
  * processor can abort early. As in Go, cancellation is cooperative: a
  * processor that ignores it keeps running, its side effects may still
  * land after the batch was reported failed, and — because processing is
  * strictly serial (nibbler.go blocks until Processor returns) — the NEXT
  * batch waits until the stale invocation actually finishes.
  */
final class BatchContext private[streaming] (deadlineNanos: Long) {
  private[streaming] val cancelFlag = new AtomicBoolean(false)
  /** True once the processing deadline has passed (ctx.Done() analog). */
  def isCancelled: Boolean = cancelFlag.get()
  /** Time left before the processing deadline (ctx.Deadline() analog). */
  def remaining: FiniteDuration =
    math.max(0L, deadlineNanos - System.nanoTime()).nanos
}

/** Config for the micro-batch processor (reference: nibbler.go:27-46).
  *
  * Defaults mirror the reference's `Sanitize` (nibbler.go:48-60):
  * sub-millisecond timeout -> 1s, sub-millisecond ticker -> 1m, size 0 -> 100.
  * A missing processor fails validation (nibbler.go:62-68).
  *
  * Exactly one of `processor` (plain) or `ctxProcessor` (receives the
  * [[BatchContext]] cancellation handle, mirroring the reference's
  * `Processor(ctx, trigger, batch)` signature) must be set.
  */
final case class NibblerConfig[T](
    processor: (Trigger, Seq[T]) => Unit = null,
    size: Int = 0,
    tickerDuration: Duration = Duration.Zero,
    /** Deadline for one processor invocation; past it the batch goes to
      * the error path and the [[BatchContext]] is cancelled. A processor
      * that ignores cancellation keeps running, and, as in the
      * reference's listen loop, the nibbler blocks until it returns: the
      * ticker and the drain wait, and once `receiverCapacity` items are
      * un-drained producers block too. <= 0 means the 1 s default.
      */
    processingTimeout: Duration = Duration.Zero,
    resumeAfterErr: Boolean = false,
    onError: (Seq[T], Throwable) => Unit = null,
    ctxProcessor: (BatchContext, Trigger, Seq[T]) => Unit = null,
    /** Receiver backpressure bound — the reference's `make(chan T,
      * cfg.Size)` (nibbler.go:184): producers BLOCK once this many
      * pushed items are un-drained (push/pushAll are channel sends, not
      * unbounded buffering — a producer that pushes more than this
      * before start() blocks until the listen loop drains). <= 0 means
      * the reference default, capacity = size; values above
      * Int.MaxValue/4 are clamped (Semaphore overflow guard).
      */
    receiverCapacity: Int = 0) {

  def sanitized: NibblerConfig[T] = {
    val sz = if (size <= 0) Nibbler.DefaultSize else size
    copy(
      size = sz,
      tickerDuration =
        if (tickerDuration < 1.milli) Nibbler.DefaultTicker else tickerDuration,
      processingTimeout =
        if (processingTimeout < 1.milli) Nibbler.DefaultTimeout else processingTimeout,
      // clamp: closeReceiver releases Int.MaxValue/2 permits to wake
      // blocked producers; a capacity above Int.MaxValue/4 could overflow
      // the Semaphore's permit count on that release (Semaphore.release
      // throws Error past Int.MaxValue total permits)
      receiverCapacity =
        if (receiverCapacity <= 0) sz
        else math.min(receiverCapacity, Int.MaxValue / 4))
  }

  def validate(): Unit = {
    if (processor == null && ctxProcessor == null)
      throw new Nibbler.ValidationException("batch processor cannot be empty")
    if (processor != null && ctxProcessor != null)
      throw new Nibbler.ValidationException(
        "set exactly one of processor and ctxProcessor")
  }
}

/** Embedded micro-batch processor: the reference's `Nibbler[T]`
  * (nibbler.go:75-197) re-expressed on Structured Streaming.
  *
  * Receiver -> [[PushSource]] (a real streaming source); the listen loop
  * is a `StreamingQuery` whose trigger wakes on every push; each
  * micro-batch is split into `size`-capped slices — full slices flush
  * immediately as `BatchFull` (reference: nibbler.go:160-165),
  * the remainder is carried and flushed by the ticker as `Ticker`
  * (reference: nibbler.go:153-158). Batches are reset only after successful
  * processing (nibbler.go:111-114); on processor error or exception the
  * failure callback runs and `resumeAfterErr` decides continue-vs-stop
  * (nibbler.go:137-149).
  *
  * Fixed cost per micro-batch: pushed items stay on the driver. The
  * source is a driver-side buffer ([[PushSource]]) whose batches are local
  * relations, and the sink ([[DrainSink]]) reads them with the plan's
  * driver-local collect, so a micro-batch runs no Spark job; what a trigger
  * still costs is planning the batch and writing its offset and commit log
  * entries. Those go through [[NioCheckpointFileManager]] (installed by
  * [[graft.GraftSession]]), which writes local checkpoint files without
  * forking processes.
  *
  * Scale note: this class is the embedded, in-app API (driver-side batches,
  * like the reference — batches are `size` items by contract). For
  * cluster-scale streams use [[NibblerSink]], which applies the same
  * size+ticker semantics to distributed `Dataset` micro-batches without
  * collecting to the driver.
  */
final class Nibbler[T: Encoder](spark: SparkSession, rawCfg: NibblerConfig[T]) {
  rawCfg.validate()
  private val cfg = rawCfg.sanitized

  private val source = new PushSource[T](spark)
  /** The query's trigger clock: a push wakes the trigger. */
  private val clock = new WakeClock
  private val lock = new Object
  private val carry = ArrayBuffer.empty[T]
  private val stopped = new AtomicBoolean(false)
  @volatile private var query: StreamingQuery = _
  private var ticker: ScheduledExecutorService = _
  /** Dedicated single-thread processor executor: invocations queue here,
    * which makes processing strictly serial like the reference's listen
    * loop (nibbler.go blocks until Processor returns) — even a timed-out
    * invocation that ignores cancellation is waited out by the next
    * flush's task before it can start.
    */
  private val worker: ExecutorService = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "nibbler-processor"); t.setDaemon(true); t
  })
  /** The latest processor invocation. `task.get` alone can't be used to
    * wait out a STALE invocation: FutureTask.cancel flips get() to throw
    * immediately while the runnable keeps executing — `done` only counts
    * down when the runnable actually returns.
    */
  private final class Invocation(val task: FutureTask[Unit], val done: java.util.concurrent.CountDownLatch)
  @volatile private var inFlight: Invocation = null

  /** Backpressure permits — the reference's buffered channel capacity
    * (`make(chan T, cfg.Size)`, nibbler.go:184): a producer blocks once
    * `receiverCapacity` pushed items are un-drained (not yet received by
    * the listen loop's sink); the drain releases them. Closed
    * exactly once on stop so blocked producers wake and observe the
    * closed receiver instead of hanging.
    */
  private val permits = new java.util.concurrent.Semaphore(cfg.receiverCapacity)
  private val receiverClosed = new AtomicBoolean(false)
  private def closeReceiver(): Unit =
    if (receiverClosed.compareAndSet(false, true))
      permits.release(Int.MaxValue / 2)

  /** Push one item (reference `Receiver()`, nibbler.go:120-122). BLOCKS
    * once `receiverCapacity` pushed items are un-drained (channel-send
    * semantics, see [[pushAll]]) — in particular, pushing more than
    * `receiverCapacity` items before [[start]] blocks until started.
    * Throws [[Nibbler.ReceiverClosedException]] once the nibbler has
    * stopped after a non-resumable failure — the analog of "send on
    * closed channel".
    */
  def push(item: T): Unit = pushAll(Seq(item))

  /** Push items, BLOCKING per item once `receiverCapacity` are un-drained
    * (the reference's channel-send semantics — a fast producer cannot
    * queue without bound). Items accepted before the block are in the
    * stream, exactly like a partially-completed sequence of channel sends.
    */
  def pushAll(items: Seq[T]): Unit = {
    if (stopped.get()) throw new Nibbler.ReceiverClosedException
    items.foreach { item =>
      // about to block: let the trigger drain what is already pushed
      if (!permits.tryAcquire()) { clock.wake(); permits.acquire() }
      if (stopped.get()) {
        permits.release()
        throw new Nibbler.ReceiverClosedException
      }
      source.append(item)
    }
    clock.wake()
  }

  def isActive: Boolean = !stopped.get() && query != null && query.isActive

  /** Start listening (reference `Listen()`, nibbler.go:125-150).
    *
    * The reference checks batch fullness on every arrival
    * (nibbler.go:160-165), so pushes wake the query's trigger and reach
    * the sink promptly. The processing-time trigger, at most 50 ms and
    * NOT the ticker, is only a backstop (it paces `processAllAvailable`
    * and `stop`). Ticker semantics live in the carry buffer + ticker
    * thread.
    */
  def start(): this.type = {
    val tickMs = cfg.tickerDuration.toMillis
    val pollMs = math.max(1L, math.min(tickMs, 50L))
    val sink = new DrainSink[T]({ items =>
      // items have LEFT the channel (the reference's listen loop
      // received them) — free their capacity before processing, like
      // a channel receive does
      if (items.nonEmpty && !receiverClosed.get()) permits.release(items.length)
      lock.synchronized {
        if (!stopped.get()) {
          carry ++= items
          while (carry.length >= cfg.size && !stopped.get())
            flushLocked(Trigger.BatchFull, cfg.size)
        }
      }
    })
    query = GraftColumnBridge.startQuery(spark, s"nibbler-${System.identityHashCode(this)}",
      source, sink, SSTrigger.ProcessingTime(pollMs), clock)
    ticker = Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "nibbler-ticker"); t.setDaemon(true); t
    })
    ticker.scheduleAtFixedRate(() => tick(), tickMs, tickMs, TimeUnit.MILLISECONDS)
    this
  }

  /** Ticker flush of a non-empty partial batch (nibbler.go:153-158). */
  private def tick(): Unit = lock.synchronized {
    if (!stopped.get() && carry.nonEmpty) flushLocked(Trigger.Ticker, carry.length)
  }

  /** Process `n` items under the processing timeout; reset them from the
    * carry buffer only on success (nibbler.go:98-117). Must hold `lock`.
    *
    * The invocation runs on the dedicated single-thread worker. On timeout
    * the batch context's cancel flag flips and the worker thread is
    * interrupted (FutureTask.cancel(true)) — a cooperative processor
    * observes either within ProcessingTimeout; one that ignores both keeps
    * running (its side effects may still land, as in Go), but strict
    * serialization holds: the next flush's task queues behind it.
    */
  private def flushLocked(trigger: Trigger, n: Int): Unit = {
    // Strictly-serial contract: wait out any stale (timed-out but still
    // running) invocation BEFORE starting this one, so the worker is idle
    // at submission (the invocation starts immediately and its timeout
    // clock measures actual processing) — the reference's listen loop
    // likewise blocks until Processor returns, however late.
    val prev = inFlight
    if (prev != null) {
      try prev.task.get()
      catch { case _: InterruptedException => (); case NonFatal(_) => () }
      prev.done.await()
    }
    val slice = carry.take(n).toVector
    val ctx = new BatchContext(System.nanoTime() + cfg.processingTimeout.toNanos)
    val done = new java.util.concurrent.CountDownLatch(1)
    val task = new FutureTask[Unit](() => {
      try {
        if (cfg.ctxProcessor != null) cfg.ctxProcessor(ctx, trigger, slice)
        else cfg.processor(trigger, slice)
      } finally done.countDown()
    })
    worker.execute(task)
    inFlight = new Invocation(task, done)
    val result =
      try {
        task.get(cfg.processingTimeout.toNanos, TimeUnit.NANOSECONDS)
        None
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          ctx.cancelFlag.set(true)
          task.cancel(true) // interrupt the worker thread
          Some(new TimeoutException(
            s"processor exceeded processingTimeout=${cfg.processingTimeout}"))
        case e: ExecutionException =>
          Some(if (e.getCause != null) e.getCause else e) // panic recovery (nibbler.go:81-96)
        case e @ (_: CancellationException | _: InterruptedException) => Some(e)
        case NonFatal(e) => Some(e)
      }
    result match {
      case None =>
        carry.remove(0, n)
      case Some(err) =>
        if (cfg.onError != null)
          try cfg.onError(slice, err) catch { case NonFatal(_) => () }
        if (cfg.resumeAfterErr) {
          // Skip past the failed batch (nibbler.go:146-148).
          carry.remove(0, n)
        } else {
          stopped.set(true)
          closeReceiver() // wake blocked producers -> ReceiverClosedException
          carry.clear()
          stopAsync()
        }
    }
  }

  private def stopAsync(): Unit = {
    val q = query
    val t = ticker
    new Thread(() => {
      try if (q != null && q.isActive) q.stop() catch { case NonFatal(_) => () }
      if (t != null) t.shutdown()
      worker.shutdown() // in-flight invocation may finish; nothing new starts
    }, "nibbler-stopper").start()
  }

  /** Drain everything already pushed through the processor (test/shutdown
    * aid; the reference's tests sleep instead).
    */
  def awaitIdle(): Unit = processAllAvailable()

  def processAllAvailable(): Unit = {
    val q = query
    if (q != null && q.isActive)
      try q.processAllAvailable() catch { case NonFatal(_) => () }
  }

  /** Flush any carried partial batch as a ticker flush, then stop. Safe to
    * call from user threads (never from inside the processor).
    */
  def stop(): Unit = {
    processAllAvailable()
    lock.synchronized {
      if (!stopped.get() && carry.nonEmpty) flushLocked(Trigger.Ticker, carry.length)
      stopped.set(true)
    }
    closeReceiver()
    val q = query
    try if (q != null && q.isActive) q.stop() catch { case NonFatal(_) => () }
    if (ticker != null) ticker.shutdown()
    worker.shutdown()
  }
}

/** The nibbler's receiver as a V1 streaming source: pushed items wait in a
  * driver-side buffer, and the offset is the index of the last item pushed
  * (`LongOffset`; offsets read back from the offset log arrive as
  * `SerializedOffset`). A batch is a streaming local relation, so reading it
  * runs no Spark job. `commit` drops the items it covers.
  */
private[streaming] final class PushSource[T: Encoder](spark: SparkSession) extends Source {
  private val encoder = encoderFor[T]
  private val toRow = encoder.createSerializer()
  private val attributes = DataTypeUtils.toAttributes(encoder.schema)
  private val buffer = ArrayBuffer.empty[T]
  /** Offset of `buffer(0)`: every item before it was committed and dropped. */
  private var base = 0L

  def append(item: T): Unit = synchronized { buffer += item }

  /** Items pushed and not yet committed. */
  def buffered: Int = synchronized { buffer.length }

  override def schema: StructType = encoder.schema

  override def getOffset: Option[Offset] = synchronized {
    val last = base + buffer.length - 1
    if (last < 0) None else Some(LongOffset(last))
  }

  /** Items `(start, end]`, in push order. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(index).getOrElse(-1L) + 1
    val items = synchronized {
      require(from >= base, s"batch from offset $from, but items before $base were committed")
      buffer.slice((from - base).toInt, (index(end) + 1 - base).toInt).toVector
    }
    GraftColumnBridge.ofRows(spark,
      LocalRelation(attributes, items.map(toRow(_).copy()), isStreaming = true))
  }

  override def commit(end: Offset): Unit = synchronized {
    val n = math.min(index(end) + 1 - base, buffer.length.toLong).toInt
    if (n > 0) {
      buffer.remove(0, n)
      base += n
    }
  }

  override def stop(): Unit = ()

  private def index(offset: Offset): Long = offset match {
    case o: LongOffset => o.offset
    case o: SerializedOffset => o.json.toLong
  }
}

/** The nibbler's V1 sink: hands each micro-batch's items to `deliver`. The
  * batch plan is a bare `LocalTableScan`, which is never a codegen root, so
  * `executeCollect` returns its rows on the driver without starting a job.
  */
private[streaming] final class DrainSink[T: Encoder](deliver: Seq[T] => Unit) extends Sink {
  private val fromRow = encoderFor[T].resolveAndBind().createDeserializer()

  override def addBatch(batchId: Long, data: DataFrame): Unit =
    deliver(data.queryExecution.executedPlan.executeCollect().toSeq.map(fromRow(_)))
}
