package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Mirrors the reference's own test coverage (nibbler_test.go):
  * batch-by-full vs batch-by-ticker, error callback with/without resume,
  * panic (exception) recovery, sanitize/validate defaults, timeout.
  */
class NibblerSpec extends SparkSpec {
  import spark.implicits._

  test("flushes full batches immediately and partials on the ticker") {
    val batches = new ConcurrentLinkedQueue[(Trigger, Seq[String])]()
    val nib = Nibbler.start(spark, NibblerConfig[String](
      processor = (t, b) => { batches.add((t, b)); () },
      size = 6,
      tickerDuration = 400.millis,
      processingTimeout = 5.seconds))

    // 8 items: one full batch of 6 immediately, remainder of 2 by ticker.
    nib.pushAll((0 until 8).map(i => s"i:$i"))
    nib.processAllAvailable()
    val deadline = System.nanoTime() + 5.seconds.toNanos
    while (batches.size < 2 && System.nanoTime() < deadline) Thread.sleep(25)

    val got = batches.asScala.toVector
    assert(got.length == 2, s"expected 2 batches, got $got")
    assert(got(0)._1 == Trigger.BatchFull)
    assert(got(0)._2 == (0 until 6).map(i => s"i:$i"))
    assert(got(1)._1 == Trigger.Ticker)
    assert(got(1)._2 == Seq("i:6", "i:7"))
    nib.stop()
  }

  test("a full batch flushes promptly under a slow ticker — never waits for the tick") {
    // The reference checks fullness ON ARRIVAL (nibbler.go:160-165); the
    // Spark spelling must preserve that end-to-end: a push wakes the
    // query's trigger (Nibbler.start), NOT the ticker. With a ONE HOUR
    // ticker, any ticker-coupling would stall this flush 3.5 orders of
    // magnitude past the bound asserted here.
    val flushed = new CountDownLatch(1)
    @volatile var trigger: Trigger = null
    val nib = Nibbler.start(spark, NibblerConfig[Int](
      processor = (t, _) => { trigger = t; flushed.countDown() },
      size = 5,
      tickerDuration = 1.hour,
      processingTimeout = 5.seconds))
    try {
      val t0 = System.nanoTime()
      nib.pushAll(1 to 5)
      assert(flushed.await(2, TimeUnit.SECONDS),
        "full-batch flush did not arrive within 2s of the push under a 1h ticker")
      val latencyMs = (System.nanoTime() - t0) / 1000000L
      info(s"BatchFull flush latency: ${latencyMs}ms (ticker: 1h)")
      assert(trigger == Trigger.BatchFull)
    } finally nib.stop()
  }

  test("a large arrival is split into size-capped BATCH_FULL slices") {
    val batches = new ConcurrentLinkedQueue[Seq[Int]]()
    val nib = Nibbler.start(spark, NibblerConfig[Int](
      processor = (_, b) => { batches.add(b); () },
      size = 10,
      tickerDuration = 10.minutes, // effectively never during this test
      processingTimeout = 5.seconds))
    nib.pushAll(1 to 35)
    nib.processAllAvailable()
    Thread.sleep(100)
    assert(batches.asScala.toVector == Vector((1 to 10), (11 to 20), (21 to 30)).map(_.toVector))
    nib.stop() // flushes the remaining 5 as a ticker batch
    assert(batches.asScala.toVector.last == (31 to 35).toVector)
  }

  test("processor error without resume stops the nibbler (closed receiver)") {
    val sawError = new CountDownLatch(1)
    @volatile var failed: Seq[String] = Nil
    @volatile var err: Throwable = null
    val nib = Nibbler.start(spark, NibblerConfig[String](
      processor = (_, _) => throw new RuntimeException("failed processing"),
      size = 1,
      tickerDuration = 300.millis,
      processingTimeout = 5.seconds,
      resumeAfterErr = false,
      onError = (b, e) => { failed = b; err = e; sawError.countDown() }))

    nib.push("hello")
    nib.processAllAvailable()
    assert(sawError.await(5, TimeUnit.SECONDS))
    assert(failed == Seq("hello"))
    assert(err.getMessage == "failed processing")
    // reference: pushing after a non-resume failure panics with
    // "send on closed channel" (nibbler_test.go:89-117)
    val deadline = System.nanoTime() + 5.seconds.toNanos
    var closed = false
    while (!closed && System.nanoTime() < deadline) {
      try { nib.push("again"); Thread.sleep(20) }
      catch { case _: Nibbler.ReceiverClosedException => closed = true }
    }
    assert(closed, "expected push to fail after non-resume error")
  }

  test("processor error with resume keeps processing later batches") {
    val errs = new ConcurrentLinkedQueue[Seq[String]]()
    val nib = Nibbler.start(spark, NibblerConfig[String](
      processor = (_, _) => throw new IllegalStateException("processor panic"),
      size = 1,
      tickerDuration = 300.millis,
      processingTimeout = 5.seconds,
      resumeAfterErr = true,
      onError = (b, _) => { errs.add(b); () }))

    nib.push("hello")
    nib.processAllAvailable()
    val d1 = System.nanoTime() + 5.seconds.toNanos
    while (errs.size < 1 && System.nanoTime() < d1) Thread.sleep(20)
    // still accepting + still processing after the failure
    nib.push("again")
    nib.processAllAvailable()
    val d2 = System.nanoTime() + 5.seconds.toNanos
    while (errs.size < 2 && System.nanoTime() < d2) Thread.sleep(20)
    assert(errs.asScala.toVector == Vector(Seq("hello"), Seq("again")))
    assert(nib.isActive)
    nib.stop()
  }

  test("processing timeout routes to the error path") {
    val sawError = new CountDownLatch(1)
    @volatile var err: Throwable = null
    val nib = Nibbler.start(spark, NibblerConfig[Int](
      processor = (_, _) => Thread.sleep(2000),
      size = 1,
      tickerDuration = 300.millis,
      processingTimeout = 100.millis,
      resumeAfterErr = true,
      onError = (_, e) => { err = e; sawError.countDown() }))
    nib.push(1)
    nib.processAllAvailable()
    assert(sawError.await(10, TimeUnit.SECONDS))
    assert(err.isInstanceOf[java.util.concurrent.TimeoutException]
      || err.isInstanceOf[scala.concurrent.TimeoutException])
    nib.stop()
  }

  test("a looping ctxProcessor observes cancellation within the processing timeout") {
    val sawError = new CountDownLatch(1)
    @volatile var cancelObservedAt = -1L
    @volatile var started = -1L
    val nib = Nibbler.start(spark, NibblerConfig[Int](
      ctxProcessor = (ctx, _, _) => {
        started = System.nanoTime()
        // cooperative loop: poll the context, swallow the interrupt into a
        // flag check (a processor may also just let InterruptedException
        // propagate)
        while (!ctx.isCancelled) {
          try Thread.sleep(5)
          catch { case _: InterruptedException => () }
        }
        cancelObservedAt = System.nanoTime()
      },
      size = 1,
      tickerDuration = 300.millis,
      processingTimeout = 200.millis,
      resumeAfterErr = true,
      onError = (_, e) => { sawError.countDown() }))
    nib.push(1)
    nib.processAllAvailable()
    assert(sawError.await(10, TimeUnit.SECONDS))
    val deadline = System.nanoTime() + 5.seconds.toNanos
    while (cancelObservedAt < 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(cancelObservedAt > 0, "processor never observed cancellation")
    val observedAfterMs = (cancelObservedAt - started) / 1000000L
    // cancelled at the 200ms deadline; observed shortly after (scheduling slack)
    assert(observedAfterMs >= 190 && observedAfterMs < 2000,
      s"cancellation observed after ${observedAfterMs}ms")
    nib.stop()
  }

  test("processing is strictly serial: next batch waits for a stale timed-out processor") {
    val running = new java.util.concurrent.atomic.AtomicInteger()
    val maxConcurrent = new java.util.concurrent.atomic.AtomicInteger()
    val finished = new ConcurrentLinkedQueue[Int]()
    val releaseFirst = new CountDownLatch(1)
    val nib = Nibbler.start(spark, NibblerConfig[Int](
      // ignores cancellation entirely: holds the worker (the first
      // invocation until released, later ones for 600ms) while the
      // nibbler declares it timed out at 100ms and moves on
      processor = (_, b) => {
        val now = running.incrementAndGet()
        maxConcurrent.updateAndGet(m => math.max(m, now))
        if (b.head == 1) {
          while (releaseFirst.getCount > 0) {
            try releaseFirst.await() catch { case _: InterruptedException => () }
          }
        } else {
          val deadline = System.nanoTime() + 600.millis.toNanos
          while (System.nanoTime() < deadline) {
            try Thread.sleep(10) catch { case _: InterruptedException => () }
          }
        }
        finished.add(b.head)
        running.decrementAndGet()
      },
      size = 1,
      tickerDuration = 200.millis,
      processingTimeout = 100.millis,
      resumeAfterErr = true,
      onError = (_, _) => ()))
    nib.push(1)
    nib.processAllAvailable()
    // capacity is 1: item 2 drains into a flush that waits on the stale
    // invocation, item 3 fills the channel, and the push of item 4 blocks
    // until the stale invocation returns
    val pushed = new CountDownLatch(1)
    val producer = new Thread(() => { nib.pushAll(Seq(2, 3, 4)); pushed.countDown() }, "producer")
    producer.start()
    assert(!pushed.await(500, TimeUnit.MILLISECONDS),
      "a push beyond capacity completed while the stale invocation ran")
    releaseFirst.countDown()
    assert(pushed.await(10, TimeUnit.SECONDS), "the push never completed")
    nib.processAllAvailable()
    val deadline = System.nanoTime() + 10.seconds.toNanos
    while (finished.size < 4 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(finished.asScala.toVector == Vector(1, 2, 3, 4))
    assert(maxConcurrent.get == 1,
      s"stale and fresh processor invocations overlapped (max=${maxConcurrent.get})")
    nib.stop()
  }

  test("validation rejects setting both processor flavors") {
    intercept[Nibbler.ValidationException] {
      new Nibbler[String](spark, NibblerConfig[String](
        processor = (_, _) => (), ctxProcessor = (_, _, _) => ()))
    }
  }

  test("slicing invariant: random-sized pushes drain in order as size-capped batches") {
    val rnd = new scala.util.Random(7)
    val input = (1 to 500).toVector
    val batches = new ConcurrentLinkedQueue[(Trigger, Seq[Int])]()
    val nib = Nibbler.start(spark, NibblerConfig[Int](
      processor = (t, b) => { batches.add((t, b)); () },
      size = 7,
      tickerDuration = 250.millis,
      processingTimeout = 5.seconds))
    var rest = input
    while (rest.nonEmpty) {
      val n = math.min(1 + rnd.nextInt(40), rest.length)
      nib.pushAll(rest.take(n))
      rest = rest.drop(n)
    }
    nib.awaitIdle()
    nib.stop() // flushes any carried remainder as a ticker batch
    val got = batches.asScala.toVector
    // batches concatenate to the input, in order, nothing lost or duplicated
    assert(got.flatMap(_._2) == input)
    // every batch respects the size cap; every BATCH_FULL flush is exactly full
    assert(got.forall(_._2.length <= 7))
    got.filter(_._1 == Trigger.BatchFull).foreach(b => assert(b._2.length == 7))
  }

  test("the nibbler's query runs no Spark job") {
    // Pushed items stay on the driver: each micro-batch is a local relation
    // that the sink collects without a job, however many pushes it holds.
    val queryJobs = new QueryJobs(spark)
    val got = new ConcurrentLinkedQueue[Int]()
    val before = spark.streams.active.map(_.id).toSet
    val nib = Nibbler.start(spark, NibblerConfig[Int](
      processor = (_, b) => { b.foreach(got.add); () },
      size = 40,
      receiverCapacity = 40,
      tickerDuration = 1.hour,
      processingTimeout = 5.seconds))
    val query = spark.streams.active.find(q => !before(q.id) && q.name.startsWith("nibbler-")).get
    queryJobs.queryId = query.id.toString
    var jobs = Map.empty[Long, Int]
    try {
      for (round <- 0 until 5) {
        (1 to 40).foreach(i => nib.push(round * 40 + i))
        nib.processAllAvailable()
      }
    } finally {
      nib.stop()
      jobs = queryJobs.finish()
    }
    assert(got.asScala.toVector == (1 to 200).toVector)
    val microBatches = query.recentProgress.count(_.numInputRows > 0)
    info(s"$microBatches micro-batches for 200 pushes; jobs by batch: $jobs")
    assert(microBatches > 0 && microBatches < 200, "pushes should share micro-batches")
    assert(jobs.isEmpty, s"the nibbler's query ran jobs $jobs")
  }

  test("receiver backpressure: a producer pushing capacity+1 items blocks until the query drains") {
    import java.util.concurrent.CountDownLatch
    val batches = new ConcurrentLinkedQueue[Seq[Int]]()
    // NOT started yet: nothing drains, so the channel semantics are
    // directly observable — capacity = size = 4 (the reference default,
    // make(chan T, cfg.Size))
    val nib = new Nibbler[Int](spark, NibblerConfig[Int](
      processor = (_, b) => { batches.add(b); () },
      size = 4,
      tickerDuration = 10.minutes,
      processingTimeout = 5.seconds))
    val accepted = new CountDownLatch(4)
    val finished = new CountDownLatch(1)
    val producer = new Thread(() => {
      (1 to 5).foreach { i => nib.push(i); accepted.countDown() }
      finished.countDown()
    }, "producer")
    producer.start()
    // the first `capacity` sends complete, the 5th BLOCKS
    assert(accepted.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "first 4 pushes must be accepted")
    assert(!finished.await(300, java.util.concurrent.TimeUnit.MILLISECONDS),
      "5th push must block while nothing drains")
    // starting the query drains the channel -> the producer unblocks
    nib.start()
    assert(finished.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "producer must unblock once the query drains")
    nib.processAllAvailable()
    nib.stop()
    assert(batches.asScala.toVector.flatten == (1 to 5).toVector,
      "all 5 items processed in order, none lost")
    // a producer blocked on a FULL channel when the nibbler stops sees
    // the closed receiver instead of hanging (close wakes senders)
    val nib2 = new Nibbler[Int](spark, NibblerConfig[Int](
      processor = (_, _) => (), size = 2, tickerDuration = 10.minutes,
      processingTimeout = 5.seconds))
    val threw = new CountDownLatch(1)
    val blocked = new Thread(() => {
      try nib2.pushAll(1 to 3)
      catch { case _: Nibbler.ReceiverClosedException => threw.countDown() }
    }, "blocked-producer")
    blocked.start()
    Thread.sleep(200) // let it fill capacity 2 and block on item 3
    nib2.stop()
    assert(threw.await(5, java.util.concurrent.TimeUnit.SECONDS),
      "blocked producer must observe the closed receiver on stop")
  }

  test("config sanitize applies the reference defaults") {
    val cfg = NibblerConfig[String](processor = (_, _) => ()).sanitized
    assert(cfg.size == 100)
    assert(cfg.tickerDuration == 1.minute)
    assert(cfg.processingTimeout == 1.second)
    // receiver capacity defaults to size — the reference's buffered
    // channel bound (make(chan T, cfg.Size), nibbler.go:184)
    assert(cfg.receiverCapacity == 100)
    assert(NibblerConfig[String](processor = (_, _) => (), size = 7)
      .sanitized.receiverCapacity == 7)
    assert(NibblerConfig[String](processor = (_, _) => (), size = 7,
      receiverCapacity = 500).sanitized.receiverCapacity == 500)
    val explicit = NibblerConfig[String](
      processor = (_, _) => (), size = 10,
      tickerDuration = 1.second, processingTimeout = 1.minute).sanitized
    assert(explicit.size == 10)
    assert(explicit.tickerDuration == 1.second)
    assert(explicit.processingTimeout == 1.minute)
  }

  test("validation rejects a missing processor") {
    intercept[Nibbler.ValidationException] {
      new Nibbler[String](spark, NibblerConfig[String](processor = null))
    }
  }

  // Port of the reference README's bulk-processing example
  // (README.md:126-160): bank account statements batched into a "db".
  test("bank statements example: all accounts land via bulk batches") {
    case class AccStatement(accountId: String, balance: Long)
    val db = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val totalBalance = new java.util.concurrent.atomic.AtomicLong()
    val nBulkCalls = new java.util.concurrent.atomic.AtomicInteger()
    implicit val enc: org.apache.spark.sql.Encoder[(String, Long)] =
      org.apache.spark.sql.Encoders.product[(String, Long)]
    val nib = Nibbler.start[(String, Long)](spark, NibblerConfig(
      processor = (_, batch) => {
        nBulkCalls.incrementAndGet()
        batch.foreach { case (id, bal) =>
          db.put(id, bal); totalBalance.addAndGet(bal); ()
        }
      },
      size = 10,
      tickerDuration = 500.millis,
      processingTimeout = 5.seconds))
    val expected = (0 until 100).map(i => (s"account_id_$i", (50000L / (i + 1))))
    expected.foreach(nib.push)
    nib.processAllAvailable()
    nib.stop()
    assert(db.size == 100)
    assert(totalBalance.get == expected.map(_._2).sum)
    // bulk semantics: far fewer processor calls than items
    assert(nBulkCalls.get <= 20, s"calls=${nBulkCalls.get}")
  }
}
