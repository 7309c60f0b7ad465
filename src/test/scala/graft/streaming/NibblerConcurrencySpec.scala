package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty

import graft.SparkSpec

/** Property test of the embedded nibbler's contract under concurrency:
  * two producers push random-sized runs into one nibbler with a random
  * `size` and `receiverCapacity`, while the processor fails on some slices,
  * with `resumeAfterErr` on or off. Some cases call `stop()` while the
  * producers are still pushing.
  */
class NibblerConcurrencySpec extends SparkSpec {
  import spark.implicits._
  import NibblerConcurrencySpec._

  /** Items are `producer * Stride + index`: each producer's own sequence. */
  private val Stride = 1000000L

  private val caseGen: Gen[Case] = for {
    size <- Gen.choose(1, 12)
    capacity <- Gen.choose(1, 40)
    runs <- Gen.listOfN(2, Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.choose(1, 25))))
    failEvery <- Gen.option(Gen.choose(5, 60))
    resume <- Gen.oneOf(true, false)
    tickMs <- Gen.choose(20, 200)
    stopAfterMs <- Gen.option(Gen.choose(0, 100))
  } yield Case(size, capacity, runs, failEvery, resume, tickMs, stopAfterMs)

  /** What the processor and `onError` saw, in the order they saw it. */
  private final case class Event(ok: Boolean, slice: Seq[Long])

  private def run(c: Case): Prop = {
    val events = new ConcurrentLinkedQueue[Event]()
    val starts = new ConcurrentLinkedQueue[java.lang.Long]()
    val producerErrors = new ConcurrentLinkedQueue[Throwable]()
    // a slice fails when it holds an item whose index is a multiple of failEvery
    def poisoned(slice: Seq[Long]) =
      c.failEvery.exists(k => slice.exists(i => (i % Stride) % k == k - 1))
    val nib = Nibbler.start(spark, NibblerConfig[Long](
      processor = (_, slice) => {
        starts.add(System.nanoTime())
        if (poisoned(slice)) throw new IllegalStateException("injected")
        events.add(Event(ok = true, slice)); ()
      },
      size = c.size,
      receiverCapacity = c.capacity,
      tickerDuration = c.tickMs.millis,
      processingTimeout = 30.seconds,
      resumeAfterErr = c.resume,
      onError = (slice, _) => { events.add(Event(ok = false, slice)); () }))
    val producers = c.runs.zipWithIndex.map { case (sizes, p) =>
      new Thread(() => {
        var next = 0L
        try sizes.foreach { n =>
          nib.pushAll((next until next + n).map(p * Stride + _))
          next += n
        } catch {
          case _: Nibbler.ReceiverClosedException => ()
          case NonFatal(e) => producerErrors.add(e)
        }
      }, s"producer-$p")
    }
    producers.foreach(_.start())
    val stoppedAt = c.stopAfterMs match {
      case Some(ms) =>
        Thread.sleep(ms)
        nib.stop()
        val t = System.nanoTime()
        producers.foreach(_.join())
        t
      case None =>
        producers.foreach(_.join())
        nib.stop()
        System.nanoTime()
    }

    val seen = events.asScala.toVector
    val delivered = seen.flatMap(_.slice)
    val failures = seen.count(!_.ok)
    val stoppedByFailure = failures > 0 && !c.resume
    val perProducer = c.runs.indices.map(p => delivered.filter(_ / Stride == p).map(_ % Stride))
    val pushed = c.runs.map(_.sum.toLong)
    Prop.all(
      // each producer's items arrive once each, in push order, with no gap
      perProducer.forall(got => got == (0L until got.length)) :| "order kept, at most once",
      // with nothing stopping the nibbler, every pushed item arrives; items
      // pushed while stop() runs may be dropped
      (stoppedByFailure || c.stopAfterMs.isDefined || perProducer.map(_.length.toLong) == pushed) :|
        "every item exactly once",
      producerErrors.isEmpty :| s"producers end by finishing or ReceiverClosedException: $producerErrors",
      starts.asScala.forall(_ <= stoppedAt) :| "no processor invocation starts after stop() returns",
      seen.forall(_.slice.length <= c.size) :| "no slice larger than size",
      // a non-resumable failure is the last thing the nibbler processes
      (!stoppedByFailure || (failures == 1 && !seen.last.ok)) :| "nothing after a stopping failure"
    ) :| s"events: ${seen.map(e => (e.ok, e.slice.length))}"
  }

  test("every pushed item reaches the processor or onError once, in order, in size-capped slices") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      // bounded: a hang fails the case instead of stalling the suite
      Await.result(Future(run(c)), 60.seconds)
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
  }
}

object NibblerConcurrencySpec {
  /** One randomized run: `runs(p)` are producer p's pushAll sizes; when
    * `stopAfterMs` is set, `stop()` is called that long after the
    * producers start, without waiting for them.
    */
  final case class Case(size: Int, capacity: Int, runs: List[List[Int]],
      failEvery: Option[Int], resume: Boolean, tickMs: Int, stopAfterMs: Option[Int])
}
