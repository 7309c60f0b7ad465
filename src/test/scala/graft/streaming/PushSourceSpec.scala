package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.{DataFrame, WakeClock}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}

import graft.SparkSpec

/** The embedded nibbler's driver-local source and its trigger clock. */
class PushSourceSpec extends SparkSpec {
  import spark.implicits._

  /** The items of a batch: its plan is a streaming local relation. */
  private def items(batch: DataFrame): Seq[Int] = {
    assert(batch.isStreaming)
    batch.queryExecution.logical match {
      case LocalRelation(_, rows, true, _) => rows.map(_.getInt(0))
      case other => fail(s"not a streaming local relation: $other")
    }
  }

  test("getBatch returns exactly (start, end] in push order, for LongOffset and SerializedOffset bounds") {
    val src = new PushSource[Int](spark)
    assert(src.getOffset.isEmpty)
    (1 to 10).foreach(src.append)
    assert(src.getOffset.contains(LongOffset(9)))
    assert(items(src.getBatch(None, LongOffset(3))) == (1 to 4))
    assert(items(src.getBatch(Some(LongOffset(3)), LongOffset(6))) == (5 to 7))
    // offsets read back from the offset log arrive serialized
    assert(items(src.getBatch(Some(SerializedOffset(LongOffset(6).json)),
      SerializedOffset(LongOffset(9).json))) == (8 to 10))
    assert(items(src.getBatch(Some(LongOffset(2)), SerializedOffset("4"))) == Seq(4, 5))
    assert(items(src.getBatch(Some(LongOffset(9)), LongOffset(9))).isEmpty)
  }

  test("commit(end) drops the items up to end, and later batches still read by offset") {
    val src = new PushSource[Int](spark)
    (1 to 10).foreach(src.append)
    src.commit(LongOffset(3))
    assert(src.buffered == 6)
    src.commit(SerializedOffset("6"))
    assert(src.buffered == 3)
    assert(items(src.getBatch(Some(LongOffset(6)), LongOffset(9))) == (8 to 10))
    src.commit(LongOffset(9))
    assert(src.buffered == 0)
    assert(src.getOffset.contains(LongOffset(9)))
    src.append(11)
    assert(src.getOffset.contains(LongOffset(10)))
    assert(items(src.getBatch(Some(LongOffset(9)), LongOffset(10))) == Seq(11))
    intercept[IllegalArgumentException](src.getBatch(Some(LongOffset(5)), LongOffset(10)))
  }

  test("a wake that arrives before waitTillTime is not lost") {
    val clock = new WakeClock
    clock.wake()
    val t0 = System.nanoTime()
    clock.waitTillTime(clock.getTimeMillis() + 10000)
    assert((System.nanoTime() - t0) / 1000000L < 2000, "an earlier wake must end the next wait")
    // the wake was consumed: the wait after it runs to its target
    val target = clock.getTimeMillis() + 100
    assert(clock.waitTillTime(target) >= target)
  }

  test("a wake during waitTillTime ends the wait") {
    val clock = new WakeClock
    val returned = new CountDownLatch(1)
    val waiter = new Thread(() => {
      clock.waitTillTime(clock.getTimeMillis() + 10000)
      returned.countDown()
    }, "waiter")
    waiter.start()
    Thread.sleep(100)
    clock.wake()
    assert(returned.await(2, TimeUnit.SECONDS))
  }

  test("with no wake, waitTillTime returns at its target") {
    val clock = new WakeClock
    val target = clock.getTimeMillis() + 200
    val now = clock.waitTillTime(target)
    assert(now >= target && now < target + 1000, s"returned at $now for target $target")
  }

  test("an interrupt during waitTillTime throws InterruptedException") {
    val clock = new WakeClock
    val interrupted = new CountDownLatch(1)
    val waiter = new Thread(() => {
      try clock.waitTillTime(clock.getTimeMillis() + 10000)
      catch { case _: InterruptedException => interrupted.countDown() }
    }, "waiter")
    waiter.start()
    Thread.sleep(100)
    waiter.interrupt()
    assert(interrupted.await(2, TimeUnit.SECONDS))
  }
}
