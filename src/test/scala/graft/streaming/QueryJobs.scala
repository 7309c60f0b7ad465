package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs one streaming query starts, by the micro-batch id
  * Structured Streaming tags them with. Set `queryId` once the query has
  * started; jobs posted before that are not counted. A job outside any
  * micro-batch counts under id -1.
  */
final class QueryJobs(spark: SparkSession) extends SparkListener {
  @volatile var queryId: String = null
  private val batchIds = new ConcurrentLinkedQueue[Long]()
  private val caughtUp = new CountDownLatch(1)
  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      if (queryId != null && p.getProperty("sql.streaming.queryId") == queryId)
        batchIds.add(Option(p.getProperty("streaming.sql.batchId")).fold(-1L)(_.toLong))
      if (p.getProperty("graft.test.marker") != null) caughtUp.countDown()
    }

  /** Stops listening and returns the number of jobs per micro-batch id. */
  def finish(): Map[Long, Int] = {
    // the listener bus delivers in order: once a later job is seen,
    // every job of the query has been counted
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.marker", "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("graft.test.marker", null)
    try assert(caughtUp.await(10, TimeUnit.SECONDS), "listener bus did not catch up")
    finally sc.removeSparkListener(this)
    batchIds.asScala.groupBy(identity).map { case (b, js) => b -> js.size }
  }
}
