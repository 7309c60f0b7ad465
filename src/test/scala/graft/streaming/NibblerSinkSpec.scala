package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, classic}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec

/** What one `NibblerSink` micro-batch costs and releases: the Spark jobs it
  * runs around the processor, the cache the processor reads, how each
  * batch is classified, and what is left behind on success and failure.
  */
class NibblerSinkSpec extends SparkSpec {
  import spark.implicits._

  private def cacheLoaded(ds: Dataset[_]): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(ds.asInstanceOf[classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def rowsIn(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  test("each non-empty micro-batch runs one Spark job outside the processor, and the processor reads a loaded cache") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[Int]
    val loadedAtEntry = new ConcurrentLinkedQueue[Boolean]()
    val queryJobs = new QueryJobs(spark)
    var jobs = Map.empty[Long, Int]
    val q = NibblerSink.start[Int](src.toDS(), NibblerSink.Config[Int](
      processor = (_, ds) => { loadedAtEntry.add(cacheLoaded(ds)); () },
      size = 10, tickerDuration = 200.millis))
    queryJobs.queryId = q.id.toString
    try {
      for (round <- 0 until 3) {
        src.addData(1 to 4 + round * 5)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      jobs = queryJobs.finish()
    }
    assert(loadedAtEntry.asScala.toVector == Vector(true, true, true),
      s"cache loaded at processor entry: ${loadedAtEntry.asScala.toVector}")
    // the processor starts no job, so every job the query ran is the sink's
    assert(jobs.size == 3 && jobs.values.forall(_ == 1),
      s"jobs per micro-batch (batchId -> jobs): $jobs")
  }

  test("size - 1, size and size + 1 rows flush as Ticker, BatchFull, BatchFull; an empty micro-batch never reaches the processor") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val size = 5
    val src = MemoryStream[Int]
    val seen = new ConcurrentLinkedQueue[(Trigger, Long)]()
    val q = NibblerSink.start[Int](src.toDS(), NibblerSink.Config[Int](
      processor = (t, ds) => { seen.add((t, ds.count())); () },
      size = size, tickerDuration = 200.millis))
    try {
      for (n <- Seq(size - 1, size, size + 1)) {
        src.addData(1 to n)
        q.processAllAvailable()
      }
      src.addData()
      q.processAllAvailable()
      // the empty micro-batch ran: its offsets moved, and it read no row
      assert(q.recentProgress.exists(p => p.numInputRows == 0 &&
        p.sources.head.startOffset != null &&
        p.sources.head.startOffset != p.sources.head.endOffset),
        s"no empty micro-batch in ${q.recentProgress.map(_.json).mkString("\n")}")
    } finally q.stop()
    assert(seen.asScala.toVector == Vector(
      (Trigger.Ticker, 4L), (Trigger.BatchFull, 5L), (Trigger.BatchFull, 6L)))
  }

  test("the batch's cache is released on success, and the source is scanned once per micro-batch") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.catalog.clearCache()
    val src = MemoryStream[Int]
    val got = new ConcurrentLinkedQueue[Int]()
    val q = NibblerSink.start[Int](src.toDS(), NibblerSink.Config[Int](
      // two passes over the batch: each would rescan an uncached source
      processor = (_, ds) => { ds.collect().foreach(got.add); ds.collect(); () },
      size = 10, tickerDuration = 200.millis))
    try {
      src.addData(1 to 12)
      q.processAllAvailable()
      src.addData(13 to 15)
      q.processAllAvailable()
      assert(got.asScala.toVector.sorted == (1 to 15).toVector)
      assert(rowsIn(q) == 15L, s"numInputRows per progress: ${q.recentProgress.map(_.numInputRows).toVector}")
      assert(cacheEmpty, "a micro-batch's cache outlived its processor")
    } finally q.stop()
  }

  test("a failed micro-batch reaches onError with its rows and releases its cache, whether the query resumes or fails") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.catalog.clearCache()
    def failing(resume: Boolean, failed: ConcurrentLinkedQueue[Seq[Int]]) =
      NibblerSink.Config[Int](
        processor = (_, ds) =>
          if (ds.filter(_ < 0).count() > 0) throw new RuntimeException("bad batch"),
        size = 100, tickerDuration = 200.millis, resumeAfterErr = resume,
        onError = (ds, _) => { failed.add(ds.collect().toSeq.sorted); () })

    val resumed = new ConcurrentLinkedQueue[Seq[Int]]()
    val src1 = MemoryStream[Int]
    val q1 = NibblerSink.start[Int](src1.toDS(), failing(resume = true, resumed))
    try {
      src1.addData(-2, -1, 7)
      q1.processAllAvailable()
      src1.addData(8)
      q1.processAllAvailable()
      assert(q1.isActive)
      assert(resumed.asScala.toVector == Vector(Seq(-2, -1, 7)))
      assert(rowsIn(q1) == 4L)
      assert(cacheEmpty, "a failed micro-batch's cache outlived it (resumeAfterErr = true)")
    } finally q1.stop()

    val stopped = new ConcurrentLinkedQueue[Seq[Int]]()
    val src2 = MemoryStream[Int]
    val q2 = NibblerSink.start[Int](src2.toDS(), failing(resume = false, stopped))
    try {
      src2.addData(-3, 9)
      intercept[Exception] { q2.processAllAvailable() }
      assert(!q2.isActive)
      assert(stopped.asScala.toVector == Vector(Seq(-3, 9)))
      assert(cacheEmpty, "a failed micro-batch's cache outlived its query (resumeAfterErr = false)")
    } finally q2.stop()
  }
}
