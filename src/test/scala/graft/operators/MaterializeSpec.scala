package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.{SparkEntry, SparkSpec}

/** `Materialize` is the one way a query materializes a reused frame: built
  * normally, a query checkpoints and pins no cache; built under
  * `Materialize.planOnly`, it runs no checkpoint job and its plan has no
  * checkpoint scan, and both builds return the same rows.
  */
class MaterializeSpec extends SparkSpec {

  private val converted = Seq(
    "q20_order_lineitem_cohort", "q31_cube_totals", "q77_ts_seasonal_anomalies",
    "p23_domain_pagerank", "p24_domain_trustrank", "p26_rank_weighted_sample",
    "p30_domain_hits", "t21_bm25_topk", "d3_dedup_ngram_jaccard")

  /** `body`'s result, and `onJob` applied to every job `body` started. */
  private def withJobs[T](onJob: SparkListenerJobStart => Unit)(body: => T): T = {
    val caughtUp = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.marker") != null))
          caughtUp.countDown()
        else onJob(e)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      // the listener bus delivers in order: once the marker job is seen,
      // every job `body` started has been seen
      sc.setLocalProperty("graft.test.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(caughtUp.await(10, TimeUnit.SECONDS), "listener bus did not catch up")
      out
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the short call sites ("localCheckpoint at
    * Materialize.scala:28") of the stages of its jobs. A long call site
    * would name every frame of the stack, `planOnly` included.
    */
  private def callSites[T](body: => T): (T, Seq[String]) = {
    val sites = new ConcurrentLinkedQueue[String]()
    val out = withJobs(e => e.stageInfos.foreach(st => sites.add(st.name)))(body)
    (out, sites.asScala.toSeq)
  }

  private def checkpointScans(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.analyzed.collectLeaves().collect { case l: LogicalRDD => l }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  converted.foreach { name =>
    test(s"$name: pins no cache when built, runs no checkpoint job under planOnly, same rows") {
      val fn = SparkEntry.queries(name)
      spark.catalog.clearCache()
      try {
        val (built, builtJobs) = callSites(fn(spark, sfDir))
        assert(spark.sharedState.cacheManager.isEmpty, s"$name leaves a cached frame behind")
        // both controls must hold, or the planOnly checks below show nothing
        assert(checkpointScans(built).nonEmpty, s"$name's normal build has no checkpoint scan")
        assert(builtJobs.exists(_.contains("Materialize.scala")),
          s"$name's checkpoint job is not attributed to Materialize.scala")
        val (planned, plannedJobs) = callSites(Materialize.planOnly(fn(spark, sfDir)))
        assert(checkpointScans(planned).isEmpty, s"$name under planOnly still scans a checkpoint")
        val stray = plannedJobs.filter(_.contains("Materialize.scala"))
        assert(stray.isEmpty, s"$name under planOnly ran a checkpoint job: ${stray.mkString("; ")}")
        assert(rows(planned) == rows(built), s"$name: planOnly and normal builds disagree")
      } finally spark.catalog.clearCache()
    }
  }

  test("a d2 frame built under planOnly never enters or reads the pair-graph view cache") {
    val d2 = SparkEntry.queries("d2_dedup_minhash_lsh")
    Dedup.clearViews()
    try {
      val planned = Materialize.planOnly(d2(spark, sfDir))
      assert(checkpointScans(planned).isEmpty)
      val built = d2(spark, sfDir)
      assert(checkpointScans(built).nonEmpty,
        "a production d2 call got the lazy frame a planOnly build left in the view cache")
      assert(checkpointScans(Materialize.planOnly(d2(spark, sfDir))).isEmpty,
        "a planOnly d2 build read the materialized view from the cache")
      assert(rows(built) == rows(planned))
    } finally {
      Dedup.clearViews()
      spark.catalog.clearCache()
    }
  }

  test("q55's window fold frees each superseded state without the truncated-lineage warning") {
    val logCtx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val rootCfg = logCtx.getConfiguration.getRootLogger
    val captured = new ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-checkpoint-capture", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    rootCfg.addAppender(capture, org.apache.logging.log4j.Level.WARN, null)
    logCtx.updateLoggers()
    def warned = captured.asScala.exists(_.contains("was locally checkpointed"))
    val sc = spark.sparkContext
    try {
      // control: RDD.unpersist on a checkpointed frame does warn
      spark.range(3).localCheckpoint(true).queryExecution.analyzed match {
        case l: LogicalRDD => l.rdd.unpersist()
        case p => fail(s"localCheckpoint returned no checkpoint scan: $p")
      }
      assert(warned, "the log capture does not see RDD.unpersist's warning")
      captured.clear()
      spark.catalog.clearCache()
      val before = sc.getPersistentRDDs.keySet
      val peak = new AtomicInteger(0)
      val jobs = new AtomicInteger(0)
      val out = withJobs { _ =>
        jobs.incrementAndGet()
        peak.accumulateAndGet((sc.getPersistentRDDs.keySet -- before).size, math.max)
      }(SparkEntry.queries("q55_ewma_windowed")(spark, sfDir))
      assert(jobs.get > 8, s"q55 ran only ${jobs.get} jobs, too few windows to show a leak")
      // the shared window-shard cache, the previous state and the state
      // being checkpointed
      assert(peak.get <= 3, s"${peak.get} persisted RDDs during q55's fold")
      assert((sc.getPersistentRDDs.keySet -- before).size <= 1,
        "q55 keeps more than its final state persisted")
      assert(out.count() > 0)
      assert(!warned, s"q55 logged: ${captured.asScala.mkString("; ")}")
    } finally {
      rootCfg.removeAppender("graft-checkpoint-capture")
      logCtx.updateLoggers()
      capture.stop()
      spark.catalog.clearCache()
    }
  }
}
