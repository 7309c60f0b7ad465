package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class EventsPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("streaming tumbling agg over a file source matches the batch answer") {
    // Stage the events table as a streaming parquet directory.
    val batchEvents = Tables.events(spark, sfDir)
    val dir = Files.createTempDirectory("graft-stream").toString
    batchEvents.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream
      .schema(batchEvents.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

    val q = EventsPipeline.tumblingAgg(stream)
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_test")
        .select("minute_start", "event_type", "n_events")
        .orderBy("minute_start", "event_type").collect()
      val batch = EventsPipeline.tumblingAgg(batchEvents)
        .select("minute_start", "event_type", "n_events")
        .orderBy("minute_start", "event_type").collect()
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming windowed approx-distinct equals the batch estimate regardless of micro-batch slicing") {
    val batchEvents = Tables.events(spark, sfDir)
    val dir = Files.createTempDirectory("graft-hllstream").toString
    // several files => several micro-batches => windows assembled from
    // partial sketches; HLL merges are order-independent so the result
    // must still be bit-equal to the single-pass batch estimate
    batchEvents.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventsPipeline.approxDistinctAgg(stream)
      .writeStream.format("memory").queryName("hll_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hll_stream_test")
        .orderBy("window_start").collect()
      val batch = EventsPipeline.approxDistinctAgg(batchEvents)
        .orderBy("window_start").collect()
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("streaming KMV roll-up (A34): sketches are bit-equal to batch regardless of micro-batch slicing") {
    // sf0.01 events (150 distinct users per type) with a window wide
    // enough that per-(window,type) cardinality exceeds k=16 (the
    // aggregate's floor): buffers SATURATE, so the cross-micro-batch
    // state merge actually exercises the keep-k-smallest rule (an
    // unsaturated run would pass vacuously); 4 files => 4 micro-batches
    // => every open window's state merges partial sketches from
    // different batches
    val batchEvents = Tables.events(spark, "/root/testdata/sf0.01")
    val dir = Files.createTempDirectory("graft-kmvstream").toString
    val K = 16
    batchEvents.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventsPipeline.kmvWindowedAgg(stream, k = K, windowDur = "30 days")
      .writeStream.format("memory").queryName("kmv_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("kmv_stream_test")
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getSeq[Long](2).toSeq, r.getLong(3)))
      val batch = EventsPipeline.kmvWindowedAgg(batchEvents, k = K, windowDur = "30 days")
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getSeq[Long](2).toSeq, r.getLong(3)))
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq,
        "streamed KMV sketches diverged from the single-pass batch sketches")
      // non-vacuous: the saturated regime was actually reached
      assert(streamed.exists(_._3.length == K),
        s"no sketch saturated at k=$K — the merge rule was never exercised")
    } finally q.stop()
  }

  test("streaming MRL windowed quantiles (A51): per-window estimates hold the rank bound over micro-batch slicing") {
    // unlike A34/A43 the MRL sketch is NOT bit-equal across slicings
    // (compaction survivors depend on merge order) — its contract is the
    // DETERMINISTIC rank bound L*n/k, which holds under ANY merge order;
    // the spec checks every emitted per-(window, type) estimate against
    // the exact sorted values at that bound
    val batchEvents = Tables.events(spark, "/root/testdata/sf0.01")
    val dir = Files.createTempDirectory("graft-mrlstream").toString
    val K = 256
    batchEvents.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventsPipeline.mrlWindowedQuantiles(stream, k = K, windowDur = "30 days")
      .writeStream.format("memory").queryName("mrl_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("mrl_stream_test").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) ->
          ((r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
      assert(streamed.nonEmpty)
      val exact = batchEvents.filter(col("value").isNotNull)
        .groupBy(org.apache.spark.sql.functions.window(col("ts"), "30 days").as("win"),
          col("event_type"))
        .agg(collect_list(col("value")).as("vs"))
        .collect().map(r => (r.getStruct(0).getTimestamp(0), r.getString(1)) ->
          r.getSeq[Double](2).toArray.sorted).toMap
      assert(streamed.keySet == exact.keySet)
      streamed.foreach { case (key, (n, med, p90)) =>
        val vs = exact(key)
        assert(n == vs.length, s"$key count $n vs ${vs.length}")
        val levels = math.max(1,
          (math.log(math.max(2.0, vs.length.toDouble / K)) / math.log(2.0)).ceil.toInt + 1)
        val bound = (levels.toLong * vs.length) / K + 1
        Seq((med, 0.5), (p90, 0.9)).foreach { case (est, qq) =>
          val rank = vs.count(_ <= est)
          val target = math.max(1L, math.ceil(qq * vs.length).toLong)
          assert(math.abs(rank - target) <= bound,
            s"$key q=$qq: rank $rank vs target $target exceeds bound $bound (n=${vs.length})")
        }
      }
    } finally q.stop()
  }

  test("streaming HLL windowed distinct (A43): registers are bit-equal to batch regardless of micro-batch slicing") {
    // sf0.01 events (150 distinct users per type): the p=7 register
    // array is deterministic given the rows, so streamed per-window
    // sketches must equal the batch pass BIT-FOR-BIT; 4 files => 4
    // micro-batches => every open (window, type) state max-merges
    // partial registers from different batches
    val batchEvents = Tables.events(spark, "/root/testdata/sf0.01")
    val dir = Files.createTempDirectory("graft-hllstream").toString
    batchEvents.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batchEvents.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventsPipeline.hllWindowedDistinct(stream, windowDur = "30 days")
      .writeStream.format("memory").queryName("hll_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hll_stream_test")
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getSeq[Long](2).toSeq, r.getLong(3)))
      val batch = EventsPipeline.hllWindowedDistinct(batchEvents, windowDur = "30 days")
        .orderBy("window_start", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getSeq[Long](2).toSeq, r.getLong(3)))
      assert(streamed.nonEmpty)
      assert(streamed.toSeq == batch.toSeq,
        "streamed HLL registers diverged from the single-pass batch registers")
      // non-vacuous: registers actually populated and the estimate is in
      // the x15 error band around the exact 150 per type
      assert(streamed.forall(_._3.exists(_ > 0L)))
      assert(streamed.forall(r => math.abs(r._4 - 150L) <= 45L),
        s"estimates out of band: ${streamed.map(_._4).toSeq}")
    } finally q.stop()
  }

  test("streaming corpus card (A35) is bit-equal to batch regardless of micro-batch slicing") {
    // documents with a deterministic ingest ts spreading the corpus over
    // ~9 one-minute windows; 4 files => 4 micro-batches => every open
    // (window, lang, source) card merges partial buffers across batches
    val base = 1700000000000000L // micros
    val docs = Tables.documents(spark, sfDir)
      .withColumn("ts", timestamp_micros(lit(base) + col("doc_id") * 1000000L))
    val dir = Files.createTempDirectory("graft-cardstream").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventsPipeline.corpusCardStream(stream)
      .writeStream.format("memory").queryName("card_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val key = Seq("window_start", "lang", "source")
      val streamed = spark.table("card_stream_test")
        .orderBy(key.head, key.tail: _*).collect()
      val batch = EventsPipeline.corpusCardStream(docs)
        .orderBy(key.head, key.tail: _*).collect()
      assert(streamed.nonEmpty)
      assert(streamed.length > spark.table("card_stream_test")
        .select("lang", "source").distinct().count(),
        "ts must spread the corpus over multiple windows — single-window would merge trivially")
      assert(streamed.toSeq == batch.toSeq,
        "streamed corpus card diverged from the batch card")
    } finally q.stop()
  }

  test("streaming sliding agg matches the batch answer and doubles event coverage") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[EventsPipeline.Event]
    def ev(id: Long, minute: Long, value: Double) =
      EventsPipeline.Event(id, new Timestamp(minute * 60000L), 1L, "click", value)
    val data = Seq(ev(1, 1000, 1.0), ev(2, 1003, 2.0), ev(3, 1007, 4.0))
    val q = EventsPipeline.slidingAgg(src.toDS().toDF())
      .writeStream.format("memory").queryName("sliding_test")
      .outputMode("complete").start()
    try {
      src.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("sliding_test")
        .orderBy("window_start", "event_type").collect()
      val batch = EventsPipeline.slidingAgg(data.toDF())
        .orderBy("window_start", "event_type").collect()
      assert(streamed.toSeq == batch.toSeq)
      // every event is in exactly duration/slide = 2 windows
      assert(streamed.map(_.getLong(2)).sum == 2L * data.length)
    } finally q.stop()
  }

  test("sessionTracker counts gap-separated sessions per user") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[EventsPipeline.Event]
    def ev(id: Long, user: Long, minute: Long) =
      EventsPipeline.Event(id, new Timestamp(minute * 60000L), user, "click", 1.0)

    val q = EventsPipeline.sessionTracker(source.toDS())
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("update").start()
    try {
      // user 1: two events 5 min apart (1 session) then one 60 min later
      // (2nd session); user 2: one event.
      source.addData(ev(1, 1, 0), ev(2, 1, 5), ev(3, 1, 65), ev(4, 2, 0))
      q.processAllAvailable()
      val out = spark.table("sessions_test")
        .orderBy("user_id").as[EventsPipeline.SessionUpdate].collect()
      assert(out.toSeq == Seq(
        EventsPipeline.SessionUpdate(1, 2, 3),
        EventsPipeline.SessionUpdate(2, 1, 1)))
      // Late batch continues from state: event 10 min after user 1's last.
      // Order by the monotone n_events, not sink insertion order.
      source.addData(ev(5, 1, 75))
      q.processAllAvailable()
      val upd = spark.table("sessions_test")
        .filter($"user_id" === 1).orderBy($"n_events")
        .as[EventsPipeline.SessionUpdate].collect()
      assert(upd.last == EventsPipeline.SessionUpdate(1, 2, 4))
    } finally q.stop()
  }

  test("transformWithState session tracker matches mapGroupsWithState answers") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // state v2 runs only on the RocksDB provider
    withConf(EventsPipeline.RocksDBStateStore) {
      val source = MemoryStream[EventsPipeline.Event]
      def ev(id: Long, user: Long, minute: Long) =
        EventsPipeline.Event(id, new Timestamp(minute * 60000L), user, "click", 1.0)
      val q = EventsPipeline.sessionTrackerTws(source.toDS())
        .writeStream.format("memory").queryName("tws_sessions_test")
        .outputMode("update").start()
      try {
        // identical scenario to the A15 sessionTracker spec: the v2 API must
        // produce the same per-user session counts
        source.addData(ev(1, 1, 0), ev(2, 1, 5), ev(3, 1, 65), ev(4, 2, 0))
        q.processAllAvailable()
        val out = spark.table("tws_sessions_test")
          .orderBy("user_id").as[EventsPipeline.SessionUpdate].collect()
        assert(out.toSeq == Seq(
          EventsPipeline.SessionUpdate(1, 2, 3),
          EventsPipeline.SessionUpdate(2, 1, 1)))
        // ValueState persists across micro-batches: 10 min after user 1's
        // last event -> same session, counts continue from state. n_events
        // grows monotonically, so the max row IS the latest update (no
        // reliance on the memory sink preserving batch order).
        source.addData(ev(5, 1, 75))
        q.processAllAvailable()
        val upd = spark.table("tws_sessions_test")
          .filter($"user_id" === 1).orderBy($"n_events")
          .as[EventsPipeline.SessionUpdate].collect()
        assert(upd.last == EventsPipeline.SessionUpdate(1, 2, 4))
        // ...and the gap is measured against that carried state: an event
        // 65 min after the previous batch's last one opens a new session
        source.addData(ev(6, 1, 140))
        q.processAllAvailable()
        val split = spark.table("tws_sessions_test")
          .filter($"user_id" === 1).orderBy($"n_events")
          .as[EventsPipeline.SessionUpdate].collect()
        assert(split.last == EventsPipeline.SessionUpdate(1, 3, 5))
      } finally q.stop()
    }
  }

  test("streaming IQR gate (A49): published fences flag exactly the rows batch q54 counts") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val events = Tables.events(spark, sf)
    // fences published by the batch pass — the SAME shared definition
    val fences = graft.operators.Relational.iqrFences(events)
      .collect().map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(5))).toMap
    val rows = events.select("event_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val src = MemoryStream[(Long, String, Double)]
    val q = EventsPipeline.iqrGateStream(src.toDS(), fences)
      .writeStream.format("memory").queryName("iqr_gate_test")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val flagged = spark.table("iqr_gate_test")
        .filter($"is_outlier").groupBy($"event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.SparkEntry.queries("q54_iqr_outliers")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
      val expected = batch.filter(_._2 > 0)
      assert(flagged == expected,
        s"streamed outlier totals $flagged != batch q54 $expected")
      assert(spark.table("iqr_gate_test").count() == rows.length)
      // unknown enum values pass the gate (schema governance, not outliers)
      val extra = EventsPipeline.iqrGateStream(
        Seq((999L, "brand_new_type", 1e12)).toDS(), fences)
      // batch-evaluate the stateless gate directly (it is a plain map)
      assert(!extra.collect().head.is_outlier)
    } finally q.stop()
  }

  test("streaming EWMA (A48): final per-user state is bit-identical to batch q53 across slicings") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      val sf = "/root/testdata/sf0.001"
      // in-order feed (the declared log-replay regime): real corpus events
      // sorted by event_id, sliced into 4 micro-batches
      val rows = Tables.events(spark, sf)
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val src = MemoryStream[(Long, Long, Double)]
      val q = EventsPipeline.ewmaTws(src.toDS())
        .writeStream.format("memory").queryName("ewma_tws_test")
        .outputMode("update").start()
      try {
        rows.grouped(math.max(1, rows.length / 4)).foreach { chunk =>
          src.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        // n grows monotonically per user, so max-n row IS the final state
        val got = spark.table("ewma_tws_test")
          .groupBy($"user_id")
          .agg(max(struct($"n_events", $"ewma")).as("f"))
          .select($"user_id", $"f.n_events", graft.operators.Num.r4($"f.ewma").as("ewma"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
        val batch = graft.SparkEntry.queries("q53_ewma_by_user")(spark, sf)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
        assert(got == batch, "streaming EWMA final state diverges from batch q53")
        assert(batch.nonEmpty && batch.values.exists(_._1 > 1))
      } finally q.stop()
    }
  }

  test("streaming ts windows (A56): streamed scores are bit-identical to batch q56 across slicings") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      val sf = "/root/testdata/sf0.001"
      val query = (0 until 8).map(i => ((7 * i) % 13).toDouble)
      // in-order feed (the declared log-replay regime), 5 micro-batches so
      // windows SPAN batch boundaries — the state carry this twin exists for
      val rows = Tables.events(spark, sf)
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val src = MemoryStream[(Long, Long, Double)]
      val q = EventsPipeline.tsWindowsTws(src.toDS(), query, stride = 4)
        .writeStream.format("memory").queryName("tswin_tws_test")
        .outputMode("update").start()
      try {
        rows.grouped(math.max(1, rows.length / 5)).foreach { chunk =>
          src.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        val full = spark.table("tswin_tws_test").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        // every window emits exactly once (stateful completion, no dups)
        assert(full.length == full.map(r => (r._1, r._2)).distinct.length)
        val got = full.map(r => (r._1, r._2, r._3))
        val batch = graft.operators.Relational.tsSubsequenceScores(
            Tables.events(spark, sf), query, stride = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(got.toSet == batch.toSet,
          s"streamed=${got.length} batch=${batch.length}; " +
            s"missing=${(batch.toSet -- got.toSet).take(3)} " +
            s"extra=${(got.toSet -- batch.toSet).take(3)}")
        assert(batch.nonEmpty, "fixture must produce complete windows")
        // the z-normalized score (the UCR live-matcher form, r12 verdict
        // item 5): bit-equal to q57's pre-top-k frame from the SAME state
        val gotZ = full.map(r => (r._1, r._2, r._4))
        val batchZ = graft.operators.Relational.tsZnormSubsequenceScores(
            Tables.events(spark, sf), query, stride = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(gotZ.toSet == batchZ.toSet,
          s"z-norm diverged: missing=${(batchZ.toSet -- gotZ.toSet).take(3)} " +
            s"extra=${(gotZ.toSet -- batchZ.toSet).take(3)}")
      } finally q.stop()
    }
  }

  test("streaming left matrix profile (A57): streamed rows bit-identical to batch q62 across slicings; state bounded") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      def twin(rows: Seq[(Long, Long, Double)], L: Int, horizon: Int, chunk: Int,
          name: String): Array[(Long, Long, Long, Double)] = {
        val src = MemoryStream[(Long, Long, Double)]
        val q = EventsPipeline.tsLeftProfileTws(src.toDS(), L = L, stride = 4,
            horizon = horizon)
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        val got =
          try {
            rows.grouped(chunk).foreach { c =>
              src.addData(c: _*)
              q.processAllAvailable()
            }
            spark.table(name).collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          } finally q.stop()
        // append-only: each window emits at most once, and its left-NN is
        // final at completion (the property that makes this the
        // STREAMABLE profile — no retractions to reconcile)
        assert(got.length == got.map(r => (r._1, r._2)).distinct.length)
        val batch = graft.operators.Relational.tsLeftProfile(
            rows.toDF("event_id", "user_id", "value"), L = L, stride = 4,
            horizon = horizon)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        assert(batch.nonEmpty && got.toSet == batch.toSet,
          s"streamed=${got.length} batch=${batch.length}; " +
            s"missing=${(batch.toSet -- got.toSet).take(3)} " +
            s"extra=${(got.toSet -- batch.toSet).take(3)}")
        got
      }
      val rows = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      twin(rows, L = 8, horizon = 40, math.max(1, rows.length / 5), "tsleft_tws_test")
      // user 7: calm, calm, SPIKE, calm, calm. The spike window (start 9)
      // alerts the moment it completes: its left-NN distance towers over
      // the calm-vs-calm ~0 floor. Its successor (start 13) has calm
      // windows among its predecessors, so calm wins and it stays quiet.
      val calm = Seq(1.0, 2.0, 1.0, 2.0)
      val spiked = (calm ++ calm ++ Seq(90.0, -80.0, 70.0, -60.0) ++ calm ++ calm)
        .zipWithIndex.map { case (v, i) => ((i + 1).toLong, 7L, v) }
      val alerts = twin(spiked, L = 4, horizon = 20, 5, "tsleft_tws_spike")
        .filter(_._4 > 100.0).map(_._2).toSet
      assert(alerts == Set(9L), s"alerts=$alerts")
    }
  }

  test("streaming FLOSS (A62): one-sided CAC emissions bit-identical to batch q65 across slicings") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      val sf = "/root/testdata/sf0.001"
      val rows = Tables.events(spark, sf)
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // q65's batch frame: the trusted interior IS the finalization set, so
      // the streamed emissions must equal it row-for-row, not just overlap
      val batch = graft.operators.Relational.tsFlossCac1(
          Tables.events(spark, sf), L = 8, stride = 4, horizon = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(batch.nonEmpty, "fixture must produce trusted boundaries")
      def runSliced(chunks: Int, name: String): Array[(Long, Long, Long, Double)] = {
        val src = MemoryStream[(Long, Long, Double)]
        val q = EventsPipeline.tsFlossCac1Tws(src.toDS(), L = 8, stride = 4,
            horizon = 16)
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          rows.grouped(math.max(1, rows.length / chunks)).foreach { chunk =>
            src.addData(chunk.toIndexedSeq: _*)
            q.processAllAvailable()
          }
          spark.table(name).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        } finally q.stop()
      }
      Seq(5 -> "tsfloss_tws_5", 13 -> "tsfloss_tws_13").foreach {
        case (chunks, name) =>
          val got = runSliced(chunks, name)
          // each boundary finalizes exactly once — append-only, no dups
          assert(got.length == got.map(r => (r._1, r._2)).distinct.length,
            s"duplicate boundary emissions at $chunks slices")
          assert(got.toSet == batch.toSet,
            s"[$chunks slices] streamed=${got.length} batch=${batch.length}; " +
              s"missing=${(batch.toSet -- got.toSet).take(3)} " +
              s"extra=${(got.toSet -- batch.toSet).take(3)}")
      }
    }
  }

  test("streaming regime alerts (A63): online-decidable extraction bit-identical to batch q67 across slicings") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      def runSliced(rows: Seq[(Long, Long, Double)], chunk: Int, threshold: Double,
          name: String): Array[(Long, Long, Long, Double)] = {
        val src = MemoryStream[(Long, Long, Double)]
        val q = EventsPipeline.tsFlossAlertsTws(src.toDS(), L = 8, stride = 4,
            horizon = 16, threshold = threshold, zone = 3)
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          rows.grouped(chunk).foreach { c =>
            src.addData(c: _*)
            q.processAllAvailable()
          }
          spark.table(name).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        } finally q.stop()
      }
      // the batch twin restricts itself to ONLINE-DECIDABLE rows (full
      // following zone inside the trusted interior), so equality is exact
      def twin(rows: Seq[(Long, Long, Double)], threshold: Double, chunks: Seq[Int],
          name: String): Array[(Long, Long, Long, Double)] = {
        val batch = graft.operators.Relational.tsFlossRegimeBoundaries(
            rows.toDF("event_id", "user_id", "value"), L = 8, stride = 4,
            horizon = 16, threshold = threshold, zone = 3)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        assert(batch.nonEmpty, s"$name: fixture must produce alert rows")
        chunks.foreach { chunk =>
          val got = runSliced(rows, chunk, threshold, s"${name}_$chunk")
          assert(got.length == got.map(r => (r._1, r._2)).distinct.length,
            s"duplicate alert emissions at $chunk rows per micro-batch")
          assert(got.toSet == batch.toSet,
            s"[$chunk rows per micro-batch] streamed=${got.length} batch=${batch.length}; " +
              s"missing=${(batch.toSet -- got.toSet).take(3)} " +
              s"extra=${(got.toSet -- batch.toSet).take(3)}")
        }
        batch
      }
      val rows = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      twin(rows, threshold = 0.8,
        Seq(5, 13).map(slices => math.max(1, rows.length / slices)), "tsalert_tws")
      // a planted mid-stream regime change: a period-3 sawtooth flips to
      // flat at position 80, so arcs stop crossing there and the alert
      // lands on the window index (80 - L + 1 - 1) / stride = 18
      val flip = (1 to 160).map(t => (t.toLong, 1L, if (t <= 80) (t % 3).toDouble else 9.0))
      val planted = twin(flip, threshold = 0.7, Seq(40), "tsalert_tws_flip")
      assert(planted.exists(a => math.abs(a._2 - 18L) <= 2),
        s"no alert at the planted flip: ${planted.toSeq}")
    }
  }

  test("streaming domain-mix monitor (A64): running quality stats -> shared MW fold == batch p27 bit-exactly") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val src = MemoryStream[(Long, String, String, String)]
    // the BATCH aggregate attached to a stream: update-mode running
    // per-domain totals (the A59 global-statistic class) — state is one
    // (count, sum) pair per domain, |lang x source|-bounded
    val q = graft.operators.Pipeline.domainQualityStats(
        src.toDS().toDF("doc_id", "lang", "source", "text"))
      .writeStream.format("memory").queryName("domain_mix_stream")
      .outputMode("complete").start()
    try {
      docs.grouped(math.max(1, docs.length / 4)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamedStats = spark.table("domain_mix_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // the consumer derives weights from the streamed sufficient
      // statistic with the SHARED fold — bit-equal to the batch entry
      val streamedWeights = graft.operators.Pipeline.doremiFromStats(
        streamedStats, eta = 0.5, smooth = 0.1, rounds = 5)
      val batch = graft.SparkEntry.queries("p27_doremi_weights")(spark, sfDir)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
      assert(batch.nonEmpty && streamedWeights == batch,
        s"streamed mixture weights diverge from batch p27: " +
          s"missing=${(batch.toSet -- streamedWeights.toSet).take(3)} " +
          s"extra=${(streamedWeights.toSet -- batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("row-local minhash banding is bit-compatible with the batch pipeline") {
    import spark.implicits._
    // the sf corpus PLUS hostile whitespace: Spark's trim strips only
    // ' ' and its split keeps trailing empties, so tab/newline-framed
    // text is exactly where a Java trim/split twin would silently
    // diverge in every band key
    val hostile = Seq(
      (100001L, "\tleading tab words one two three"),
      (100002L, "trailing newline words one two three\n"),
      (100003L, "  double  spaced  words  one  two  three  "),
      (100004L, "Mixed CASE Tokens With ÜNICODE Éléments here"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(hostile)
    val batch = graft.operators.Dedup.minhashBanded(docs)
      .select("band_key", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = docs.collect().flatMap { r =>
      graft.operators.Dedup.minhashBandedLocal(r.getLong(0), r.getString(1))
        .map { case (k, id, _) => (k, id) }
    }.toSet
    assert(batch.nonEmpty)
    assert(local == batch, "streaming twin's band keys diverge from the batch pipeline")
  }

  test("streaming near-dup detects duplicates across micro-batches with bounded band state") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while counting " +
      "tokens and shingles for the minhash signature pipeline test corpus"
    val distinct = "completely different content about spark catalyst plans " +
      "exchanges partitions and whole stage codegen with nothing shared"
    val src = MemoryStream[(Long, String)]
    val q = EventsPipeline.nearDupStream(src.toDS())
      .writeStream.format("memory").queryName("neardup_stream_test")
      .outputMode("append").start()
    try {
      // batch 1: an identical pair (1,2) and an unrelated doc 3
      src.addData((1L, base), (2L, base), (3L, distinct))
      q.processAllAvailable()
      // batch 2: a doc near-identical to 1 — the CROSS-BATCH case that
      // requires band state to persist between micro-batches
      src.addData((4L, base + " tail"))
      q.processAllAvailable()
      val hits = spark.table("neardup_stream_test")
        .select("doc_id", "earlier_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((2L, 1L)), s"in-batch duplicate missed: $hits")
      assert(hits.contains((4L, 1L)), s"cross-batch near-dup missed: $hits")
      assert(!hits.exists(h => h._1 == 3L || h._2 == 3L), s"false positive on 3: $hits")
    } finally q.stop()
  }

  test("streaming near-dup (A23) state stays bounded under adversarial band skew") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // adversarial skew: EVERY doc lands in the same single band with an
    // identical signature — the worst case for per-band state. With
    // maxPerBand=4 the FIFO must hold the member list at 4 regardless of
    // how many docs arrive, and detection must degrade GRACEFULLY: a new
    // arrival matches exactly the 4 most recent members, never the
    // evicted ones, and never crashes or grows the vector.
    val sig = Array.fill(8)(42L)
    val cap = 4
    val src = MemoryStream[EventsPipeline.BandedDoc]
    val q = EventsPipeline.streamingNearDup(src.toDS(), minEstJaccard = 0.8, maxPerBand = cap)
      .writeStream.format("memory").queryName("neardup_skew_test")
      .outputMode("append").start()
    try {
      // 20 docs through ONE band across two micro-batches
      src.addData((1L to 10L).map(i => EventsPipeline.BandedDoc(7L, i, sig)): _*)
      q.processAllAvailable()
      src.addData((11L to 20L).map(i => EventsPipeline.BandedDoc(7L, i, sig)): _*)
      q.processAllAvailable()
      // the probe: doc 21 arrives alone — its hits reveal the live state
      src.addData(EventsPipeline.BandedDoc(7L, 21L, sig))
      q.processAllAvailable()
      val all = spark.table("neardup_skew_test")
        .select("doc_id", "earlier_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val probeHits = all.filter(_._1 == 21L).map(_._2).toSet
      assert(probeHits == Set(17L, 18L, 19L, 20L),
        s"state not FIFO-bounded at $cap: doc 21 matched $probeHits")
      // every doc ever matched at most `cap` earlier members
      all.groupBy(_._1).foreach { case (id, hits) =>
        assert(hits.length <= cap, s"doc $id matched ${hits.length} members > cap $cap")
      }
    } finally q.stop()
  }

  test("streaming quality gate (A30): row-local scoring equals batch t15 exactly") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.{HashFunctions => H}
    // the row-local md5 bucket twin is bit-identical to the column path
    // over real corpus tokens — the premise everything below rests on
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w")).distinct().limit(300)
      .select(col("w"), H.md5Hash56(col("w")).as("h")).collect()
    toks.foreach { r =>
      assert(H.md5Hash56Local(r.getString(0)) == r.getLong(1),
        s"md5Hash56Local diverges on '${r.getString(0)}'")
    }
    // t15's fixture model as the dense array the stream broadcasts
    val dim = 4096
    val weights = Array.tabulate(dim)(b => (b.toLong * 2654435761L) % 1009L - 504L)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).take(120)
    val src = MemoryStream[(Long, String)]
    val q = EventsPipeline.qualityGateStream(src.toDS(), weights)
      .writeStream.format("memory").queryName("quality_gate_test")
      .outputMode("append").start()
    try {
      src.addData(docs.take(60): _*); q.processAllAvailable()
      src.addData(docs.drop(60): _*); q.processAllAvailable()
      val streamed = spark.table("quality_gate_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
      val ids = docs.map(_._1).toSet
      val batch = graft.SparkEntry.queries("t15_quality_model")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .filter(t => ids(t._1)).toSet
      assert(streamed == batch,
        s"stream/batch divergence: extra=${streamed -- batch} missing=${batch -- streamed}")
      // non-vacuous: the fixture model must actually split the corpus —
      // a degenerate always-keep/always-drop gate would make the
      // stream==batch equality above prove nothing about the gate
      assert(streamed.exists(_._4) && streamed.exists(!_._4),
        s"gate is constant over ${streamed.size} docs: " +
          s"kept=${streamed.count(_._4)}")
    } finally q.stop()
  }

  test("streaming BPE token metering: the codegen expression runs unchanged on a stream") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ingestion token metering: real BPE counts per arriving doc — a
    // stateless narrow projection (the merges table rides inside the
    // expression), so the literal batch spelling attaches to a stream
    // with no twin code, no state, no watermark (the A28 pattern)
    def metered(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      aggregate(transform(split(lower(trim(col("text"))), "\\s+"),
          w => size(graft.functions.BpeEncode(w, graft.operators.TextAnalysis.DefaultMerges)).cast("long")),
        lit(0L), (a, x) => a + x).as("n_bpe_tokens"))
    val docs = Seq((1L, "the thing is that these other ones linger"),
      (2L, "and another arriving batch of text"), (3L, ""))
    val src = MemoryStream[(Long, String)]
    val q = metered(src.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("bpe_meter_test")
      .outputMode("append").start()
    try {
      src.addData(docs.take(1): _*); q.processAllAvailable()
      src.addData(docs.drop(1): _*); q.processAllAvailable()
      val streamed = spark.table("bpe_meter_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = metered(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(batch.forall(_._2 >= 0) && batch.exists(_._2 > 0))
    } finally q.stop()
  }

  test("streaming PII scrub: the batch operator runs unchanged on a stream, output identical") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // stateless narrow ops — the literal batch operator attaches to a
    // readStream frame with no twin code, no state store, no watermark
    val docs = Seq(
      (1L, "contact bob@example.com or alice.smith+x@sub.domain.org today"),
      (2L, "server at 192.168.0.1 and 10.0.0.255, order 1234567890"),
      (3L, "clean text with short 123 and 12345 numbers"),
      (4L, "mixed: a@b.co from 8.8.8.8 id 99999999"))
    val src = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.piiScrub(
        src.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_stream_test")
      .outputMode("append").start()
    try {
      // two micro-batches: slicing must not affect a stateless map
      src.addData(docs.take(2): _*)
      q.processAllAvailable()
      src.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("pii_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSet
      val batch = graft.operators.TextAnalysis.piiScrub(docs.toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
        .toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming URL canonicalization (A50): the batch column runs unchanged on a stream") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the A28 attach class: canonicalizeUrl is a stateless narrow codegen
    // projection, so the LITERAL batch column normalizes arriving URLs
    // with no twin code, no state store, no watermark
    val urls = Seq(
      (1L, "HTTPS://WWW.Example.COM:443/a/b?utm_source=x&b=2&a=1#frag"),
      (2L, "http://site.org:8080/path/"),
      (3L, "https://a.b/c///?gclid=1&fbclid=2"),
      (4L, "https://x.y/?z=1&y=2&x=3"))
    val src = MemoryStream[(Long, String)]
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(col("_1").as("doc_id"),
      graft.operators.TextAnalysis.canonicalizeUrl(col("_2")).as("canon_url"))
    val q = canon(src.toDS().toDF())
      .writeStream.format("memory").queryName("url_stream_test")
      .outputMode("append").start()
    try {
      src.addData(urls.take(2): _*)
      q.processAllAvailable()
      src.addData(urls.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("url_stream_test").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batch = canon(urls.toDF()).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming char entropy (A52): the batch row-local spelling runs unchanged on a stream") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // the A28/A50 attach class: CharEntropy is one codegen static call
    // per row — no state, no watermark, slicing can't matter
    val docs = Seq(
      (1L, "aabb"), (2L, "natural language text with variety"),
      (3L, "aaaaaaaaaaaaaaaaaaaa"), (4L, ""))
    val src = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.charEntropyRowLocal(
        src.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("entropy_stream_test")
      .outputMode("append").start()
    try {
      src.addData(docs.take(2): _*)
      q.processAllAvailable()
      src.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("entropy_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        .toSet
      val batch = graft.operators.TextAnalysis.charEntropyRowLocal(
          docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
        .toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming EXIF GPS scrub (A53): the batch operator runs unchanged on a stream") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.{ImageCodec, Multimodal => M}
    // stateless mapPartitions over row-local byte walks — the A28 class
    val base = ImageCodec.encodeGrayJpeg(6, 4)((x, y) => (x + y * 7) % 256)
    val docs = Seq(
      (1L, M.spliceExif(base, 3, littleEndian = true, gps = true)),
      (2L, M.spliceExif(base, 3, littleEndian = false, gps = false)),
      (3L, "plain bytes".getBytes("UTF-8")),
      (4L, base))
    val src = MemoryStream[(Long, Array[Byte])]
    val q = M.scrubExifGps(src.toDS().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("gps_stream_test")
      .outputMode("append").start()
    try {
      src.addData(docs.take(2): _*)
      q.processAllAvailable()
      src.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("gps_stream_test").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getString(3), r.getBoolean(4)))
        .toSet
      val batch = M.scrubExifGps(docs.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getString(3), r.getBoolean(4)))
        .toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.exists(r => r._1 == 1L && r._2 && r._3 == 54L && !r._5))
    } finally q.stop()
  }

  test("streaming SURGICAL GPS scrub (A54): orientation survives the streamed scrub, GPS does not") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.{ImageCodec, Multimodal => M}
    // the A53 attach, surgical spelling: stateless row-local rebuild —
    // the LITERAL batch operator on a stream, no twin code
    val base = ImageCodec.encodeGrayJpeg(6, 4)((x, y) => (x + y * 7) % 256)
    val docs = Seq(
      (1L, M.spliceExif(base, 5, littleEndian = true, gps = true)),
      (2L, M.spliceExif(base, 7, littleEndian = false, gps = false)),
      (3L, "plain bytes".getBytes("UTF-8")),
      (4L, M.spliceExif(base, 2, littleEndian = false, gps = true)))
    val src = MemoryStream[(Long, Array[Byte])]
    val q = M.scrubExifGpsSurgical(src.toDS().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("gps_surgical_stream_test")
      .outputMode("append").start()
    try {
      src.addData(docs.take(2): _*)
      q.processAllAvailable()
      src.addData(docs.drop(2): _*)
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getBoolean(1),
        r.getLong(2), r.getString(3), r.getBoolean(4), r.getLong(5))
      val streamed = spark.table("gps_surgical_stream_test").collect().map(key).toSet
      val batch = M.scrubExifGpsSurgical(docs.toDF("doc_id", "payload"))
        .collect().map(key).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // GPS class: exactly the 18 surgical bytes out, orientation kept
      assert(streamed.exists(r => r._1 == 1L && r._2 && r._3 == 18L && !r._5 && r._6 == 5L))
      assert(streamed.exists(r => r._1 == 4L && r._2 && r._3 == 18L && !r._5 && r._6 == 2L))
      // no-GPS class: byte-identical, orientation untouched
      assert(streamed.exists(r => r._1 == 2L && !r._2 && r._3 == 0L && r._6 == 7L))
      // as an ingest gate (ship only gps_after = false) it admits every
      // row, text payloads included: nothing leaves the scrub with GPS
      assert(streamed.size == docs.size && streamed.forall(!_._5), s"streamed=$streamed")
    } finally q.stop()
  }

  test("streaming Gopher gate (A36): the batch rules run unchanged on a stream, flags identical") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // the A28 attach pattern: gopherRules is a stateless narrow codegen
    // projection, so the LITERAL batch operator gates arriving docs with
    // no twin code, no state store, no watermark — slicing can't matter
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.gopherRules(
        src.toDS().toDF("doc_id", "text"),
        requiredWords = Seq("the", "a"), minRequired = 2)
      .writeStream.format("memory").queryName("gopher_stream_test")
      .outputMode("append").start()
    try {
      corpus.grouped(math.max(1, corpus.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9), r.getBoolean(10), r.getBoolean(11))
      val streamed = spark.table("gopher_stream_test").collect().map(key).toSet
      val batch = graft.operators.TextAnalysis.gopherRules(
          corpus.toSeq.toDF("doc_id", "text"),
          requiredWords = Seq("the", "a"), minRequired = 2)
        .collect().map(key).toSet
      assert(streamed == batch, "streamed Gopher flags must equal batch exactly")
      assert(batch.exists(_._12) && batch.exists(!_._12),
        "both keep branches should be live on the corpus")
    } finally q.stop()
  }

  test("streaming C4 gate (A37): the batch rules run unchanged on a stream, decisions identical") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // same A28 attach pattern as A36: c4Filters is a stateless narrow
    // per-doc projection (every gate is doc-local), so the LITERAL batch
    // operator scrubs arriving docs — slicing can't matter
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.c4Filters(
        src.toDS().toDF("doc_id", "text"),
        minLineWords = 25, requireTerminalPunct = false, blocklist = Seq("dup"))
      .writeStream.format("memory").queryName("c4_stream_test")
      .outputMode("append").start()
    try {
      corpus.grouped(math.max(1, corpus.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
          r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
          r.getBoolean(8))
      val streamed = spark.table("c4_stream_test").collect().map(key).toSet
      val batch = graft.operators.TextAnalysis.c4Filters(
          corpus.toSeq.toDF("doc_id", "text"),
          minLineWords = 25, requireTerminalPunct = false, blocklist = Seq("dup"))
        .collect().map(key).toSet
      assert(streamed == batch, "streamed C4 decisions must equal batch exactly")
      assert(batch.exists(_._9) && batch.exists(!_._9),
        "both keep branches should be live on the corpus")
    } finally q.stop()
  }

  test("streaming blocklist scan (A41): the Aho-Corasick gate runs unchanged on a stream, counts identical") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // the A36/A37 attach pattern: multiPatternScan is a stateless narrow
    // codegen projection (one automaton walk per doc + parameter-bounded
    // array reductions), so the LITERAL batch operator gates arriving
    // docs — no twin code, no state store, no watermark
    val pats = graft.operators.TextAnalysis.ScanPatterns
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.multiPatternScan(
        src.toDS().toDF("doc_id", "text"), pats)
      .writeStream.format("memory").queryName("mps_stream_test")
      .outputMode("append").start()
    try {
      corpus.grouped(math.max(1, corpus.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val streamed = spark.table("mps_stream_test").collect().map(key).toSet
      val batch = graft.operators.TextAnalysis.multiPatternScan(
          corpus.toSeq.toDF("doc_id", "text"), pats)
        .collect().map(key).toSet
      assert(streamed == batch, "streamed pattern counts must equal batch exactly")
      assert(batch.exists(_._2 > 0), "the blocklist should be live on the corpus")
    } finally q.stop()
  }

  test("streaming near-dup rediscovers the batch minhash pairs on the real corpus") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val d2 = graft.operators.Dedup.nearDupPairs(Tables.documents(spark, sfDir))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d2.nonEmpty)
    val src = MemoryStream[(Long, String)]
    // est-jaccard 0.7 vs the batch exact-jaccard 0.8: the 64-perm
    // signature estimate of a >=0.8 pair sits above 0.7 for this corpus
    // (deterministic — the signatures carry no RNG state)
    val q = EventsPipeline.nearDupStream(src.toDS(), minEstJaccard = 0.7)
      .writeStream.format("memory").queryName("neardup_corpus_test")
      .outputMode("append").start()
    try {
      // three micro-batches in id order: earlier docs are in state when
      // later near-dups arrive, so a hit (b, a) maps to batch pair (a, b)
      docs.grouped(math.max(1, docs.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val hits = spark.table("neardup_corpus_test")
        .select("earlier_id", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val found = (d2 & hits).size
      assert(found >= (d2.size * 8) / 10,
        s"streaming found $found of ${d2.size} batch near-dup pairs: missing ${d2 -- hits}")
    } finally q.stop()
  }

  test("streaming near-dup exact-verify emits exactly the batch verified pairs") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val corpus = Tables.documents(spark, sfDir)
    val docs = corpus.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val d2 = graft.operators.Dedup.nearDupPairs(corpus)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d2.nonEmpty)
    val grams = graft.operators.Dedup.shingleSets(corpus.select("doc_id", "text"))
    val src = MemoryStream[(Long, String)]
    // candidate gate 0.5 (vs the batch exact 0.8): estimator noise on a
    // true >=0.8 pair cannot push the 64-perm estimate below 0.5 for this
    // corpus, so the exact-verify stage sees every true pair — then the
    // exact Jaccard filter reproduces the batch pair set, not a superset
    val q = EventsPipeline.nearDupStreamVerified(src.toDS(), grams)
      .writeStream.format("memory").queryName("neardup_verified_test")
      .outputMode("append").start()
    try {
      docs.grouped(math.max(1, docs.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val rows = spark.table("neardup_verified_test").collect()
      assert(rows.forall(_.getAs[Double]("jaccard") >= 0.8))
      // in-id-order arrival: a streamed hit (earlier, later) maps to the
      // batch pair (doc_a < doc_b); multi-band duplicates collapse in the set
      val hits = rows.map(r => (r.getAs[Long]("earlier_id"), r.getAs[Long]("doc_id"))).toSet
      assert(hits == d2,
        s"verified stream != batch: missing=${d2 -- hits} extra=${hits -- d2}")
    } finally q.stop()
  }

  test("row-local word-gram hashes are bit-identical to the batch column, hostile whitespace included") {
    import spark.implicits._
    val hostile = Seq(
      (200001L, "\tgram tab one two three four five six seven eight nine"),
      (200002L, "gram newline one two three four five six seven eight\n"),
      (200003L, "  Gram  CASED  Ünicode  one  two  three  four  five  six  "),
      (200004L, "short doc"),
      (200005L, null.asInstanceOf[String])) // null text: no grams, no NPE
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(hostile)
    val batch = graft.operators.Dedup.wordGramHashes(docs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = docs.collect().flatMap { r =>
      graft.operators.Dedup.wordGramHashesLocal(r.getString(1), 8)
        .map(g => (r.getLong(0), g))
    }.toSet
    assert(batch.nonEmpty)
    assert(local == batch, "streaming gram twin diverges from the batch pipeline")
  }

  test("streaming decontamination flags exactly the docs batch d8 flags") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, sf)
    // benchmark gram set staged by the BATCH pipeline (the production
    // shape: built once, broadcast to the ingestion stream)
    val benchGrams = graft.operators.Dedup
      .wordGramHashes(docs.filter(col("doc_id") % 20 === 0), 8)
      .select("g").collect().map(_.getLong(0)).toSet
    val expected = graft.SparkEntry.queries("d8_decontaminate")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val src = MemoryStream[(Long, String)]
    val q = EventsPipeline.decontaminateStream(src.toDS(), benchGrams)
      .writeStream.format("memory").queryName("decontam_stream_test")
      .outputMode("append").start()
    try {
      val arriving = docs.filter(col("doc_id") % 20 =!= 0)
        .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      arriving.grouped(math.max(1, arriving.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("decontam_stream_test")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      assert(got == expected, "streaming contamination flags diverge from batch d8")
      assert(expected.values.exists(_._2), "gate check: corpus has no contaminated docs")
    } finally q.stop()
  }

  test("streaming contamination share matches batch d23 row for row") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, sf)
    val benchGrams = graft.operators.Dedup
      .wordGramHashes(docs.filter(col("doc_id") % 20 === 0), 8)
      .select("g").collect().map(_.getLong(0)).toSet
    val expected = graft.SparkEntry.queries("d23_contamination_share")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    val src = MemoryStream[(Long, String)]
    val q = EventsPipeline.contaminationShareStream(src.toDS(), benchGrams)
      .writeStream.format("memory").queryName("contam_share_stream_test")
      .outputMode("append").start()
    try {
      val arriving = docs.filter(col("doc_id") % 20 =!= 0)
        .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      arriving.grouped(math.max(1, arriving.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = spark.table("contam_share_stream_test")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(got == expected, "streaming contamination share diverges from batch d23")
      // the graded signal is live on the real corpus: at least one
      // non-clean, non-saturated class present
      assert(expected.values.map(_._3).toSet.intersect(Set("trace", "partial")).nonEmpty ||
        expected.values.exists(_._3 == "saturated"),
        "gate check: corpus exercises only the clean class")
    } finally q.stop()
  }

  test("NibblerSink applies size-or-ticker semantics to a streaming Dataset") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Int]
    val seen = new ConcurrentLinkedQueue[(Trigger, Long)]()
    val q = NibblerSink.start[Int](source.toDS(), NibblerSink.Config[Int](
      processor = (t, ds) => { seen.add((t, ds.count())); () },
      size = 5,
      tickerDuration = 200.millis))
    try {
      source.addData(1 to 7) // one micro-batch of 7 >= size -> BatchFull
      q.processAllAvailable()
      source.addData(8 to 9) // 2 < size -> Ticker
      q.processAllAvailable()
      val got = seen.asScala.toVector
      assert(got == Vector((Trigger.BatchFull, 7L), (Trigger.Ticker, 2L)))
    } finally q.stop()
  }

  test("broker-shaped queue subscriber (G7): textQueue drives NibblerSink end-to-end with size+ticker semantics") {
    // the reference README's #1 production use case is a queue
    // subscriber; no broker runs in this sandbox, so the file-queue
    // stand-in plays the producer (one enqueued file per append) while
    // the SOURCE-level cap (maxFilesPerTrigger — Kafka's
    // maxOffsetsPerTrigger analog) bounds every micro-batch. This
    // exercises the full contract END TO END over a real (non-Memory)
    // source: a burst drains as a sequence of size-capped BATCH_FULL
    // flushes none of which exceeds the source bound, and a trickle
    // flushes as a partial Ticker batch.
    val queueDir = Files.createTempDirectory("graft-queue").toString
    def enqueue(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(queueDir, s"$name.txt"),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val seen = new ConcurrentLinkedQueue[(Trigger, Long)]()
    val source = SourcePresets.textQueue(spark, queueDir, maxFilesPerTrigger = 2)
    val q = NibblerSink.start[org.apache.spark.sql.Row](source,
      NibblerSink.Config[org.apache.spark.sql.Row](
        processor = (t, ds) => { seen.add((t, ds.count())); () },
        size = 50,
        tickerDuration = 200.millis))
    try {
      // burst: 6 enqueued messages x 30 records; cap 2 files/trigger ->
      // 3 micro-batches of 60 >= size -> all BATCH_FULL, none above the
      // source bound (the backpressure story: a firehose can't
      // materialize an unbounded batch)
      (1 to 6).foreach(i => enqueue(f"burst_$i%02d", (1 to 30).map(j => s"m$i-$j")))
      q.processAllAvailable()
      val burst = seen.asScala.toVector
      assert(burst.map(_._2).sum == 180L, s"burst rows lost: $burst")
      assert(burst.forall(_._1 == Trigger.BatchFull), s"burst must flush full: $burst")
      assert(burst.forall(_._2 <= 60L), s"source cap violated: $burst")
      assert(burst.size == 3, s"6 files at 2/trigger must drain in 3 batches: $burst")
      // trickle: one 5-record message < size -> Ticker flush
      enqueue("trickle", (1 to 5).map(j => s"t-$j"))
      q.processAllAvailable()
      val all = seen.asScala.toVector
      assert(all.last == ((Trigger.Ticker, 5L)), s"trickle must flush partial: $all")
      assert(all.map(_._2).sum == 185L)
    } finally q.stop()
  }

  test("network consumer (G7): a TCP socket source drives NibblerSink end-to-end") {
    // the push-transport leg of the queue-subscriber story: a local
    // server plays the broker, Spark's socket source is the live
    // consumer, NibblerSink applies the same size-or-ticker contract.
    // Arrival slicing over a socket is timing-dependent (no offsets), so
    // the assertions are the invariants: every record arrives exactly
    // once, and every flush's trigger classification matches its size.
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    val burst = (1 to 120).map(i => s"rec-$i")
    val writer = new Thread(() => {
      val conn = server.accept()
      val out = new java.io.PrintWriter(conn.getOutputStream, true)
      burst.foreach(out.println)
      out.flush()
      // keep the connection open long enough for the source to drain it
      Thread.sleep(8000)
      conn.close()
    })
    writer.setDaemon(true)
    writer.start()
    val seen = new ConcurrentLinkedQueue[(Trigger, Seq[String])]()
    val source = SourcePresets.socket(spark, "127.0.0.1", server.getLocalPort)
    val q = NibblerSink.start[org.apache.spark.sql.Row](source,
      NibblerSink.Config[org.apache.spark.sql.Row](
        processor = (t, ds) => {
          seen.add((t, ds.collect().map(_.getString(0)).toSeq)); ()
        },
        size = 50,
        tickerDuration = 300.millis))
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.asScala.map(_._2.size).sum < burst.size && System.nanoTime() < deadline)
        Thread.sleep(200)
      val flushes = seen.asScala.toVector
      val rows = flushes.flatMap(_._2)
      assert(rows.size == burst.size && rows.toSet == burst.toSet,
        s"socket rows lost or duplicated: ${rows.size}/${burst.size}")
      flushes.foreach { case (t, rs) =>
        val expectedTrigger = if (rs.size >= 50) Trigger.BatchFull else Trigger.Ticker
        assert(t == expectedTrigger, s"flush of ${rs.size} rows classified $t")
      }
    } finally { q.stop(); server.close() }
  }

  test("idempotent sink applies each batchId exactly once across replays") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-idem")
    val tracker = new NibblerSink.BatchTracker(dir.resolve("last_batch").toString)
    val applications = new ConcurrentLinkedQueue[Long]()
    val cfg = NibblerSink.Config[Int](
      processor = (_, ds) => { applications.add(ds.count()); () },
      size = 3, tickerDuration = 200.millis)
    val src = MemoryStream[Int]
    val q = NibblerSink.startIdempotent(src.toDS(), cfg, tracker,
      Files.createTempDirectory("graft-idem-ckpt").toString)
    try {
      src.addData(1, 2, 3)
      q.processAllAvailable()
      assert(applications.asScala.toVector == Vector(3L))
      val last = tracker.lastCommitted
      assert(last >= 0)
      // redelivery of an already-committed batchId (what Structured
      // Streaming does when a batch is replayed after a crash) is a no-op
      val guarded = NibblerSink.idempotent[Int](tracker)(cfg.processor)
      guarded(Trigger.Ticker, Seq(9).toDS(), last)
      assert(applications.asScala.toVector == Vector(3L))
      // a fresh batchId processes, then commits the marker
      guarded(Trigger.Ticker, Seq(9).toDS(), last + 1)
      assert(applications.asScala.toVector == Vector(3L, 1L))
      assert(tracker.lastCommitted == last + 1)
    } finally q.stop()
  }

  test("checkpointed idempotent sink resumes across query restarts, each row exactly once") {
    val dataDir = Files.createTempDirectory("graft-ckpt-data").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val tracker = new NibblerSink.BatchTracker(s"$ckpt/graft_last_batch")
    val seen = new ConcurrentLinkedQueue[Long]()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("v", org.apache.spark.sql.types.LongType)
    val cfg = NibblerSink.Config[Long](
      processor = (_, ds) => { ds.collect().foreach(v => seen.add(v)); () },
      size = 1000, tickerDuration = 200.millis)
    def startQuery() =
      NibblerSink.writer(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "10")
          .parquet(dataDir).as[Long],
        cfg, NibblerSink.idempotent(tracker)(cfg.processor))
        .option("checkpointLocation", ckpt)
        .start()
    spark.range(1, 6).toDF("v").write.mode("append").parquet(dataDir)
    val q1 = startQuery()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(seen.asScala.toVector.sorted == (1L to 5L))
    // restart from the checkpoint: earlier offsets are NOT re-read, new
    // files are, and the batchId sequence continues
    spark.range(6, 11).toDF("v").write.mode("append").parquet(dataDir)
    val q2 = startQuery()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(seen.asScala.toVector.sorted == (1L to 10L),
      s"expected each row exactly once, got ${seen.asScala.toVector.sorted}")
    assert(tracker.lastCommitted >= 1L)
  }

  test("NibblerSink error without resume fails the query; with resume continues") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // resume = true: error is swallowed after onError
    val src1 = MemoryStream[Int]
    @volatile var errCount = 0
    val q1 = NibblerSink.start[Int](src1.toDS(), NibblerSink.Config[Int](
      processor = (_, ds) =>
        if (ds.filter(_ < 0).count() > 0) throw new RuntimeException("bad batch"),
      size = 100,
      tickerDuration = 200.millis,
      resumeAfterErr = true,
      onError = (_, _) => errCount += 1))
    try {
      src1.addData(-1)
      q1.processAllAvailable()
      src1.addData(1)
      q1.processAllAvailable()
      assert(errCount == 1)
      assert(q1.isActive)
    } finally q1.stop()

    // resume = false: the streaming query itself fails
    val src2 = MemoryStream[Int]
    val q2 = NibblerSink.start[Int](src2.toDS(), NibblerSink.Config[Int](
      processor = (_, _) => throw new RuntimeException("fatal"),
      size = 100, tickerDuration = 200.millis, resumeAfterErr = false))
    src2.addData(1)
    intercept[Exception] { q2.processAllAvailable() }
    assert(!q2.isActive)
  }

  test("native session_window streaming agg finalizes the same sessions as batch mode") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[EventsPipeline.Event]
    def ev(id: Long, user: Long, minute: Long) =
      EventsPipeline.Event(id, new Timestamp(minute * 60000L), user, "click", 1.0)
    val data = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 60), ev(4, 2, 5))
    val q = EventsPipeline.sessionWindowAgg(src.toDS().toDF(),
        gap = "30 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("sesswin_test")
      .outputMode("append").start()
    try {
      src.addData(data: _*)
      q.processAllAvailable()
      src.addData(ev(5, 9, 1000)) // advance watermark, finalize all sessions above
      q.processAllAvailable()
      val streamed = spark.table("sesswin_test")
        .filter($"user_id" =!= 9)
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000, r.getLong(2))).toSet
      // batch mode over the same events (watermark is a no-op in batch)
      val batch = EventsPipeline.sessionWindowAgg(data.toDF())
        .select("user_id", "session_start", "n_events")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000, r.getLong(2))).toSet
      assert(streamed == batch)
      // 30-min gap: user 1 -> sessions {0,10} and {60}; user 2 -> {5}
      assert(batch == Set((1L, 0L, 2L), (1L, 60L, 1L), (2L, 5L, 1L)))
    } finally q.stop()
  }

  test("session_window merges an event at exactly the gap duration (q27 oracle contract)") {
    // q27's DuckDB oracle splits sessions on STRICT gap > duration because
    // Spark's session_window merges the boundary case — pin that here so a
    // Spark behavior change surfaces as this spec, not an oracle mismatch
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00")),  // == gap: merges
      (1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00.000001"))) // > gap: splits
      .toDF("user_id", "ts")
    val sessions = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("n")).as[Long].collect().sorted
    assert(sessions.sameElements(Array(1L, 2L)),
      s"expected sessions of sizes [1, 2], got ${sessions.toSeq}")
  }

  test("stream-stream interval join matches purchases to the same user's prior clicks only") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[EventsPipeline.Event]
    val purchases = MemoryStream[EventsPipeline.Event]
    def ev(id: Long, user: Long, minute: Long, typ: String) =
      EventsPipeline.Event(id, new Timestamp(minute * 60000L), user, typ, 1.0)
    // stage BOTH sources before starting so batch 0 sees all rows — the
    // watermark must not advance between the click and purchase arrivals
    // (a late purchase would be dropped by design, which is not what this
    // test asserts). Minute offsets sit well above 0: an event AT the
    // initial epoch-0 watermark is filtered as late.
    clicks.addData(ev(1, 1, 1000, "click"), ev(2, 1, 1030, "click"), ev(3, 2, 1000, "click"))
    purchases.addData(ev(10, 1, 1035, "purchase"), ev(11, 1, 1005, "purchase"))
    val q = EventsPipeline.clickPurchaseJoin(
        clicks.toDS().toDF(), purchases.toDS().toDF(), horizonMinutes = 10)
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val pairs = spark.table("ssjoin_test")
        .select("purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // purchase@35 sees click@30 (within [25,35]) but not click@0;
      // purchase@5 sees click@0; user 2's click matches nothing
      assert(pairs == Set((10L, 2L), (11L, 1L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits abandoned clicks only after the watermark closes their horizon") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[EventsPipeline.Event]
    val purchases = MemoryStream[EventsPipeline.Event]
    def ev(id: Long, user: Long, minute: Long, typ: String) =
      EventsPipeline.Event(id, new Timestamp(minute * 60000L), user, typ, 1.0)
    val q = EventsPipeline.clickPurchaseJoin(
        clicks.toDS().toDF(), purchases.toDS().toDF(),
        horizonMinutes = 10, joinType = "left_outer")
      .writeStream.format("memory").queryName("ssjoin_outer_test")
      .outputMode("append").start()
    try {
      // click@1000 converts (purchase@1005); click@1001 is abandoned
      clicks.addData(ev(1, 1, 1000, "click"), ev(2, 2, 1001, "click"))
      purchases.addData(ev(10, 1, 1005, "purchase"))
      q.processAllAvailable()
      val early = spark.table("ssjoin_outer_test")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      // the unmatched click must NOT be emitted yet: a purchase in
      // [1001, 1011] could still arrive — "no partner" isn't final until
      // the watermark passes 1011
      assert(early == Set((1L, 10L)), s"premature outer emission: $early")
      // advance BOTH streams far past the horizon (global watermark is
      // the min across inputs), then run the follow-up batch that emits
      // newly-final unmatched rows
      clicks.addData(ev(3, 3, 2000, "click"))
      purchases.addData(ev(11, 4, 2000, "purchase"))
      q.processAllAvailable()
      clicks.addData(ev(4, 3, 2001, "click"))
      purchases.addData(ev(12, 4, 2001, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_outer_test")
        .select("user_id", "click_id", "purchase_id").collect()
      val abandoned = rows.filter(_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(abandoned.contains((2L, 2L)),
        s"abandoned click not emitted after watermark close: ${rows.mkString(",")}")
      // clicks 3/4's horizons (2010/2011) are still open — not emitted
      assert(!abandoned.exists(_._2 >= 3L), s"open-horizon click leaked: $abandoned")
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the broadcast dimension") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[Long]
    val dim = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    val q = EventsPipeline.enrich(src.toDS().toDF("n_nationkey"), dim, "n_nationkey")
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      src.addData(0L, 1L, 9999L) // 9999 has no dim row -> left-join null
      q.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(rows.size == 3)
      assert(rows(0L).isDefined && rows(1L).isDefined)
      assert(rows(9999L).isEmpty)
    } finally q.stop()
  }

  test("stateful dedup on the RocksDB state store: id-only dedup, metered and bounded state") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    withConf(EventsPipeline.RocksDBStateStore) {
      val src = MemoryStream[EventsPipeline.Event]
      def ev(id: Long, minute: Long) =
        EventsPipeline.Event(id, new Timestamp(minute * 60000L), 1L, "click", 1.0)
      val q = EventsPipeline.dedupStream(src.toDS().toDF(), watermark = "10 minutes")
        .writeStream.format("memory").queryName("rocksdb_dedup_test")
        .outputMode("append").start()
      try {
        // same id, DIFFERENT ts: still a duplicate (key is the id alone)
        src.addData(ev(1, 100), ev(1, 101), ev(2, 100))
        q.processAllAvailable()
        src.addData(ev(3, 200)) // advances watermark past ids 1/2's horizon
        q.processAllAvailable()
        src.addData(ev(4, 210)) // next commit reports the eviction
        q.processAllAvailable()
        val ids = spark.table("rocksdb_dedup_test").select("event_id")
          .collect().map(_.getLong(0)).sorted
        assert(ids.sameElements(Array(1L, 2L, 3L, 4L)), s"got ${ids.toSeq}")
        val stateOps = q.recentProgress.flatMap(_.stateOperators)
        assert(stateOps.nonEmpty)
        // the RocksDB provider is genuinely in use: its custom metrics show up
        assert(stateOps.exists(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))),
          "no rocksdb custom metrics in stateOperators progress")
        // bounded state: watermark passage actually evicted rows
        assert(stateOps.exists(_.numRowsRemoved > 0),
          s"no state eviction observed: ${stateOps.map(_.numRowsRemoved).toSeq}")
      } finally q.stop()
    }
  }

  test("streaming dedup drops duplicates; watermark drops late events in windowed agg") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // dedup: same event_id arriving twice -> one row out
    val src = MemoryStream[EventsPipeline.Event]
    def ev(id: Long, minute: Long) =
      EventsPipeline.Event(id, new java.sql.Timestamp(minute * 60000L), 1L, "click", 1.0)
    val q = EventsPipeline.dedupStream(src.toDS().toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      src.addData(ev(1, 100), ev(2, 101), ev(1, 100))
      q.processAllAvailable()
      src.addData(ev(1, 100), ev(3, 102))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()

    // watermark: an event older than (max ts - watermark) never reaches a
    // finalized window in append mode
    val src2 = MemoryStream[EventsPipeline.Event]
    val q2 = EventsPipeline.tumblingAgg(src2.toDS().toDF(), watermark = "2 minutes")
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      src2.addData(ev(10, 100))
      q2.processAllAvailable()
      src2.addData(ev(11, 200)) // advances watermark to minute 198
      q2.processAllAvailable()
      src2.addData(ev(12, 100)) // late: far behind watermark, dropped
      q2.processAllAvailable()
      src2.addData(ev(13, 300)) // finalize remaining windows
      q2.processAllAvailable()
      val counts = spark.table("late_test")
        .select("minute_start", "n_events")
        .collect().map(r => r.getTimestamp(0).getTime / 60000 -> r.getLong(1)).toMap
      assert(counts.get(100L) == Some(1L), s"late event was counted: $counts")
    } finally q2.stop()
  }

  test("streaming perplexity gate (A33): bounded top-K model equals the batch truncated scorer") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // 916 distinct bigrams at sf0.001: K=600 makes truncation BITE
    // (real OOV traffic) while keeping template coverage high enough
    // that the median gate still splits the corpus
    val K = 600
    val OOV = 6L
    val docsDf = Tables.documents(spark, sfDir).select("doc_id", "text")
    val model = graft.operators.TextAnalysis.exportBigramModel(docsDf, K)
    assert(model.size == K, s"model must be exactly the top-K cap, got ${model.size}")
    val docs = docsDf.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).take(120)
    val src = MemoryStream[(Long, String)]
    val q = EventsPipeline.perplexityGateStream(src.toDS(), model, OOV)
      .writeStream.format("memory").queryName("ppl_gate_test")
      .outputMode("append").start()
    try {
      src.addData(docs.take(50): _*); q.processAllAvailable()
      src.addData(docs.drop(50): _*); q.processAllAvailable()
      val streamed = spark.table("ppl_gate_test")
        .as[EventsPipeline.PerplexityFlag].collect()
        .map(f => (f.doc_id, f.n_bigrams, f.total_bits, f.keep)).toSet
      val ids = docs.map(_._1).toSet
      val batch = graft.operators.TextAnalysis
        .perplexityFilterTopK(docsDf, K, OOV)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .filter(t => ids(t._1)).toSet
      assert(streamed == batch,
        s"stream/batch divergence: extra=${streamed -- batch} missing=${batch -- streamed}")
      // non-vacuous: the truncated model must exercise BOTH the in-model
      // and the OOV path, and both keep branches
      assert(streamed.exists(_._4) && streamed.exists(!_._4),
        s"gate constant: kept=${streamed.count(_._4)}/${streamed.size}")
    } finally q.stop()
  }

  test("streaming CDC materialization (A42): latest-per-key view equals the batch MERGE apply") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.EventsPipeline.{cdcApplyStream, CdcOp}
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    withConf(EventsPipeline.RocksDBStateStore) {
      // q49's fixture change log, fed seq-ordered (the CDC commit-order
      // contract) across three micro-batch slicings
      val snap = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      def p2(x: Double) = BigDecimal(x).setScale(2, HALF_UP)
      val ops = (snap.filter(_._1 % 7 == 0).map { case (k, ck, st, p) =>
          CdcOp(k, 1L, "U", ck, st,
            (p2(p) * BigDecimal("1.10")).setScale(2, HALF_UP).toDouble) } ++
        snap.filter(_._1 % 1000 == 1).map { case (k, ck, _, p) =>
          CdcOp(k + 10000000L, 1L, "U", ck, "N", p2(p).toDouble) } ++
        snap.filter(_._1 % 21 == 0).map { case (k, ck, st, p) =>
          CdcOp(k, 2L, "U", ck, st, (p2(p) + 5).setScale(2, HALF_UP).toDouble) } ++
        snap.filter(_._1 % 13 == 0).map { case (k, _, _, _) =>
          CdcOp(k, 3L, "D", 0L, "", 0.0) }).sortBy(_.seq)
      val src = MemoryStream[CdcOp]
      val q = cdcApplyStream(src.toDS())
        .writeStream.format("memory").queryName("cdc_mat_test")
        .outputMode("append").start()
      try {
        ops.grouped(math.max(1, ops.length / 3)).foreach { chunk =>
          src.addData(chunk.toIndexedSeq: _*)
          q.processAllAvailable()
        }
        val view = spark.table("cdc_mat_test").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3),
            r.getString(4), r.getDouble(5), r.getLong(6)))
          .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._7) }
        val batch = graft.SparkEntry.queries("q49_cdc_merge")(spark, sfDir).collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))).toMap
        val touched = ops.map(_.key).toSet
        assert(touched.nonEmpty && view.keySet == touched,
          "one materialized row per touched key, no extras")
        touched.foreach { k =>
          val (_, ver, deleted, ck, st, pr, _) = view(k)
          if (k % 13 == 0 && k < 10000000L) {
            assert(deleted && ver == 3L, s"key $k must materialize as a tombstone")
            assert(!batch.contains(k), s"batch must have dropped deleted key $k")
          } else {
            assert(!deleted && batch(k) == ((ck, st, pr, ver)),
              s"key $k: view ($ck,$st,$pr,$ver) != batch ${batch(k)}")
          }
        }
      } finally q.stop()
    }
  }

  test("streaming SCD2 maintenance (A31): latest-per-version equals the batch operator") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // transformWithState runs only on the RocksDB provider
    withConf(EventsPipeline.RocksDBStateStore) {
      // Round-5 regression guard: the (then private, nested) ScdState case
      // class made every state read/write fall back to the INTERPRETED
      // projection ("Expr codegen error ... falling back to interpreter
      // mode" x10 in the suite log) — tests passed but a production CDC
      // stream would pay the interpreter per state touch. Capture WARNs
      // for the duration of the streaming run and assert the fallback is
      // gone, so a re-nesting can't slip back in silently.
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val logCtx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      val rootCfg = logCtx.getConfiguration.getRootLogger
      val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
          "graft-codegen-capture", null, null, false,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
          captured.add(e.getMessage.getFormattedMessage)
      }
      capture.start()
      rootCfg.addAppender(capture, org.apache.logging.log4j.Level.WARN, null)
      logCtx.updateLoggers()
      // real orders for a subset of customers, fed in event-time order
      // (the CDC commit-order contract) across THREE micro-batch slicings
      // chosen to split customers' histories mid-span
      val orders = Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .as[EventsPipeline.OrderRow]
        .collect()
        .filter(_.o_custkey % 37 == 0)
        .sortBy(r => (r.o_orderdate.getTime, r.o_orderkey))
      assert(orders.length > 30, s"need a real workload, got ${orders.length} orders")
      val cut1 = orders.length / 3
      val cut2 = 2 * orders.length / 3
      val src = MemoryStream[EventsPipeline.OrderRow]
      val q = EventsPipeline.scd2Stream(src.toDS())
        .writeStream.format("memory").queryName("scd2_test")
        .outputMode("update").start()
      try {
        src.addData(orders.take(cut1): _*); q.processAllAvailable()
        src.addData(orders.slice(cut1, cut2): _*); q.processAllAvailable()
        src.addData(orders.drop(cut2): _*); q.processAllAvailable()
        // latest emission per (customer, version) is the span's truth
        val streamed = spark.table("scd2_test")
          .as[EventsPipeline.ScdSpanUpdate].collect()
          .groupBy(u => (u.c_custkey, u.version))
          .map { case (_, us) => us.maxBy(_.seq) }
          .map(u => (u.c_custkey, u.version, u.priority,
            u.effective_from.toString, u.effective_to.map(_.toString), u.n_orders))
          .toSet
        val custs = orders.map(_.o_custkey).toSet
        import org.apache.spark.sql.functions.col
        val batch = graft.operators.Relational
          .scd2Dimension(Tables.orders(spark, sfDir))
          .filter(col("c_custkey").isin(custs.toSeq: _*))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getDate(3).toString, Option(r.getDate(4)).map(_.toString), r.getLong(5)))
          .toSet
        assert(streamed == batch,
          s"stream/batch SCD2 divergence: extra=${streamed -- batch} missing=${batch -- streamed}")
        // non-vacuous: real histories must contain BOTH closed and open spans
        assert(streamed.exists(_._5.isDefined) && streamed.exists(_._5.isEmpty),
          "corpus produced no closed (or no open) spans — the twin check proved nothing")
        // probe WARN proves the appender is actually wired (a capture that
        // silently attached to nothing would pass the no-fallback assert)
        org.apache.logging.log4j.LogManager.getLogger(getClass)
          .warn("graft-capture-probe")
        assert(captured.toArray(Array.empty[String]).exists(_.contains("graft-capture-probe")),
          "log-capture appender saw nothing — the no-fallback assertion is vacuous")
        val fallbacks = captured.toArray(Array.empty[String]).filter(m =>
          m.contains("Expr codegen error") || m.contains("falling back to interpreter"))
        assert(fallbacks.isEmpty,
          s"state encoder fell back to interpreted projection:\n${fallbacks.take(3).mkString("\n")}")
      } finally {
        q.stop()
        rootCfg.removeAppender("graft-codegen-capture")
        logCtx.updateLoggers()
        capture.stop()
      }
    }
  }

  test("streaming DSIR gate (A38): batch-trained vote model gates the stream bit-identically") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // DSIR's selection state is corpus-global (the bucket vote signs),
    // so unlike A36/A37 the batch operator cannot attach as-is — the
    // A33 pattern applies instead: train the parameter-bounded model in
    // batch, then gate arriving docs with the row-local integer scorer.
    // All-integer votes make bit-equality the right bar.
    val docs = Tables.documents(spark, sfDir)
    val isTarget = col("doc_id") % 20 === 0
    val model = graft.operators.Pipeline.dsirVoteModel(docs, isTarget)
    val raw = docs.filter(!isTarget).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = graft.operators.Pipeline.dsirGate(
        src.toDS().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("dsir_stream_test")
      .outputMode("append").start()
    try {
      raw.grouped(math.max(1, raw.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("dsir_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
      val batch = graft.operators.Pipeline.dsirSample(docs, isTarget)
        .collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(5))).toSet
      assert(streamed == batch,
        "streamed DSIR votes must equal the batch operator exactly")
      assert(batch.exists(_._4) && batch.exists(!_._4),
        "both keep branches should be live on the corpus")
    } finally q.stop()
  }

  test("streaming semantic dedup probe (A39): stream-static pairs equal the batch probe exactly") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // semDeDupProbe is bucket-narrow on the arrival side + a
    // stream-static equi-join on the published corpus — no state, no
    // watermark, so the LITERAL batch operator attaches (the A28
    // pattern, lifted to d17's semantic space)
    val e = Tables.embeddings(spark, sfDir)
    val corpus = e.filter(col("vec_id") % 2 === 0)
    val arrivals = e.filter(col("vec_id") % 2 === 1)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val src = MemoryStream[(Long, Array[Float])]
    val q = graft.operators.Dedup.semDeDupProbe(
        src.toDS().toDF("vec_id", "embedding"), corpus)
      .writeStream.format("memory").queryName("semdedup_stream_test")
      .outputMode("append").start()
    try {
      arrivals.grouped(math.max(1, arrivals.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("semdedup_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = graft.operators.Dedup.semDeDupProbe(
          e.filter(col("vec_id") % 2 === 1), corpus)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        "streamed semantic-dedup pairs must equal the batch probe exactly")
      assert(batch.nonEmpty, "the probe must find pairs on the real corpus (non-vacuous)")
    } finally q.stop()
    // the C25 multi-probe knob attaches unchanged (still a narrow
    // arrival-side explode + the same stream-static join): streamed
    // probes=1 pairs == batch probes=1 pairs, a superset of probes=0
    val src1 = MemoryStream[(Long, Array[Float])]
    val q1 = graft.operators.Dedup.semDeDupProbe(
        src1.toDS().toDF("vec_id", "embedding"), corpus, probes = 1)
      .writeStream.format("memory").queryName("semdedup_stream_mp")
      .outputMode("append").start()
    try {
      arrivals.grouped(math.max(1, arrivals.length / 2)).foreach { chunk =>
        src1.addData(chunk.toIndexedSeq: _*)
        q1.processAllAvailable()
      }
      val streamed1 = spark.table("semdedup_stream_mp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val batch1 = graft.operators.Dedup.semDeDupProbe(
          e.filter(col("vec_id") % 2 === 1), corpus, probes = 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(streamed1 == batch1, "streamed probes=1 pairs must equal batch")
      val batch0 = graft.operators.Dedup.semDeDupProbe(
          e.filter(col("vec_id") % 2 === 1), corpus)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(batch0.subsetOf(batch1), "probes must be recall-monotone")
    } finally q1.stop()
  }

  test("streaming OPQ retrieval probe (A61): arriving queries score against the published index; streamed == batch bit-exactly") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    // the s11 memoized OPQ root: 4-table artifact incl. the rotation —
    // the stream rotates arriving queries by the same plan literal
    val root = Similarity.opqIndexRootFor(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir)
    val queries = e.filter(col("vec_id") < 10)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val src = MemoryStream[(Long, Array[Float])]
    val q = Similarity.ivfPqScoreStream(spark, root,
        src.toDS().toDF("vec_id", "embedding"), nProbe = 4)
      .writeStream.format("memory").queryName("opq_stream_test")
      .outputMode("append").start()
    try {
      queries.grouped(3).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("opq_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val batch = Similarity.ivfPqScoreFromIndex(spark, root,
          e.filter(col("vec_id") < 10), nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("list_id"), col("acos"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        "streamed OPQ ADC scores must equal the batch read path bit-exactly")
      assert(batch.nonEmpty, "the probe must score candidates (non-vacuous)")
    } finally q.stop()
    // the s13 predicate knob on the STREAM: arriving queries score only
    // the label=1 slice of the published attribute-carrying index —
    // route-by-label at ingest, bit-equal to the batch filtered scorer
    val rootF = Similarity.filteredIndexRootFor(spark, sfDir)
    val srcF = MemoryStream[(Long, Array[Float])]
    val qF = Similarity.ivfPqScoreStreamWhere(spark, rootF,
        srcF.toDS().toDF("vec_id", "embedding"), nProbe = 6,
        col("label") === 1)
      .writeStream.format("memory").queryName("opq_stream_filtered_test")
      .outputMode("append").start()
    try {
      queries.grouped(4).foreach { chunk =>
        srcF.addData(chunk.toIndexedSeq: _*)
        qF.processAllAvailable()
      }
      val streamedF = spark.table("opq_stream_filtered_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val batchF = Similarity.ivfPqScoreFromIndexWhere(spark, rootF,
          e.filter(col("vec_id") < 10), nProbe = 6, col("label") === 1)
        .select(col("query_id"), col("neighbor_id"), col("list_id"), col("acos"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(streamedF == batchF && batchF.nonEmpty,
        "streamed FILTERED probe must equal the batch filtered scorer bit-exactly")
      // every scored neighbor satisfies the predicate (fail-closed)
      val allowed = e.filter(col("label") === 1).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(streamedF.forall(t => allowed(t._2)),
        "filtered stream scored a neighbor outside the predicate")
    } finally qF.stop()
  }

  test("streaming perceptual dedup probe (A40): arriving dHashes match the batch probe exactly") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // dhashProbe was built streamable: leftmost-band dedup instead of
    // distinct(), so the match pipeline is narrow projections + one
    // stream-static band join — the literal batch operator attaches
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val corpusHashes = base.select(col("doc_id"),
      graft.operators.Multimodal.dHash63(col("text")).as("h"))
    val twins = base.filter(length(col("text")) >= 72)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text").substr(lit(1), lit(35)), lit("Z"),
          col("text").substr(lit(37), length(col("text")))).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val arriving = src.toDS().toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.Multimodal.dHash63(col("text")).as("h"))
    val q = graft.operators.Multimodal.dhashProbe(arriving, corpusHashes)
      .writeStream.format("memory").queryName("dhash_stream_test")
      .outputMode("append").start()
    try {
      twins.grouped(math.max(1, twins.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("dhash_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.operators.Multimodal.dhashProbe(
          twins.toSeq.toDF("doc_id", "text")
            .select(col("doc_id"), graft.operators.Multimodal.dHash63(col("text")).as("h")),
          corpusHashes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        "streamed perceptual-dedup pairs must equal the batch probe exactly")
      assert(batch.nonEmpty, "the probe must find pairs on the real corpus (non-vacuous)")
    } finally q.stop()
  }

  test("streaming paragraph dedup probe (A44): arriving chunks match the batch probe exactly") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // paragraphProbe is narrow in-row chunking + one stream-static
    // equi-join against the DISTINCT corpus chunk set (each instance can
    // match at most once, so no post-join dedup) — no state, no
    // watermark: the LITERAL batch operator attaches (the A39/A40 class,
    // lifted to d21's paragraph space)
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val arrivals = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = graft.operators.Dedup.paragraphProbe(
        src.toDS().toDF("doc_id", "text"), corpus)
      .writeStream.format("memory").queryName("parprobe_stream_test")
      .outputMode("append").start()
    try {
      arrivals.grouped(math.max(1, arrivals.length / 3)).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("parprobe_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val batch = graft.operators.Dedup.paragraphProbe(
          docs.filter(col("doc_id") % 2 === 1), corpus)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch,
        "streamed paragraph-probe matches must equal the batch probe exactly")
      assert(batch.nonEmpty, "the probe must find matches on the real corpus (non-vacuous)")
    } finally q.stop()
  }

  test("streaming media sniff (A45): arriving payloads type identically to the batch sniff") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{AudioCodec, ImageCodec, Multimodal, VideoCodec}
    // sniffPayloads is a stateless narrow mapPartitions — the literal
    // batch operator attaches in append mode (the A36/A41 class)
    val payloads = (0L until 40L).map { id =>
      val bytes = (id % 4) match {
        case 0 => ImageCodec.encodeGrayPng((1 + id % 13).toInt, (1 + id % 7).toInt)(
          (x, y) => ((x * 31 + y * 17 + id) % 256).toInt)
        case 1 => AudioCodec.encodePcm16Wav(
          (8000 + (id % 5) * 1000).toInt, (1 + id % 2).toInt,
          Array.tabulate(64)(i => ((i * 7 + id) % 251).toShort))
        case 2 => VideoCodec.encodeAvi(
          Seq.tabulate((1 + id % 3).toInt)(f =>
            Array.tabulate(16)(i => ((i + f + id) % 256).toByte)))
        case _ => s"plain text payload $id".getBytes("UTF-8")
      }
      (id, bytes)
    }
    val src = MemoryStream[(Long, Array[Byte])]
    val q = Multimodal.sniffPayloads(src.toDS().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("sniff_stream_test")
      .outputMode("append").start()
    try {
      payloads.grouped(payloads.length / 3).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("sniff_stream_test").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val batch = Multimodal.sniffPayloads(payloads.toDF("doc_id", "payload"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch, "streamed sniff rows must equal the batch sniff exactly")
      assert(streamed.size == 40 && streamed.map(_._2) == Set("png", "wav", "avi", "unknown"))
    } finally q.stop()
  }

  test("streaming payload byte stats (A47): arriving blobs class identically to batch m15") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.operators.{ImageCodec, Multimodal}
    // payloadByteStats is the same stateless narrow mapPartitions class
    // as A45 — the literal batch operator attaches in append mode
    val payloads = (0L until 30L).map { id =>
      val bytes = (id % 3) match {
        case 0 => ImageCodec.encodeGrayPng((1 + id % 5).toInt, (1 + id % 4).toInt)(
          (x, y) => ((x * 11 + y * 3 + id) % 256).toInt)
        case 1 => s"printable payload number $id with only ascii".getBytes("UTF-8")
        case _ => Array.empty[Byte]
      }
      (id, bytes)
    }
    val src = MemoryStream[(Long, Array[Byte])]
    val q = Multimodal.payloadByteStats(src.toDS().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("bytestats_stream_test")
      .outputMode("append").start()
    try {
      payloads.grouped(payloads.length / 3).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))
      val streamed = spark.table("bytestats_stream_test").collect().map(key).toSet
      val batch = Multimodal.payloadByteStats(payloads.toDF("doc_id", "payload"))
        .collect().map(key).toSet
      assert(streamed == batch, "streamed byte stats must equal batch m15 exactly")
      assert(streamed.map(_._6) == Set("binary", "text", "empty"))
    } finally q.stop()
  }

  test("streaming crawl-frontier host counts (A58): sliced stream converges to the batch link-graph counts") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    def pg(host: String, outs: String*) = (s"https://$host/",
      outs.map(o => s"""<a href="https://$o/x">l</a>""").mkString +
        "<a href='/rel'>r</a><a href=\"mailto:a@b.c\">m</a>")
    val pages = Seq(
      pg("a.com", "hub.com", "b.com"), pg("b.com", "hub.com"),
      pg("hub.com", "a.com"), pg("c.com", "hub.com", "a.com", "b.com"))
    val src = MemoryStream[(String, String)]
    val q = EventsPipeline.frontierHostCounts(src.toDS().toDF("url", "html"))
      .writeStream.format("memory").queryName("frontier_test")
      .outputMode("update").start()
    try {
      src.addData(pages.take(1): _*); q.processAllAvailable()
      src.addData(pages.slice(1, 3): _*); q.processAllAvailable()
      src.addData(pages.drop(3): _*); q.processAllAvailable()
      // update mode re-emits a host's row each time its count changes;
      // counts only grow, so the max seen per host is the final state
      val streamed = spark.table("frontier_test").collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).max }
      val batch = EventsPipeline.frontierHostCounts(pages.toDF("url", "html"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(batch("hub.com") == 3L && !batch.keySet.exists(_.isEmpty),
        "hub in-link mass counted; relative/mailto anchors never leak in")
    } finally q.stop()
  }

  test("streaming embedding Gram monitor (A59): sliced stream's final statistics BIT-EQUAL the batch pass") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .take(120).toSeq
    val src = MemoryStream[(Long, Seq[Float])]
    val q = EventsPipeline.embeddingGramStream(
        src.toDS().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("gram_stream_test")
      .outputMode("update").start()
    try {
      vecs.grouped(37).foreach { chunk =>
        src.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
      }
      // update mode re-emits the single global row each batch; the final
      // emission (max n — n only grows) is the stream-so-far statistic
      val rows = spark.table("gram_stream_test").collect()
        .map(r => (r.getStruct(0).getLong(0),
          r.getStruct(0).getSeq[Long](1),
          r.getStruct(0).getSeq[org.apache.spark.sql.Row](2)
            .map(p => (p.getInt(0), p.getInt(1), p.getLong(2)))))
      val fin = rows.maxBy(_._1)
      import spark.implicits._
      val b = graft.operators.Similarity.gramSums(
          vecs.toDF("vec_id", "embedding")).collect().head.getStruct(0)
      val batch = (b.getLong(0), b.getSeq[Long](1),
        b.getSeq[org.apache.spark.sql.Row](2)
          .map(p => (p.getInt(0), p.getInt(1), p.getLong(2))))
      assert(fin._1 == batch._1 && fin._2 == batch._2 && fin._3 == batch._3,
        s"streamed final n=${fin._1} != batch n=${batch._1} or sums/pairs differ")
      assert(rows.length == 4, s"one update per micro-batch: ${rows.length}")
    } finally q.stop()
  }

  test("streaming ACF period monitor (A65): final emission per user == batch q74's is_period row across two slicings; positions strictly advance") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      // returns the emissions (user, position, period, score) of the last slicing
      def twin(rows: Seq[(Long, Long, Double)], maxLag: Int, chunks: Seq[Int],
          name: String): Array[(Long, Long, Long, Double)] = {
        val batch = graft.operators.Relational.tsAcf(
            rows.toDF("event_id", "user_id", "value"), maxLag = maxLag)
          .filter(col("is_period")).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
        val nPerUser = rows.groupBy(_._2).map { case (u, rs) => u -> rs.length.toLong }
        chunks.map { chunk =>
          val src = MemoryStream[(Long, Long, Double)]
          val q = EventsPipeline.acfPeriodTws(src.toDS(), maxLag = maxLag)
            .writeStream.format("memory").queryName(s"${name}_$chunk")
            .outputMode("update").start()
          try {
            rows.grouped(chunk).foreach { c =>
              src.addData(c: _*)
              q.processAllAvailable()
            }
            val got = spark.table(s"${name}_$chunk").collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
            // one emission per arrival past n=2, positions strictly advance
            got.groupBy(_._1).foreach { case (u, es) =>
              val ps = es.map(_._2).sorted
              assert(ps.toSeq == (3L to nPerUser(u)).toSeq,
                s"user $u emissions not one-per-arrival: ${ps.take(5).toSeq}...")
            }
            // the final live estimate IS the batch argmax, bit-equal
            val fin = got.groupBy(_._1).map { case (u, es) =>
              u -> { val l = es.maxBy(_._2); (l._3, l._4) } }
            assert(fin == batch,
              s"$chunk rows per micro-batch: final estimates diverge from batch q74: " +
                s"${(fin.toSet -- batch.toSet).take(3)} vs ${(batch.toSet -- fin.toSet).take(3)}")
            got
          } finally q.stop()
        }.last
      }
      val rows = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      twin(rows, maxLag = 16, Seq(5, 2).map(slices => math.max(1, rows.length / slices)),
        "acf_tws")
      // the dominant cycle changes mid-stream, period-3 sawtooth -> period-5
      // pattern: the live estimate reads 3 while the old regime dominates
      // and flips to 5 once the new regime's pair mass outweighs it
      val p3 = Seq(0.0, 9.0, 3.0)
      val p5 = Seq(1.0, 7.0, 2.0, 9.0, 4.0)
      val shift = (1 to 300).map(t =>
        (t.toLong, 1L, if (t <= 60) p3((t - 1) % 3) else p5((t - 61) % 5)))
      val live = twin(shift, maxLag = 8, Seq(60), "acf_tws_shift")
        .map(e => e._2 -> e._3).toMap
      assert(live(60L) == 3L && live(300L) == 5L,
        s"period at 60 = ${live(60L)}, at 300 = ${live(300L)}")
    }
  }

  test("streaming seasonal MA (A66): delayed-by-h trend emissions bit-equal batch q76 across two slicings; final phase sums derive the batch seasonal index exactly") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      val sf = "/root/testdata/sf0.001"
      val rows = Tables.events(spark, sf)
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val batch = graft.operators.Relational.tsSeasonalDecompose(
          Tables.events(spark, sf), period = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
      val bTrend = batch.map(t => (t._1, t._2) -> t._3).toMap
      val bSeas = batch.map(t => (t._1, t._2 % 4) -> t._4).toMap
      Seq(5, 3).foreach { slices =>
        val src = MemoryStream[(Long, Long, Double)]
        val q = EventsPipeline.seasonalMaTws(src.toDS(), period = 4)
          .writeStream.format("memory").queryName(s"seas_tws_$slices")
          .outputMode("update").start()
        try {
          rows.grouped(math.max(1, rows.length / slices)).foreach { chunk =>
            src.addData(chunk.toIndexedSeq: _*)
            q.processAllAvailable()
          }
          val got = spark.table(s"seas_tws_$slices").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
              r.getLong(4), r.getLong(5)))
          // every interior row emits exactly once and the r4 trend is the
          // batch column bit-for-bit
          assert(got.length == batch.length,
            s"slices=$slices: ${got.length} emissions vs ${batch.length} batch rows")
          got.foreach { case (u, pos, _, tnum, _, _) =>
            val t = graft.operators.Num.r4Double(tnum.toDouble / 800.0)
            assert(t == bTrend((u, pos)),
              s"slices=$slices: trend diverges at ($u,$pos): $t vs ${bTrend((u, pos))}")
          }
          // the LAST emission per (user, phase) carries the batch phase
          // sufficient statistics: replay the seasonal tree on them
          val fin = got.groupBy(t => (t._1, t._3)).map { case (k, es) =>
            val l = es.maxBy(_._2); k -> ((l._5, l._6)) }
          fin.groupBy(_._1._1).foreach { case (u, phs) =>
            assert(phs.size == 4, s"user $u missing phases")
            val ms = phs.toSeq.sortBy(_._1._2)
              .map { case (_, (sp, c)) => sp.toDouble / c.toDouble / 800.0 }
            val madj = ms.sum / 4.0
            phs.toSeq.sortBy(_._1._2).zip(ms).foreach { case (((_, ph), _), m) =>
              val sIdx = graft.operators.Num.r4Double(m - madj)
              assert(sIdx == bSeas((u, ph)),
                s"slices=$slices: seasonal diverges at ($u,$ph): $sIdx vs ${bSeas((u, ph))}")
            }
          }
        } finally q.stop()
      }
    }
  }

  test("streaming CUSUM alarms (A67): emitted alarm set bit-equal to batch q80 across two slicings; O(1) scalar state") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      // returns the batch alarm set and, for the last slicing, the number
      // of alarms emitted after each micro-batch
      def twin(rows: Seq[(Long, Long, Double)], chunks: Seq[Int],
          name: String): (Set[(Long, Long, Double)], Seq[Long]) = {
        val batch = graft.operators.Relational.tsCusumAlarms(
            rows.toDF("event_id", "user_id", "value")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(batch.nonEmpty, s"$name: fixture must produce some alarms")
        val emitted = chunks.map { chunk =>
          val src = MemoryStream[(Long, Long, Double)]
          val q = EventsPipeline.cusumAlarmsTws(src.toDS())
            .writeStream.format("memory").queryName(s"${name}_$chunk")
            .outputMode("update").start()
          try {
            val counts = rows.grouped(chunk).map { c =>
              src.addData(c: _*)
              q.processAllAvailable()
              spark.table(s"${name}_$chunk").count()
            }.toVector
            val got = spark.table(s"${name}_$chunk").collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
            assert(got == batch,
              s"$chunk rows per micro-batch: missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
            counts
          } finally q.stop()
        }
        (batch, emitted.last)
      }
      val rows = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      twin(rows, Seq(4, 2).map(slices => math.max(1, rows.length / slices)), "cusum_tws")
      // the level holds at 5 and shifts to 9 at t = 41: exactly ONE alarm,
      // at the integer-exact evidence crossing (p = 47, S = 14.00), and
      // none yet after the first 44 arrivals
      val shift = (1 to 80).map(t => (t.toLong, 1L, if (t <= 40) 5.0 else 9.0))
      val (alarms, counts) = twin(shift, Seq(44), "cusum_tws_shift")
      assert(alarms == Set((1L, 47L, 14.0)) && counts == Seq(0L, 1L),
        s"alarms=$alarms, emitted after each micro-batch=$counts")
    }
  }

  test("streaming trend monitor (A68): final emission per user bit-equal to batch q81 across two slicings; fits emitted from n=2 on") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    withConf(EventsPipeline.RocksDBStateStore) {
      val sf = "/root/testdata/sf0.001"
      val rows = Tables.events(spark, sf)
        .select("event_id", "user_id", "value").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val batch = graft.operators.Relational.tsTrendLine(Tables.events(spark, sf))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
      Seq(4, 2).foreach { slices =>
        val src = MemoryStream[(Long, Long, Double)]
        val q = EventsPipeline.trendLineTws(src.toDS())
          .writeStream.format("memory").queryName(s"trend_tws_$slices")
          .outputMode("update").start()
        try {
          rows.grouped(math.max(1, rows.length / slices)).foreach { chunk =>
            src.addData(chunk.toIndexedSeq: _*)
            q.processAllAvailable()
          }
          val got = spark.table(s"trend_tws_$slices").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
              r.getDouble(3), r.getDouble(4)))
          got.groupBy(_._1).foreach { case (u, es) =>
            assert(es.map(_._2).sorted.toSeq == (2L to es.map(_._2).max).toSeq,
              s"user $u: one fit per arrival from n=2")
            val l = es.maxBy(_._2)
            assert((l._2, l._3, l._4, l._5) == batch(u),
              s"slices=$slices user $u: final fit ${(l._2, l._3, l._4, l._5)} != batch ${batch(u)}")
          }
        } finally q.stop()
      }
    }
  }
}
