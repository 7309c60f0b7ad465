package graft.streaming

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger => SSTrigger}
import org.apache.spark.storage.StorageLevel

/** Distributed counterpart of [[Nibbler]] (SURVEY.md A13): the same
  * size-or-ticker semantics applied to ANY streaming Dataset — file source,
  * rate source, Kafka-shaped sources — without collecting batches to the
  * driver.
  *
  * The ticker is the processing-time trigger; "batch full" is detected by
  * counting the micro-batch. The batch is persisted first, and the count
  * runs over its cached plan (a bare in-memory scan with no exchange), so
  * classifying the batch costs one Spark job that scans the source once,
  * fills the cache and returns the row count; the processor's passes then
  * read the loaded cache. The processor receives the whole micro-batch as
  * a Dataset, so its work (writes to a sink, bulk upserts — the reference
  * README's "bulk insert" use case) runs distributed on executors. The
  * cache is released when the processor returns or fails.
  *
  * Error semantics mirror the reference (nibbler.go:137-149): processor
  * exceptions route to `onError` with the failed batch; `resumeAfterErr`
  * decides whether the query keeps running (offsets advance past the failed
  * batch) or fails.
  */
object NibblerSink {

  final case class Config[T](
      processor: (Trigger, Dataset[T]) => Unit,
      /** Batches at least this large count as BATCH_FULL flushes. At scale,
        * pair with source rate limits (maxFilesPerTrigger /
        * maxOffsetsPerTrigger) so one trigger ~ one "full" batch.
        */
      size: Long = 100L,
      tickerDuration: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(1, "min"),
      resumeAfterErr: Boolean = false,
      onError: (Dataset[T], Throwable) => Unit = null)

  /** Durable last-committed-batch marker for exactly-once foreachBatch
    * sinks. Structured Streaming replays a failed micro-batch with the
    * SAME batchId, so a sink that skips already-committed ids and commits
    * the marker only AFTER its writes land turns at-least-once redelivery
    * into exactly-once effects — the standard pattern for transactionless
    * sinks. The marker write is atomic (tmp file + rename); a crash
    * between the sink write and commit() re-runs that batch, which is
    * precisely the at-least-once window the sink's writes must tolerate
    * (e.g. by overwrite-by-batchId, as partitioned parquet does).
    */
  final class BatchTracker(path: String) {
    private val file = java.nio.file.Paths.get(path)
    def lastCommitted: Long =
      if (java.nio.file.Files.exists(file))
        new String(java.nio.file.Files.readAllBytes(file)).trim.toLong
      else -1L
    def shouldProcess(batchId: Long): Boolean = batchId > lastCommitted
    def commit(batchId: Long): Unit = {
      val tmp = java.nio.file.Paths.get(path + ".tmp")
      java.nio.file.Files.write(tmp, batchId.toString.getBytes)
      java.nio.file.Files.move(tmp, file,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** Wrap a batch processor in exactly-once semantics via a [[BatchTracker]]:
    * replayed batchIds are skipped, fresh ones are processed then committed.
    */
  def idempotent[T](tracker: BatchTracker)(
      processor: (Trigger, Dataset[T]) => Unit): (Trigger, Dataset[T], Long) => Unit =
    (trigger, batch, batchId) =>
      if (tracker.shouldProcess(batchId)) {
        processor(trigger, batch)
        tracker.commit(batchId)
      }

  /** Attach the micro-batch semantics to a streaming Dataset and return the
    * started query's writer (caller invokes .start()). The optional
    * `withBatchId` processor also receives the deterministic micro-batch id
    * (see [[idempotent]]); when set it replaces `cfg.processor`.
    */
  def writer[T](ds: Dataset[T], cfg: Config[T],
      withBatchId: (Trigger, Dataset[T], Long) => Unit = null): DataStreamWriter[T] =
    ds.writeStream
      .trigger(SSTrigger.ProcessingTime(cfg.tickerDuration.toMillis))
      .foreachBatch { (batch: Dataset[T], batchId: Long) =>
        batch.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // over the persisted plan this is one job that fills the cache;
          // Dataset.count() would plan an aggregate whose AQE stages add
          // a partial-count shuffle and a final stage
          val n = batch.queryExecution.toRdd.count()
          if (n > 0) {
            val trigger =
              if (n >= cfg.size) Trigger.BatchFull else Trigger.Ticker
            try {
              if (withBatchId != null) withBatchId(trigger, batch, batchId)
              else cfg.processor(trigger, batch)
            } catch {
              case NonFatal(e) =>
                if (cfg.onError != null)
                  try cfg.onError(batch, e) catch { case NonFatal(_) => () }
                if (!cfg.resumeAfterErr) throw e
            }
          }
        } finally batch.unpersist()
      }

  def start[T](ds: Dataset[T], cfg: Config[T]): StreamingQuery =
    writer(ds, cfg).start()

  /** Start with exactly-once batch effects: `processor` runs once per
    * distinct batchId even across query restarts/replays (see
    * [[BatchTracker]]).
    *
    * A checkpoint location is REQUIRED, not optional: without one a
    * restarted query re-issues batchIds from 0 while the durable tracker
    * still holds the previous run's high-water mark — every fresh batch
    * up to it would be silently skipped as a "replay". The checkpoint
    * makes batchIds continue monotonically across restarts, which is the
    * invariant the tracker's skip rule depends on.
    */
  def startIdempotent[T](ds: Dataset[T], cfg: Config[T],
      tracker: BatchTracker, checkpointLocation: String): StreamingQuery =
    writer(ds, cfg, idempotent(tracker)(cfg.processor))
      .option("checkpointLocation", checkpointLocation)
      .start()

  /** A32 — AUDITED exactly-once table sink: every micro-batch passes a
    * data-expectations audit BEFORE its rows may touch the table; a
    * failing batch is diverted IN FULL — rows plus a `_report` of its
    * violation counts — to a quarantine area (the G16 write-audit-publish
    * discipline applied at micro-batch granularity: the stream's clean
    * prefix keeps publishing while bad batches wait for triage, instead
    * of one poison batch stopping ingestion or, worse, landing).
    *
    * Exactly-once: batches write to per-batchId subdirs
    * (`batch=<id>`, overwritten on replay — the at-least-once window is
    * absorbed by overwrite, the [[BatchTracker]] marker commits after)
    * and readers of the table root see `batch` as a provenance partition
    * column. Audit verdicts are deterministic per batch, so a replayed
    * batch routes identically.
    */
  def startAudited(df: Dataset[org.apache.spark.sql.Row],
      audit: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      tableDir: String, quarantineDir: String,
      tracker: BatchTracker, checkpointLocation: String,
      tickerDuration: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration(1, "min")): StreamingQuery = {
    val route: (Trigger, Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (_, batch, batchId) => {
        val report = audit(batch.toDF())
          .select("expectation", "violations", "pass").collect()
        val bad = report.filterNot(_.getBoolean(2))
        if (bad.isEmpty) {
          batch.toDF().write.mode("overwrite")
            .parquet(s"$tableDir/batch=$batchId")
        } else {
          val qdir = s"$quarantineDir/batch=$batchId"
          batch.toDF().write.mode("overwrite").parquet(qdir)
          // underscore-prefixed => invisible to parquet readers of qdir.
          // Hadoop FS, not java.nio: quarantineDir is a Spark path (may
          // be hdfs://, s3a://, ...) — a local-API write would throw
          // AFTER the quarantine landed but BEFORE the marker commit,
          // crash-looping the sink on exactly the poison batch it
          // exists to absorb.
          val reportPath = new org.apache.hadoop.fs.Path(qdir, "_report.txt")
          val fs = reportPath.getFileSystem(
            batch.sparkSession.sparkContext.hadoopConfiguration)
          val out = fs.create(reportPath, true)
          try {
            val lines = bad.map(r => s"${r.getString(0)}\t${r.getLong(1)}")
              .mkString("", "\n", "\n")
            out.write(lines.getBytes("UTF-8"))
          } finally out.close()
        }
      }
    // no user processor here — the router IS the sink (a Config whose
    // processor is silently ignored would be a misleading surface); the
    // ticker is the only knob that applies
    val cfg = Config[org.apache.spark.sql.Row](
      processor = (_, _) => (), size = Long.MaxValue,
      tickerDuration = tickerDuration)
    // [[idempotent]] hides the batchId from its processor; the router
    // needs it (subdir naming), so inline the same guard-then-commit
    val guarded: (Trigger, Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (trigger, batch, batchId) =>
        if (tracker.shouldProcess(batchId)) {
          route(trigger, batch, batchId)
          tracker.commit(batchId)
        }
    writer(df, cfg, guarded)
      .option("checkpointLocation", checkpointLocation)
      .start()
  }
}
