package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.StreamingExecutionRelation
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.Clock

/** Bridge into Spark's private[sql] API: the Column factory, so graft's
  * custom Catalyst expressions (SURVEY.md H1) can be used as Columns
  * without a function-registry round-trip, and the streaming entry points
  * the embedded [[graft.streaming.Nibbler]] starts its query through, and
  * the block release [[graft.operators.Materialize.release]] uses. Lives
  * in the org.apache.spark.sql package solely for access; no Spark
  * internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over an arbitrary logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Free `rdd`'s cached blocks without `RDD.unpersist`'s warning that a
    * locally checkpointed RDD cannot be recomputed.
    */
  def unpersistRDD(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Start an append-mode streaming query that reads the V1 `source` into
    * the V1 `sink`, with a temporary checkpoint that is deleted on stop.
    * `DataStreamWriter` cannot take a trigger clock, so this goes through
    * the private[sql] `StreamingQueryManager.startQuery`.
    */
  def startQuery(spark: SparkSession, name: String, source: Source, sink: Sink,
      trigger: Trigger, clock: WakeClock): StreamingQuery = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.streams.startQuery(
      userSpecifiedName = Some(name),
      userSpecifiedCheckpointLocation = None,
      df = classic.Dataset.ofRows(session, StreamingExecutionRelation(source, session)),
      extraOptions = Map.empty,
      sink = sink,
      outputMode = OutputMode.Append(),
      useTempCheckpointLocation = true,
      trigger = trigger,
      triggerClock = clock)
  }
}

/** A trigger clock whose `waitTillTime` also returns as soon as [[wake]]
  * is called. A wake that arrives while no wait is in progress is kept for
  * the next wait, so none is lost. Interrupting the waiting thread throws
  * `InterruptedException`, which is how `StreamingQuery.stop` ends the
  * trigger loop.
  */
final class WakeClock extends Clock {
  private var woken = false

  def wake(): Unit = synchronized { woken = true; notifyAll() }

  override def getTimeMillis(): Long = System.currentTimeMillis()
  override def nanoTime(): Long = System.nanoTime()

  override def waitTillTime(targetTime: Long): Long = synchronized {
    var now = getTimeMillis()
    while (!woken && now < targetTime) {
      wait(targetTime - now)
      now = getTimeMillis()
    }
    woken = false
    now
  }
}
