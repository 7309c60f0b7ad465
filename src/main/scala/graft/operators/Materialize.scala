package graft.operators

import scala.util.DynamicVariable
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way a query materializes a reused frame at build time.
  *
  * `Materialize(df, release*)` checkpoints `df` eagerly with
  * `localCheckpoint(true)` and then unpersists every `release` frame, also
  * when the checkpoint fails, so the returned frame (a scan of the
  * checkpointed RDD) pins no cache. Inside [[planOnly]] it returns `df`
  * unchanged and releases nothing: no checkpoint job runs and the whole
  * plan stays visible to `explain` and the plan audit. A frame a query
  * persisted for `release` then stays cached, so a `planOnly` caller
  * clears the cache when it is done with the plan.
  *
  * Loops that cut lineage once per round (Dedup's connected components,
  * the BPE trainer, q55's window fold) call `localCheckpoint` directly and
  * are listed in `PlanAudit.iterative`: under `planOnly` their loops would
  * nest one plan per round without bound. They free a superseded round's
  * blocks with [[release]].
  */
object Materialize {
  private val planning = new DynamicVariable(false)

  def apply(df: DataFrame, release: DataFrame*): DataFrame =
    if (planning.value) df
    else try df.localCheckpoint(true) finally release.foreach(_.unpersist())

  /** Runs `build` with every [[apply]] inside it returning its input. */
  def planOnly[T](build: => T): T = planning.withValue(true)(build)

  def isPlanOnly: Boolean = planning.value

  /** Frees the blocks of a locally checkpointed frame no reader needs any
    * more. `RDD.unpersist` would warn that the lineage is truncated, which
    * is the point of the checkpoint, so this frees them the way Spark's
    * ContextCleaner does.
    */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.analyzed match {
      case l: LogicalRDD => GraftColumnBridge.unpersistRDD(l.rdd)
      case _ => ()
    }
}
