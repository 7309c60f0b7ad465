package org.apache.spark

/** The one non-public call the benchmark makes: block until the listener
  * bus has delivered every posted event, so a traced run reads complete
  * listener data. Untraced runs never call it.
  */
object GraftBenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
