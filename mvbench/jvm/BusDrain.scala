package org.apache.spark

/** Wait until Spark's listener bus has delivered every queued event, so the
  * traced phase's job, task and query-execution events are all counted
  * before they are attributed. The bus is package-private to Spark. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
