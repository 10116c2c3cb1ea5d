package org.apache.spark.olapbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so task
  * counters of finished jobs are complete before they are read. The bus is
  * private to Spark's own package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
