package org.apache.spark.graftbenchaccess

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously. Reading counters after
  * `drain` sees every event posted before the call. The listener bus
  * is private to Spark's package, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
