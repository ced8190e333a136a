package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus. Listener events
  * are delivered asynchronously; after [[drain]] every listener has
  * seen every event posted before the call, so a metrics read needs no
  * fixed sleep. Streaming progress events travel on the same bus. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
