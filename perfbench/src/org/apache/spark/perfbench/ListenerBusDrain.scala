package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  *
  * Spark delivers listener events (task ends, SQL execution ends) on an
  * asynchronous bus; the traced run reads its counters right after a pass,
  * so it must wait for the bus first. `SparkContext.listenerBus` is
  * `private[spark]`, hence this forwarder compiled inside that package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
