package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus: events are delivered
  * asynchronously, so a spec that counts them waits for the bus to
  * drain first. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
