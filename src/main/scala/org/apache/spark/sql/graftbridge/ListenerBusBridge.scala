package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: block until every event
  * posted so far has reached its listeners. The deterministic drain
  * behind [[graft.Tools.Counters]]; nothing else from the bus is used. */
object ListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
