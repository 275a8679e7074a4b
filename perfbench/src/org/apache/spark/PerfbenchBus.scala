package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's tracer sees the events of an operation before it closes
  * the operation's span. The bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
