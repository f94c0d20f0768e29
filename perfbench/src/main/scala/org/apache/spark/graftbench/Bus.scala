package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; the tracer drains the bus
  * before it reads its counters so every task lands in the right span. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
