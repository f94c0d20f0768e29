package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a spec that counts them
  * drains the bus first, so every job it started has been seen. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
