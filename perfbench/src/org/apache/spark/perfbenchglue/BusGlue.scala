package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Flush barrier for the listener bus: events are delivered
  * asynchronously, so the flow benchmark's traced run waits here at each
  * span boundary before attributing them. Lives under org.apache.spark
  * only to reach the `private[spark]` listenerBus; nothing is modified. */
object BusGlue {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
