package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener delivery is asynchronous; the traced run reads its
  * counters only after every posted event has been handled. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
