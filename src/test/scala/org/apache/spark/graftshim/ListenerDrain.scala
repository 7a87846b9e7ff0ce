package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so a
  * spec's listener holds every job start of the code it measured. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
