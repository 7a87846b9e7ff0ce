package org.apache.spark.cdcbenchshim

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event, so the
  * benchmark's listener holds all job and task ends before it is read. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
