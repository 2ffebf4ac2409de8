package org.apache.spark.graftbenchshim

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so task
  * metrics read after a traced pass are complete. `listenerBus` is
  * private[spark], hence this one-line shim in the org.apache.spark
  * namespace.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
