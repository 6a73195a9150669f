package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** Test glue: wait until the listener bus delivered every queued event, so
  * a listener's counts are final without sleeping. */
object ListenerBusGlue {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
