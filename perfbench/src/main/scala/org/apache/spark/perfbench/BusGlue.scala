package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access: the bus delivers events asynchronously, so a trace
  * of one op is complete only once the bus has drained. */
object BusGlue {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
