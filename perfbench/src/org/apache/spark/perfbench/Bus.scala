package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under org.apache.spark only to reach the listener bus, which is
  * private[spark]: the traced run drains it before reading what its
  * listener charged to an op. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
