package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the traced run drains it before
  * reading its listener's counters, so every event of a finished call has
  * been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
