package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so span
  * counts are complete before they are read (the bus is `private[spark]`). */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
