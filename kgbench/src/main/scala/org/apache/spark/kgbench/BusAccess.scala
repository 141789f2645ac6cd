package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Waits for Spark's listener bus to deliver every posted event, so the
  * benchmark's listeners have seen a job before its numbers are read. The
  * bus is `private[spark]`, hence this package. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
