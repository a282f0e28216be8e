package org.apache.spark.embedbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts for a finished job are complete when read. The bus
  * is Spark-private, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
