package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private. Listener
  * totals are read only after every posted event has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
