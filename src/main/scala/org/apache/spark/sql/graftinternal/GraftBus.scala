package org.apache.spark.sql.graftinternal

import org.apache.spark.SparkContext

/** Spark's listener bus delivers events asynchronously and its flush is
  * package-private. A probe that reads listener totals (stage metrics,
  * streaming progress) drains the bus first, so every event posted
  * before the call has been delivered.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
