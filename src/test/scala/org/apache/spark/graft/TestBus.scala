package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so a
  * test reading listener-collected events sees all that came before. The
  * bus is package-private to Spark, hence this file's package. */
object TestBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
