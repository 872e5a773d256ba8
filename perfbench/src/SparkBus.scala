package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, so a report reads listener state only
  * after every queued event has been delivered.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
