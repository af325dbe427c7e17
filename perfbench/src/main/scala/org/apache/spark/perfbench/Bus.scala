package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the `spark` package:
  * listener events arrive asynchronously, so a reader of listener
  * totals first waits until every posted event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
