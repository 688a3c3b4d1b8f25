package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives in the `org.apache.spark` namespace only to reach the listener
  * bus: the harness reads its listener's aggregates after every event
  * of the measured work has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
