package org.apache.spark.crawlbench

import org.apache.spark.SparkContext

/** The listener bus drains asynchronously; a tracer reads its records
  * only after every posted event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
