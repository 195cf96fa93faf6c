package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is private to Spark. */
object TestBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
