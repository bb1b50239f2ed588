package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every listener has seen every event posted so far. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
