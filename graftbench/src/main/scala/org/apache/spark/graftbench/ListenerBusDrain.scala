package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so
  * counters read right after an action include that action's jobs. The bus
  * is only reachable from Spark's own package, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
