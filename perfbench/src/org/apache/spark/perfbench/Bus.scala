package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer: a span boundary
  * waits until every event posted so far (task ends, block updates) has
  * reached the benchmark's listener, so counters read at the boundary
  * belong to the work before it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
