package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event is delivered, so counters
  * read after a measured phase hold all of its tasks.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
