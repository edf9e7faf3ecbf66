package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Lets the harness wait until every queued listener event has been
  * delivered, so per-operation counters are complete before they are
  * read. The listener bus is private to Spark's own packages. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
