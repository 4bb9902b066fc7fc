package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Accessor for the `private[spark]` listener bus, so the tracer can
  * wait for every queued event of a query before it closes the query's
  * span. Lives under `org.apache.spark` only for that visibility. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
