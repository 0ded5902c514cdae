package org.apache.spark

/** Blocks until every event posted so far has reached the listeners — the
  * traced run closes a span only after the events it caused were counted.
  * Lives in Spark's package because the listener bus is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
