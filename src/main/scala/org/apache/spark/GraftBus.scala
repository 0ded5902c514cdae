package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so a
  * window measured by [[graft.core.Meter]] holds exactly the events its
  * body caused. Lives in Spark's package because the listener bus is
  * `private[spark]`. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
