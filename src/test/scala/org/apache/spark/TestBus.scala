package org.apache.spark

import org.apache.spark.scheduler.{SparkListenerStageCompleted, StageInfo}

/** Test access to the listener bus, which is `private[spark]`. */
object TestBus {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** Posts `n` completions of a stage that never ran (id -1, unknown to
    * the status store) — a burst the bus delivers behind the caller. */
  def postStageBurst(sc: SparkContext, n: Int): Unit = {
    val ghost = new StageInfo(-1, 0, "burst", 0, Seq.empty, Seq.empty, "",
      null, Seq.empty, None, 0, false, 0)
    (1 to n).foreach(_ => sc.listenerBus.post(SparkListenerStageCompleted(ghost)))
  }
}
