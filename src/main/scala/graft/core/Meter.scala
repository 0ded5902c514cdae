package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What one measured window cost: jobs started, stages and tasks run,
  * input and shuffle volume from the task metrics, and the body's wall.
  * Input counts records and bytes read from data sources and from cached
  * or checkpointed blocks alike (Spark's `inputMetrics`). */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
    inputRecords: Long, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, wallSec: Double)

/** The engine's one profiling listener. `measure` drains the listener bus,
  * registers a fresh listener, runs the body, drains again and removes the
  * listener, so the counts hold exactly the events the body caused: no
  * caller sleeps until a counter stops moving or plants marker jobs.
  * Windows must not overlap other work on the same SparkContext — a job
  * another thread starts inside the window is counted too. */
object Meter {

  def measure[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val tally = new Tally
    GraftBus.drain(sc)
    sc.addSparkListener(tally)
    try {
      val t0 = System.nanoTime()
      val result = body
      val sec = (System.nanoTime() - t0) / 1e9
      GraftBus.drain(sc)
      (result, tally.counts(sec))
    } finally sc.removeSparkListener(tally)
  }

  private final class Tally extends SparkListener {
    private val jobs, stages, tasks, inRecords, inBytes, shufRead, shufWrite =
      new AtomicLong(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        inRecords.addAndGet(m.inputMetrics.recordsRead)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def counts(wallSec: Double): Counts = Counts(jobs.get(), stages.get(),
      tasks.get(), inRecords.get(), inBytes.get(), shufRead.get(),
      shufWrite.get(), wallSec)
  }
}
