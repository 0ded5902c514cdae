package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.functions._

/** Decomposes q132's cost: PCA basis, rotated-corpus checkpoint, PQ
  * training, and the final declared query (guide §1). */
object Q132Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    def settle(): Unit = {
      var last = -1L; var spins = 0
      while (jobs.get() != last && spins < 40) {
        last = jobs.get(); Thread.sleep(50); spins += 1
      }
    }
    def timed(label: String)(body: => Unit): Unit = {
      settle(); val j0 = jobs.get(); val t0 = System.nanoTime()
      body
      settle()
      println(f"[q132probe] $label%-28s jobs=${jobs.get() - j0}%3d " +
        f"sec=${(System.nanoTime() - t0) / 1e9}%7.3f")
    }
    def run(): Unit =
      graft.SparkEntry.queries("q132_opq_rotated_pq")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    run() // warm
    graft.queries.ArtifactCache.clearAll()
    timed("pcaBasis") {
      graft.queries.SimilarityOps.q132PcaBasisForProbe(spark, sfDir)
    }
    timed("rotated corpus ckpt") {
      graft.queries.SimilarityOps.q132RotForProbe(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    timed("pq train (warm rot)") {
      graft.queries.SimilarityOps.q132PqForProbe(spark, sfDir)
    }
    timed("final (warm artifacts)") { run() }
    graft.queries.ArtifactCache.clearAll()
    timed("full (cold caches)") { run() }
    spark.stop()
  }
}
