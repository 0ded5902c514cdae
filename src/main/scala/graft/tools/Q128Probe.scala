package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.functions._

/** Decomposes q128's cost: times (and job-counts) the shingle-tf·idf
  * artifact build, the tail dot/candidate checkpoint, and the final
  * declared query separately — the r18 measurement behind the q128 work
  * (guide §1: know where the time goes before moving anything). */
object Q128Probe {
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
    def run(): Unit =
      graft.SparkEntry.queries("q128_tfidf_cosine_pairs")(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    def timed(label: String)(body: => Unit): Unit = {
      settle(); val j0 = jobs.get(); val t0 = System.nanoTime()
      body
      settle()
      println(f"[q128probe] $label%-28s jobs=${jobs.get() - j0}%3d " +
        f"sec=${(System.nanoTime() - t0) / 1e9}%7.3f")
    }
    // warm pass (JIT + codegen), then clear and decompose
    run()
    graft.queries.ArtifactCache.clearAll()
    timed("artifact (shingleTfIdf)") {
      // materialize the cached artifact alone via a cheap consumer
      graft.queries.DedupOps.q128ArtifactForProbe(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    }
    timed("rest (dt + final, warm art)") { run() }
    graft.queries.ArtifactCache.clearAll()
    timed("full (cold caches)") { run() }
    spark.stop()
  }
}
