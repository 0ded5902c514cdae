package graft.tools

import java.util.concurrent.atomic.AtomicLong

/** Dispatch-floor census (r10 verdict item 5): the fixed per-job cost
  * (~0.1–0.4 s scheduling + planning on this host) dominates the suite's
  * small queries, so the lever is JOB COUNT, not plan shape. This probe
  * runs every bench-timed query warm at the given SF with a job-counting
  * listener and prints (jobs, seconds) per query, descending by jobs —
  * the worklist for batching multi-job builders (the q112 momentsBy
  * precedent: 3 moment scans → 1 grouped aggregation). */
object JobsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.lift(1).map(_.split(",").map(_.trim).toSet)
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
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(graft.SparkEntry.untimed)
      .filter(n => only.forall(f => f.exists(n.startsWith)))
    def exec(n: String): Unit =
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    graft.queries.ArtifactCache.clearAll()
    names.foreach(exec) // warm: JIT, codegen, artifact caches
    graft.queries.ArtifactCache.clearAll()
    val stats = names.map { n =>
      settle()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      exec(n)
      val sec = (System.nanoTime() - t0) / 1e9
      settle()
      (n, jobs.get() - j0, sec)
    }
    stats.sortBy(-_._2).foreach { case (n, j, s) =>
      println(f"[jobs] $n%-34s jobs=$j%3d  sec=$s%7.3f")
    }
    println(f"[jobs] total jobs=${stats.map(_._2).sum}%d " +
      f"queries=${stats.size}%d wall=${stats.map(_._3).sum}%.1f s")
    spark.stop()
  }
}
