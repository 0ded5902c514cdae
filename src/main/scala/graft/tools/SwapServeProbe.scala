package graft.tools

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.SimilarityOps
import graft.streaming.DriftingVectorStore

/** Concurrency probe for the q150 drift-retrain lifecycle's
  * NON-BLOCKING-REINDEX claim (r15 verdict item 9): a frontend keeps
  * serving ADC probes THROUGH the epoch swap. The serving thread loops
  * [[DriftingVectorStore.serveSnapshot]] → ADC top-5 while the main
  * thread ingests an in-distribution batch and then the drift batch
  * (retrain + full re-encode + publish). Assertions: ZERO failed
  * serves, every serve returns the full probe result, every serve saw a
  * CONSISTENT published state (epoch 0 until the swap, epoch 1 after —
  * never a partial directory, because the volatile publish happens only
  * after the new epoch, triggering batch included, is on disk).
  *
  * Usage: runMain graft.tools.SwapServeProbe [mult] [outRoot]
  */
object SwapServeProbe {
  def main(args: Array[String]): Unit = {
    val m = args.headOption.map(_.toInt).getOrElse(10)
    val outRoot = args.lift(1).getOrElse("/tmp/graft_swap")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = graft.core.GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]")
          .appName("graft-swap-serve-probe"),
        math.max(cpus, 4))
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"$outRoot/x$m"
    ScaleStress.synthesize(spark, dir, m)
    val n = 2000L * m
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("swapprobe").toString
    try {
      val dvs = new DriftingVectorStore(s"$base/store", 8, 3,
        SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
      dvs.init(spark, e)
      val expectRows = SimilarityOps.adcProbeServe(
        e, dvs.store, dvs.coarse, dvs.pq, 2, "swap-warm").count()
      val stop = new AtomicBoolean(false)
      val serves = new AtomicInteger(0)
      val failures = new AtomicInteger(0)
      val epochsSeen =
        java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val inconsistent = new AtomicInteger(0)
      val server = new Thread(() => {
        while (!stop.get()) {
          try {
            val (ep, st, c, p) = dvs.serveSnapshot()
            val rows = SimilarityOps
              .adcProbeServe(e, st, c, p, 2, s"swap-e$ep").count()
            epochsSeen.add(ep)
            serves.incrementAndGet()
            // every serve must return the complete probe wave — a
            // partial epoch directory would lose candidates or rows
            if (rows != expectRows) inconsistent.incrementAndGet()
          } catch {
            case _: InterruptedException => ()
            case ex: Throwable =>
              failures.incrementAndGet()
              System.err.println(s"[swap] serve FAILED: ${ex.getClass.getSimpleName}: ${ex.getMessage}")
          }
        }
      }, "swap-serve-frontend")
      server.start()
      // in-distribution batch lands while serving (no swap)
      val batchA = e.filter(col("vec_id") < 2000)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val ra = dvs.ingest(batchA, 1L)
      require(!ra.retrained, f"in-distribution batch retrained (${ra.driftRatio}%.2f)")
      // the drift batch: retrain + full re-encode + publish, mid-serving
      val batchB = e.filter(col("vec_id") < 2000)
        .select((col("vec_id") + 20000000L).as("vec_id"),
          transform(col("embedding"), x => x + lit(25.0f)).as("embedding"))
      val t0 = System.nanoTime()
      val rb = dvs.ingest(batchB, 2L)
      val swapSec = (System.nanoTime() - t0) / 1e9
      require(rb.retrained, f"drift batch did not retrain (${rb.driftRatio}%.2f)")
      // a few post-swap serves so epoch 1 is provably observed
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!epochsSeen.contains(1) && System.nanoTime() < deadline)
        Thread.sleep(100)
      stop.set(true)
      server.join(30000)
      val ok = failures.get() == 0 && inconsistent.get() == 0 &&
        epochsSeen.contains(0) && epochsSeen.contains(1)
      System.err.println(
        f"[swap x$m] n=$n serves=${serves.get()} failed=${failures.get()} " +
          f"inconsistent=${inconsistent.get()} epochsSeen=${epochsSeen} " +
          f"swapWall=$swapSec%.1f s  ${if (ok) "OK" else "VIOLATION"}")
      println(s"""{"scale":$m,"n":$n,"serves":${serves.get()},""" +
        s""""failed":${failures.get()},"inconsistent":${inconsistent.get()},""" +
        s""""epochs_seen":${epochsSeen.size()},"swap_sec":$swapSec,"ok":$ok}""")
      if (!ok) sys.exit(1)
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
    spark.stop()
  }
}
