package graft.tools

import scala.jdk.CollectionConverters._

/** Diagnoses the late-suite slowdown (guide §1/§5): times a probe basket
  * fresh, then after each third of the full suite, reporting alongside each
  * measurement the cumulative Janino codegen compilation count/time
  * (CodegenMetrics — a growing count across passes means the codegen cache
  * is evicting and recompiling), JVM JIT time, GC time, and code-cache /
  * heap occupancy. One suite pass total, so a run is ~1 bench pass long.
  *
  * Usage: runMain graft.tools.SuiteDrift [q87_bigram_lm,q26_fingerprint,...]
  */
object SuiteDrift {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val basket = args.headOption
      .map(_.split(",").toSeq)
      .getOrElse(Seq("q26_fingerprint", "q87_bigram_lm", "q107_winnowing"))
    val spark = graft.core.GraftSession.local(32)

    def noop(n: String): Unit =
      graft.SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val codegen = org.apache.spark.metrics.source.CodegenMetrics
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs: Long = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    def pool(name: String): String =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains(name))
        .map(p => f"${p.getUsage.getUsed / 1e6}%.0fM").mkString("+")
    def stats(label: String): Unit = {
      val cc = codegen.METRIC_COMPILATION_TIME.getCount
      val ccMean = codegen.METRIC_COMPILATION_TIME.getSnapshot.getMean
      println(f"[drift] $label: janinoCompiles=$cc (mean ${ccMean}%.1f ms) " +
        f"jit=${jitMs}ms gc=${gcMs}ms codeCache=${pool("CodeHeap")} " +
        f"heapUsed=${java.lang.Runtime.getRuntime.totalMemory - java.lang.Runtime.getRuntime.freeMemory}%,d")
    }
    def timeBasket(label: String): Unit = {
      basket.foreach { n =>
        val t0 = System.nanoTime()
        noop(n)
        println(f"[drift] $label $n ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      stats(label)
    }

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(graft.SparkEntry.untimed)
    // warm the basket twice so JIT/codegen of the basket itself is done
    timeBasket("fresh-cold")
    timeBasket("fresh-warm")
    val thirds = names.grouped((names.size + 2) / 3).toSeq
    thirds.zipWithIndex.foreach { case (chunk, i) =>
      chunk.foreach(n => if (!basket.contains(n)) noop(n))
      timeBasket(s"after-third-${i + 1}")
    }
    // hygiene passes to bisect the cause
    spark.catalog.clearCache()
    System.gc()
    timeBasket("after-gc")
    spark.stop()
  }
}
