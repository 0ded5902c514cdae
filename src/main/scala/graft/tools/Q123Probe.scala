package graft.tools

/** q123/q97 cost decomposition (r18): splits the IVF-PQ serve path into
  * quantizer training, Catalyst work (analysis+optimization+physical
  * planning of the giant literal LUT / cell-ranking trees) and execution,
  * so "dispatch jobs" vs "planning of 1000-literal expression trees" can
  * be told apart. Usage: `sbt "runMain graft.tools.Q123Probe [sfDir]"`. */
object Q123Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[q123probe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    import graft.queries.SimilarityOps
    val slice = SimilarityOps.IvfPqGateSlice
    // warm JIT/codegen once, then measure with warm artifact caches
    graft.queries.ArtifactCache.clearAll()
    t("warmup q123 (cold caches)") {
      SimilarityOps.ivfPqRerank(spark, dir, slice)
        .write.format("noop").mode("overwrite").save()
    }
    (1 to 3).foreach { i =>
      t(s"training (cached, pass $i)") {
        SimilarityOps.lloydCentroids(spark, dir, 8, 3, slice)
        SimilarityOps.pqCodebooks(spark, dir,
          SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters,
          maxVec = slice)
      }
      val df = t(s"q123 construct (pass $i)") {
        SimilarityOps.ivfPqRerank(spark, dir, slice)
      }
      t(s"q123 plan (pass $i)") { df.queryExecution.executedPlan }
      t(s"q123 execute (pass $i)") {
        df.write.format("noop").mode("overwrite").save()
      }
      val df97 = t(s"q97 construct (pass $i)") {
        SimilarityOps.ivfPqTop5(spark, dir, slice)
      }
      t(s"q97 plan (pass $i)") { df97.queryExecution.executedPlan }
      t(s"q97 execute (pass $i)") {
        df97.write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
