package graft.tools

/** IVF-PQ cost decomposition probe: times the coarse-quantizer training,
  * the fused PQ codebook training, and the query (cold + warm) in
  * isolation — the q97 counterpart of BenchDebug/CCProbe. Usage:
  * `sbt "runMain graft.tools.PqProbe [sfDir]"`. */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(16)
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[pqprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    graft.queries.ArtifactCache.clearAll()
    t("coarse lloyd (8,3)") { graft.queries.SimilarityOps.lloydCentroids(spark, dir, 8, 3) }
    t("pq codebooks fused (16,16,3)") { graft.queries.SimilarityOps.pqCodebooks(spark, dir, 16, 16, 3) }
    // unsliced path (the gate query slice-bounds; scaling is probed here)
    t("full q97 (warm caches)") { graft.queries.SimilarityOps.ivfPqTop5(spark, dir).write.format("noop").mode("overwrite").save() }
    t("full q97 again") { graft.queries.SimilarityOps.ivfPqTop5(spark, dir).write.format("noop").mode("overwrite").save() }
    spark.stop()
  }
}
