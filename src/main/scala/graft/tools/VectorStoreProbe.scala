package graft.tools

import org.apache.spark.sql.functions._

/** q144/q145 scale probe (round 14+): measures, per standing-corpus size,
  *
  *  - q144 streaming-store economics: artifact training wall (bounded
  *    sample ⇒ flat past PqTrainTarget), the per-batch INGEST wall for a
  *    FIXED 2000-vector batch (the property the streaming twin lives on:
  *    per-batch cost must not grow with the standing store), store bytes,
  *    and the serve's probed-cell byte fraction;
  *  - q145 anisotropic-PQ walls: training (bounded sample ⇒ flat) and
  *    the full encode+IP-ADC serve (linear in corpus — the brute-PQ
  *    rung; production composes it with the IVF partitioner).
  *
  * Usage: runMain graft.tools.VectorStoreProbe [n1,n2,...] [outRoot]
  * (default 20000,200000,600000)
  */
object VectorStoreProbe {
  private def dirBytes(p: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("20000,200000,600000")
      .split(",").map(_.trim.toLong).toSeq
    val root = args.lift(1).getOrElse("/tmp/graft_vsp")
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import graft.queries.SimilarityOps
    val dim = 64
    val batchN = 2000L
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    sizes.foreach { n =>
      val dir = s"$root/n$n"
      // uniform hash-derived corpus: standing [0, n) + 3 ingest batches
      spark.range(n + 3 * batchN).toDF("vec_id")
        .withColumn("embedding", transform(sequence(lit(0), lit(dim - 1)),
          j => ((pmod(hash(col("vec_id"), j), lit(2001)) - 1000)
            .cast("double") / 1000.0).cast("float")))
        .repartition(math.max(2, (n / 100000L).toInt))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      graft.queries.ArtifactCache.clearAll()
      val e = graft.sources.Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // frozen artifacts on the standing slice (bounded-sample training)
      val (coarse, tCoarse) = timed(
        SimilarityOps.lloydCentroids(spark, dir, 8, 3, maxVec = n))
      val (pq, tPq) = timed(SimilarityOps.pqCodebooks(spark, dir,
        SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters,
        maxVec = n))
      val store = s"$dir/store"
      // bootstrap: the standing corpus as batch 0
      val (_, tBoot) = timed(graft.streaming.VectorStoreIngest.ingestBatch(
        e.filter(col("vec_id") < n), 0L, store, coarse, pq))
      // three FIXED-SIZE ingest batches — the flat-cost claim
      val batchWalls = (0 until 3).map { i =>
        val lo = n + i * batchN
        val (_, t) = timed(graft.streaming.VectorStoreIngest.ingestBatch(
          e.filter(col("vec_id") >= lo && col("vec_id") < lo + batchN),
          i + 1L, store, coarse, pq))
        t
      }
      // serve: probed-cell pruning over the multi-batch store
      val stDf = spark.read.parquet(store)
      val probeCells = e.filter(col("vec_id") < 10)
        .select(graft.plans.NearestCentroid
          .cell(col("embedding"), coarse).as("cell"))
        .distinct().collect().map(_.getInt(0)).toSeq
      // force a real data read: a bare count() is answered from parquet
      // footers without decoding the codes column — aggregate over the
      // codes so the serve wall prices actual record materialization
      val (served, tServe) = timed(
        stDf.filter(col("cell").isin(probeCells: _*))
          .agg(count(lit(1)), sum(element_at(col("codes"), 1)))
          .collect()(0).getLong(0))
      val total = dirBytes(java.nio.file.Paths.get(store))
      val touched = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(p =>
            java.nio.file.Files.isRegularFile(p) &&
            probeCells.exists(c => p.toString.contains(s"cell=$c/")))
            .map(java.nio.file.Files.size(_)).sum
        } finally s.close()
      }
      System.err.println(f"[vsp q144] n=$n%-7d coarse=$tCoarse%6.2f s pq=$tPq%6.2f s " +
        f"bootstrap=$tBoot%6.2f s batch2k=${batchWalls.map(w => f"$w%.2f").mkString("/")} s " +
        f"serve=$tServe%5.2f s ($served rows, ${100.0 * touched / math.max(total, 1L)}%.1f%% of " +
        f"${total / 1024.0 / 1024.0}%.1f MB)")
      // q145: anisotropic training (bounded sample) + full encode/serve
      val (_, tAniso) = timed(SimilarityOps.anisoCodebooks(spark, dir,
        SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters,
        eta = SimilarityOps.AnisoEta, maxVec = n))
      val (rows145, tServe145) = timed(SimilarityOps.anisoPqTop5(spark, dir,
        SimilarityOps.AnisoEta, maxVec = n).count())
      System.err.println(f"[vsp q145] n=$n%-7d train=$tAniso%6.2f s " +
        f"encode+serve=$tServe145%6.2f s ($rows145 rows)")
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(dir))
    }
    spark.stop()
  }
}
