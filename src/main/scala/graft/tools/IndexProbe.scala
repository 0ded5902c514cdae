package graft.tools

import org.apache.spark.sql.functions._

/** Stage decomposition for the q118 postings/term-index chain: times the
  * corpus scan, the bare postings aggregation, the localCheckpoint
  * materialization, and the term-index heap pass separately, so a cold-cost
  * regression can be attributed to ONE stage instead of guessed at.
  *
  * Usage: runMain graft.tools.IndexProbe [sfDir]
  */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.core.GraftSession.local(cpus)
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[idxprobe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    time("scan only")(noop(docs))
    time("scan only (warm)")(noop(docs))
    import graft.functions.TextFunctions.tokens
    time("explode only")(noop(docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))))
    time("explode+agg, no dl")(noop(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))))
    time("explode+agg, dl inline")(noop(docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))))
    time("postingsOf (no ckpt)")(noop(graft.queries.IndexOps.postingsOf(docs)))
    val ck = time("postingsOf + localCheckpoint")(
      graft.queries.IndexOps.postingsOf(docs).localCheckpoint(eager = true))
    time("termIndexOf over ckpt")(noop(graft.queries.IndexOps.termIndexOf(ck)))
    graft.queries.ArtifactCache.clearAll()
    time("q118 full (fresh cache)")(
      noop(graft.SparkEntry.queries("q118_inverted_index")(spark, dir)))
    time("q118 full (warm cache)")(
      noop(graft.SparkEntry.queries("q118_inverted_index")(spark, dir)))
    spark.stop()
  }
}
