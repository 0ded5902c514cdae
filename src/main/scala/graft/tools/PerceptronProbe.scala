package graft.tools

import org.apache.spark.sql.functions._

/** q129 cost decomposition probe — times the design-matrix build, vocab
  * collect, and each epoch's miss/aggregate/update jobs in isolation
  * (one timer per stage). Found the r13 fused-explode regression: a
  * per-doc label computed in the explode's projection re-evaluates per
  * token. Usage: `sbt "runMain graft.tools.PerceptronProbe [sfDir]"`. */
object PerceptronProbe {

  /** `--vocab-gate` mode (r13 verdict item 1): synthesizes corpora whose
    * RAW VOCABULARY grows with the corpus (unique tokens ∝ rows — the
    * regime the fixed-25-word ScaleStress corpus can't produce), then runs
    * the gated trainer at each scale and reports raw |vocab|, which tier
    * ran, the driver-held feature count, and wall. The demonstration: past
    * PerceptronVocabMax the trainer switches to hashed features and driver
    * state stays O(B) while the vocabulary grows without bound. */
  private def vocabGate(mults: Seq[Int]): Unit = {
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val baseDocs = 30000L
    mults.foreach { m =>
      val n = baseDocs * m
      val dir = s"/tmp/graft_pgate/m$m"
      val toks = org.apache.spark.sql.functions.transform(
        sequence(lit(1), lit(60)),
        j => concat(lit("w"), pmod(col("doc_id") * 60 + j, lit(n))))
      spark.range(n).toDF("doc_id")
        .select(col("doc_id"), array_join(toks, " ").as("text"),
          lit("en").as("lang"), lit("synth").as("source"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rawVocab = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("t"))
        .agg(countDistinct("t")).head().getLong(0)
      val t0 = System.nanoTime()
      val traj = graft.queries.TextOps
        .perceptronTrajectory(spark, dir, hashBuckets = None)
        .collect()
      val wall = (System.nanoTime() - t0) / 1e9
      val driverFeats = traj.filter(_.getLong(0) == 1L).length
      val tier = if (driverFeats <= graft.queries.TextOps.PerceptronHashBuckets + 2)
        "hashed" else "exact"
      System.err.println(f"[pgate] m=$m docs=$n rawVocab=$rawVocab " +
        f"tier=$tier driverFeats=$driverFeats wall=$wall%.2f s")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--vocab-gate")) {
      vocabGate(args.drop(1).headOption.getOrElse("1,10,30")
        .split(",").map(_.trim.toInt).toSeq)
      return
    }
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[pp] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = graft.sources.Tables(spark, dir, "documents")
    val toks = split(col("text"), " ")
    val dtf = t("dtf build+checkpoint") {
      val d = docs
        .select(col("doc_id"), col("text"), toks.as("toks"))
        .select(col("doc_id"), lit(1L).as("y"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "y", "tok").agg(count(lit(1)).as("tf"))
        .repartition(col("doc_id"))
        .localCheckpoint(eager = true)
      d
    }
    val vocab = t("vocab collect") { dtf.select("tok").distinct().collect().map(_.getString(0)).sorted }
    System.err.println(s"[pp] vocab=${vocab.length} dtf rows=${dtf.count()}")
    var wmap = vocab.map(_ -> 0L).toMap
    for (e <- 1 to 3) {
      val wdf = broadcast(wmap.toSeq.toDF("tok", "w"))
      val miss = t(s"e$e miss checkpoint") {
        dtf.join(wdf, Seq("tok"))
          .groupBy("doc_id", "y")
          .agg((sum(col("tf") * col("w")) + lit(0L)).as("margin"))
          .filter(col("y") * col("margin") <= 0)
          .select(col("doc_id"), col("y").as("my"))
          .localCheckpoint()
      }
      t(s"e$e bm agg") { miss.agg(coalesce(sum(col("my")), lit(0L)), count(lit(1))).head() }
      t(s"e$e upd collect") {
        dtf.join(miss, Seq("doc_id")).groupBy("tok")
          .agg(sum(col("my") * col("tf")).as("v")).collect()
      }
    }
    spark.stop()
  }
}
