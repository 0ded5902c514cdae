package graft.tools

/** Prints a learned BPE merge table as Scala source — the one-time
  * offline step that produced [[graft.operators.BpeTrainer.LearnedMerges]]
  * (the fixed merge list the q85 oracle gate applies on both engines).
  *
  * Usage: runMain graft.tools.BpeLearn [sfDir] [numMerges]
  */
object BpeLearn {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(24)
    val spark = graft.core.GraftSession.local()
    val merges = graft.operators.BpeTrainer.train(
      graft.sources.Tables(spark, dir, "documents"), "text", k)
    merges.foreach(m =>
      println(s"""    Merge("${m.left}", "${m.right}"),"""))
    spark.stop()
  }
}
