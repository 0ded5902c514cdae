package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan auditor: per query, the physical-plan signals that matter at
  * scale — scan schemas + pushed filters, join strategies, exchange count,
  * and obvious smells (cartesian products, unpruned wide scans).
  *
  * Two consumers: the `main` prints a human audit; `PlanBaselineSpec`
  * asserts every query's [[PlanSig]] against the committed
  * `src/test/resources/plan-baseline.tsv`, so a change that adds a shuffle
  * or drops whole-stage codegen FAILS THE BUILD instead of shipping a
  * 100 TB regression. Regenerate the baseline after an intentional plan
  * change with:
  * {{{ sbt "runMain graft.tools.PlanCheck --write-baseline" }}}
  */
object PlanCheck {

  /** The plan properties we pin per query. `joins` is a stable rendering
    * like `BroadcastHashJoin:2`. */
  final case class PlanSig(shuffles: Int, wscg: Boolean, joins: String,
      cartesian: Boolean) {
    def tsv: String = s"$shuffles\t$wscg\t${if (joins.isEmpty) "-" else joins}\t$cartesian"
  }

  object PlanSig {
    def fromTsv(fields: Seq[String]): PlanSig = PlanSig(
      fields(0).toInt, fields(1).toBoolean,
      if (fields(2) == "-") "" else fields(2), fields(3).toBoolean)
  }

  /** Run `body` with static (non-adaptive) planning and untruncated plan
    * metadata, restoring the previous conf values after. Static plans are
    * the auditable ones: an unexecuted AdaptiveSparkPlan hides codegen
    * wrapping, and truncated metadata cuts ReadSchema mid-struct. */
  def withStaticPlans[A](spark: SparkSession)(body: => A): A = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevMeta = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.maxMetadataStringLength", prevMeta)
    }
  }

  /** Physical-plan signature of one query (call inside [[withStaticPlans]]). */
  def signature(spark: SparkSession, dir: String, name: String): PlanSig = {
    val plan = graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString
    val joins = List("BroadcastHashJoin", "SortMergeJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
      .map(j => j -> j.r.findAllIn(plan).length).filter(_._2 > 0)
      .map { case (k, v) => s"$k:$v" }.mkString(",")
    PlanSig(
      shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length,
      wscg = plan.contains("WholeStageCodegen") ||
        "\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      joins = joins,
      cartesian = plan.contains("CartesianProduct"))
  }

  /** Post-Generate recompute lint (the q118 `postingsOf` regression class):
    * a Project sitting ABOVE a Generate runs once per GENERATED row, so an
    * expensive expression there that references only columns carried
    * through from the generator's input (never the generator output) is
    * re-evaluated explode-fanout× more often than needed — it belongs in a
    * projection BELOW the Generate. Spelling `size(split(text))` beside
    * `explode(split(text))` in one select is the canonical trap (measured
    * 72 s vs 3.5 s for the q118 postings pass on the 30× scale corpus).
    * Returns one human-readable finding per offending expression;
    * `PlanBaselineSpec` asserts the count is ZERO for every gated query. */
  def postGenerateRecomputes(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec}
    def expensive(e: Expression): Boolean = e match {
      case _: StringSplit | _: RegExpExtract | _: RegExpExtractAll |
          _: RegExpReplace | _: RLike | _: GetJsonObject | _: JsonToStructs |
          _: Sha1 | _: Sha2 | _: Md5 | _: Crc32 => true
      case _: HigherOrderFunction => true
      case _ => false
    }
    def stripAdapter(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case a: InputAdapter => a.child
      case other => other
    }
    plan.collect {
      case proj @ ProjectExec(_, child) =>
        stripAdapter(child) match {
          case g: GenerateExec =>
            val carried = AttributeSet(g.requiredChildOutput)
            proj.projectList.flatMap { ne =>
              ne.collect {
                case e if expensive(e) && e.references.nonEmpty &&
                    e.references.subsetOf(carried) =>
                  s"${e.getClass.getSimpleName}(${e.references.toSeq
                    .map(_.name).sorted.mkString(",")}) evaluated per " +
                    s"generated row above ${g.generator.getClass.getSimpleName}"
              }
            }
          case _ => Nil
        }
    }.flatten
  }

  val BaselinePath = "src/test/resources/plan-baseline.tsv"

  def main(args: Array[String]): Unit = {
    val writeBaseline = args.contains("--write-baseline")
    val dir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.local(8)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val out = new StringBuilder
    graft.queries.ArtifactCache.clearAll() // signatures assume a cold cache
    withStaticPlans(spark) {
      names.foreach { name =>
        try {
          val df = graft.SparkEntry.queries(name)(spark, dir)
          val plan = df.queryExecution.executedPlan.toString
          val sig = signature(spark, dir, name)
          val scans = "ReadSchema: struct<([^>]*)>".r
            .findAllMatchIn(plan).map(_.group(1).split(",").length).toList
          val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
            .findAllMatchIn(plan).map(_.group(1)).toList
          println(s"== $name scanCols=${scans.mkString("/")} " +
            s"shuffles=${sig.shuffles} wscg=${sig.wscg} joins=${sig.joins}")
          pushed.filter(_.nonEmpty).foreach(p => println(s"   pushed: $p"))
          if (sig.cartesian) println(s"   !! cartesian product in $name")
          postGenerateRecomputes(df.queryExecution.executedPlan)
            .foreach(f => println(s"   !! post-Generate recompute: $f"))
          out ++= s"$name\t${sig.tsv}\n"
        } catch {
          case e: Throwable => println(s"== $name ERROR ${e.getMessage.take(100)}")
        }
      }
    }
    if (writeBaseline) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(BaselinePath), out.toString)
      println(s"[plancheck] baseline written to $BaselinePath")
    }
    spark.stop()
  }
}
