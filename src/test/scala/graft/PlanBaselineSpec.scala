package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanCheck

/** Physical-plan regression gate: every query's plan signature (shuffle
  * count, whole-stage codegen, join strategies, cartesian flag) must match
  * the committed baseline. A diff here means a 100 TB property changed —
  * deliberate changes regenerate with:
  * `sbt "runMain graft.tools.PlanCheck --write-baseline"`. */
class PlanBaselineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val dir = "/root/testdata/sf0.01"

  private lazy val baseline: Map[String, PlanCheck.PlanSig] =
    scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/plan-baseline.tsv"), "UTF-8")
      .getLines().filter(_.nonEmpty).map { line =>
        val f = line.split("\t").toSeq
        f.head -> PlanCheck.PlanSig.fromTsv(f.tail)
      }.toMap

  test("every query has a baseline entry and vice versa") {
    assert(SparkEntry.queries.keySet === baseline.keySet,
      "regenerate: sbt \"runMain graft.tools.PlanCheck --write-baseline\"")
  }

  test("plan signatures match the committed baseline (no shuffle/codegen regressions)") {
    // q47's plan differs when the shared-cluster cache is warm (it becomes
    // a checkpoint scan), and likewise the shared shingle/signature stages —
    // signatures are defined over a cold cache, queries built in sorted
    // order (matching PlanCheck.main, so the cold/warm split is identical)
    graft.queries.ArtifactCache.clearAll()
    val diffs = PlanCheck.withStaticPlans(spark) {
      baseline.toSeq.sortBy(_._1).flatMap { case (name, want) =>
        val got = PlanCheck.signature(spark, dir, name)
        if (got != want) Some(s"$name: want $want, got $got") else None
      }
    }
    assert(diffs.isEmpty,
      diffs.mkString("plan regressions (regenerate baseline if intended):\n  ",
        "\n  ", ""))
  }

  test("no query recomputes an expensive expression above a Generate") {
    // The q118 postingsOf regression class: a Project above a Generate runs
    // per GENERATED row, so split/regexp/json/HOF expressions there that
    // reference only carried-through input columns pay explode-fanout×
    // redundant work. Such expressions belong below the Generate.
    graft.queries.ArtifactCache.clearAll()
    val findings = PlanCheck.withStaticPlans(spark) {
      SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        PlanCheck.postGenerateRecomputes(
          SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
          .map(f => s"$name: $f")
      }
    }
    assert(findings.isEmpty,
      findings.mkString("post-Generate recomputes:\n  ", "\n  ", ""))
  }
}
