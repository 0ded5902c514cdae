package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.YamlFixtureRunner
import graft.models.OmicidxModels

/** The reference's 6 sqlmesh YAML model tests, executed UNMODIFIED from
  * the reference tree against the Spark model catalog — the fixture dialect
  * non-Scala users keep authoring in. (BronzeFixtureSpec/GeoFixtureSpec
  * cover the same semantics natively; this proves the YAML path.) */
class YamlFixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val refTests = "/root/reference/sqlmesh/tests"
  private lazy val catalog =
    OmicidxModels.catalog(OmicidxModels.lakeSources)

  private val files = Option(new java.io.File(refTests).listFiles()).map(
    _.filter(_.getName.endsWith(".yaml")).map(_.getPath).sorted)

  files match {
    case None =>
      // without the reference tree there is nothing to run: say so
      for (t <- Seq("reference tree exposes the 6 YAML fixtures",
          "reference YAML fixtures pass unmodified"))
        test(t)(cancel(s"reference fixtures not found: $refTests"))
    case Some(found) =>
      test("reference tree exposes the 6 YAML fixtures") {
        assert(found.length === 6)
      }
      found.foreach { path =>
        val name = new java.io.File(path).getName
        test(s"reference YAML fixture passes unmodified: $name") {
          val res = YamlFixtureRunner.runFile(spark, catalog, path)
          assert(res.pass, s"${res.test} (${res.model}): ${res.problems.mkString("; ")}")
        }
      }
  }
}
