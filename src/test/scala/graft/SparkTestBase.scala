package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites reuse it —
  * session startup is the dominant test cost). */
object SparkTestBase {
  lazy val spark: SparkSession = graft.core.GraftSession.local(4)

  /** The synthetic tables of scale factor `sf` ("0.01"), in the dir
    * TESTDATA.md documents for them. */
  def testData(sf: String): String =
    ("`([^`]+/sf" + sf.replace(".", "\\.") + ")/`").r.findFirstMatchIn(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("TESTDATA.md")), "UTF-8"))
      .map(_.group(1)).getOrElse(sys.error(s"no sf$sf dir in TESTDATA.md"))
}
