package graft

import org.scalatest.funsuite.AnyFunSuite

/** The commands the docs tell a reader to run still exist: every
  * `runMain graft.<…>` names an object with a `main`, and every
  * `ScaleStress <scenario>` names an entry of its scenario table (a
  * `<…>` placeholder aside). */
class DocsCommandsSpec extends AnyFunSuite {
  private val docs = Seq("README.md", "SCALE.md", "PERF.md", "COVERAGE.md",
    ".claude/skills/verify/SKILL.md")

  private def text(doc: String) = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(doc)), "UTF-8")

  test("every documented runMain names an object with a main") {
    val missing = for {
      doc <- docs
      m <- "runMain (graft\\.[\\w.]*\\w)".r.findAllMatchIn(text(doc))
      name = m.group(1)
      if scala.util.Try(Class.forName(name + "$")
        .getMethod("main", classOf[Array[String]])).isFailure
    } yield s"$doc: $name"
    assert(missing.isEmpty, missing.mkString("\n"))
  }

  test("every documented ScaleStress scenario is in the table") {
    val unknown = for {
      doc <- docs
      m <- "(?:runMain graft\\.tools\\.|`)ScaleStress ([^\\s`\"]+)".r
        .findAllMatchIn(text(doc))
      // `<scenario>` in a usage line is a placeholder, not a name
      if !m.group(1).startsWith("<") &&
        !graft.tools.ScaleStress.Scenarios.contains(m.group(1))
    } yield s"$doc: ScaleStress ${m.group(1)}"
    assert(unknown.isEmpty, unknown.mkString("\n"))
  }
}
