package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every DuckDB oracle's text token for token: one line per
  * `SparkEntry.oracleSql` key in `oracle-sql-pins.tsv`, the key and the
  * SHA-256 of its SQL with each whitespace run collapsed to one space (ends
  * trimmed), taken before Verify's `@SF_DIR@` substitution. A refactor of
  * the generators may move whitespace and nothing else; an intended oracle
  * change replaces the pin lines this spec prints on failure. */
class OracleSqlPinSpec extends AnyFunSuite {

  private def collapse(sql: String): String = sql.replaceAll("\\s+", " ").trim

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private lazy val pins: Map[String, String] =
    Option(getClass.getResourceAsStream("/oracle-sql-pins.tsv")).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { line =>
          val Array(k, h) = line.split("\t")
          k -> h
        }.toMap
      finally in.close()
    }.getOrElse(Map.empty)

  test("every oracle's whitespace-collapsed SQL matches its pinned hash") {
    val got = SparkEntry.oracleSql.map { case (k, v) => k -> sha256(collapse(v)) }
    val changed = got.toSeq.sortBy(_._1).collect {
      case (k, h) if !pins.get(k).contains(h) => s"$k\t$h"
    }
    val stale = (pins.keySet -- got.keySet).toSeq.sorted
    assert(changed.isEmpty && stale.isEmpty,
      (if (changed.isEmpty) "" else
        changed.mkString("oracle SQL differs from its pin; replacement lines:\n", "\n", "\n")) +
      (if (stale.isEmpty) "" else
        stale.mkString("pinned keys with no oracle (delete these lines):\n", "\n", "")))
  }

  test("the collapse keeps every token and separates only on whitespace") {
    assert(collapse("  SELECT a,\n\t b FROM  t \n") === "SELECT a, b FROM t")
    assert(collapse("x<=1") !== collapse("x <= 1"))
  }
}
