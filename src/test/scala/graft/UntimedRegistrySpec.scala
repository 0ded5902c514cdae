package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.untimed` is the one list of gates no bench times; the DuckDB
  * side (`tools/duck_bench.py`) must skip the same names, plus q40, whose
  * oracle hardcodes the sf0.01 path. */
class UntimedRegistrySpec extends AnyFunSuite {

  test("duck_bench SKIP is SparkEntry.untimed plus q40_parquet_meta") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/duck_bench.py")), "UTF-8")
    val block = "(?s)SKIP = frozenset\\(\\((.*?)\\)\\)".r
      .findFirstMatchIn(src).map(_.group(1))
      .getOrElse(fail("no SKIP = frozenset((...)) in tools/duck_bench.py"))
    val skip = "\"(q[0-9a-z_]+)\"".r.findAllMatchIn(block).map(_.group(1)).toSet
    assert(skip === SparkEntry.untimed + "q40_parquet_meta")
    assert(SparkEntry.untimed.subsetOf(SparkEntry.queries.keySet))
  }
}
