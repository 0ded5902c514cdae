package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry

/** `query_suite`: the frozen [[QuerySet.Timed]] queries over the sf0.1
  * test tables, one closed-loop client.
  *
  * Set-up warms the engine (JIT, whole-stage codegen) with one pass over a
  * copy of the sf0.01 tables. Artifact caches are keyed by session and
  * table directory, so that leaves the timed artifacts cold: every timed pass
  * reads a fresh copy of its own and builds its shared artifacts again.
  * The seed permutes the order, which decides which query pays for each
  * artifact. Each query is timed as
  * `SparkEntry.queries(name)(spark, dir)` plus a `noop` write, with its row
  * count observed in the same write and checked against the goldens. */
final class QueryWorkload(spark: SparkSession, a: Args) extends Workload(spark, a) {
  private val rng = new scala.util.Random(a.seed)
  private val goldens = QueryWorkload.readGoldens(a.goldens)
  private val passDirs = mutable.ArrayBuffer[String]()

  private def copyTables(from: String, to: String): String = {
    Files.createDirectories(Paths.get(to))
    val st = Files.list(Paths.get(from))
    try st.forEach(p => Files.copy(p, Paths.get(to, p.getFileName.toString),
      StandardCopyOption.REPLACE_EXISTING))
    finally st.close()
    to
  }

  /** Runs one query to a noop sink; returns the rows it produced. */
  private def exec(name: String, dir: String): Long = {
    val obs = Observation()
    SparkEntry.queries(name)(spark, dir).observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  def setup(): Unit = {
    val warm = copyTables(a.sfWarm, s"${a.work}/q_warm")
    QuerySet.Timed.foreach(n => exec(n, warm))
  }

  def step(i: Int): Unit = {
    val dir = copyTables(a.sfTimed, s"${a.work}/q_pass_$i")
    passDirs += dir
    var sum = 0.0
    rng.shuffle(QuerySet.Timed).foreach { n =>
      ledger.op(s"query $n") {
        val (rows, secs) = nanos(tracer.span(n, s"queries.${QuerySet.Family(n)}")(exec(n, dir)))
        reads += secs
        sum += secs
        System.err.println(f"[perfbench] $n: $secs%.3f s")
        val want = goldens.get(n).map(_._1)
        if (want.contains(rows)) None else Some(s"$rows rows, golden $want")
      }
    }
    steps += sum
  }

  /** Traced runs also check content: each query's rows, hashed, against
    * the golden hash (the re-run reads the last pass's directory). */
  override def sideSpans(): Unit = QuerySet.Timed.foreach { n =>
    ledger.op(s"hash $n") {
      val h = tracer.span(s"hash.$n", "side")(
        QueryWorkload.contentHash(SparkEntry.queries(n)(spark, passDirs.last)))
      val want = goldens.get(n)
      if (want.contains(h)) None else Some(s"rows/hash $h, golden $want")
    }
  }

  def layerMetrics(): Map[String, Double] = {
    val qs = inSteps.filter(_.layer.startsWith("queries."))
    val families = QuerySet.Families.map(f =>
      s"queries.${f}_s" -> perStep(qs.filter(_.layer == s"queries.$f").map(_.seconds).sum))
    val named = QuerySet.Named.map(n =>
      s"query.${n}_s" -> perStep(qs.filter(_.name == n).map(_.seconds).sum))
    (families ++ named :+ ("queries.driver_s" -> perStep(qs.map(_.driverSeconds).sum))).toMap
  }
}

object QueryWorkload {
  /** goldens file: one `name rows hash` line per query. */
  def readGoldens(path: String): Map[String, (Long, String)] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, r, h) = l.split("\\s+")
        n -> (r.toLong, h)
      }.toMap

  /** Order-independent hash of a result: columns sorted by name, doubles
    * to 6 significant digits, rows sorted. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(df.col).toIndexedSeq: _*).collect()
      .map(r => r.toSeq.map(cell).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString)
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new java.math.BigDecimal(d)
      .round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case other => other.toString
  }

  /** Writes the goldens file: row count and content hash of every timed
    * query over the timed tables. Each result also goes to parquet under
    * `<work>/goldens_out/<name>`, beside the queries' oracle SQL, for the
    * DuckDB cross-check (check_goldens.py). */
  def makeGoldens(spark: SparkSession, a: Args): Unit = {
    val lines = QuerySet.Timed.map { n =>
      SparkEntry.queries(n)(spark, a.sfTimed)
        .write.mode("overwrite").parquet(s"${a.work}/goldens_out/$n")
      val (rows, hash) = contentHash(SparkEntry.queries(n)(spark, a.sfTimed))
      s"$n $rows $hash"
    }
    Files.writeString(Paths.get(a.goldens),
      "# query rows content-hash (sf0.1; written by run.py --make-goldens)\n" +
        lines.mkString("", "\n", "\n"))
    // the oracle SQL of the same queries, for check_goldens.py
    Files.writeString(Paths.get(a.work, "goldens_out", "oracle_sql.json"),
      QuerySet.Timed.map(n => s"${Json.str(n)}: ${Json.str(SparkEntry.oracleSql(n))}")
        .mkString("{", ",\n", "}\n"))
    println(s"wrote ${lines.size} goldens to ${a.goldens}")
  }
}
