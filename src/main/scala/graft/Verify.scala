package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the conf Bench times: GraftSession's factory, shuffle partitions
    // max(cpus, 4); 4 cores unless SPARK_GRAFT_CPUS says otherwise
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.envCores(4))
    new java.io.File(outDir).mkdirs()
    // run queries on a small thread pool: each query's jobs parallelize
    // across cores, but scheduling gaps + driver-side planning serialize
    // badly at 50 queries; 4-way overlap hides them. Safe concurrently:
    // queries write distinct dirs and any temp views are per-query-named.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    // SPARK_GRAFT_VERIFY_ONLY=q117,q118 — iterate on a subset locally;
    // unset (the driver's mode) runs everything. A token matches the
    // exact query name or a prefix up to '_' (so "q11" selects
    // q11_running_sum, NOT q110–q119 — r9 ADVICE). oracle_sql.json then
    // holds only the selected entries, so tools/check_oracle.py checks
    // exactly the subset.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def picked(name: String): Boolean =
      only.forall(_.exists(p => name == p || name.startsWith(p + "_")))
    val selected = SparkEntry.queries.toSeq.filter { case (name, _) =>
      picked(name) }
    val tasks = selected.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            val df = fn(spark, sfDir)
            // gate-shape contract: scalar top-level columns only (the
            // driver's pandas canonicalizer cannot hash array cells) —
            // fail THIS query loudly, with the column named.
            val bad = graft.core.GateShape.badColumns(df)
            if (bad.nonEmpty) throw new IllegalStateException(
              s"gate-shape violation: non-scalar column(s) ${bad.mkString("; ")}")
            df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // @SF_DIR@ lets an oracle reference the data directory itself (q40's
    // parquet_metadata scan) and stay verifiable at EVERY scale factor —
    // substituted here because only Verify knows which sf dir this run is
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => picked(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("@SF_DIR@", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Determinism gate (VERDICT r7 item 3): SPARK_GRAFT_VERIFY_REPLAY is a
    // comma-separated list of shuffle-partition counts (e.g. "7,29"); each
    // query re-runs under every count and must produce byte-identical
    // canonical hashes. Off by default — the driver's dump is unchanged;
    // set the flag locally (and in ReplaySpec) to catch merge-order
    // nondeterminism before it reaches a driver round.
    sys.env.get("SPARK_GRAFT_VERIFY_REPLAY").filter(_.nonEmpty).foreach { spec =>
      val counts = spec.split(",").map(_.trim.toInt).toSeq
      val bad = graft.core.Determinism.drifting(spark, sfDir,
        SparkEntry.queries, counts, m => System.err.println(s"[replay] $m"))
      if (bad.nonEmpty) {
        System.err.println(s"[verify] DETERMINISM DRIFT: ${bad.mkString(", ")}")
        spark.stop()
        sys.exit(1)
      }
    }
    spark.stop()
  }
}
