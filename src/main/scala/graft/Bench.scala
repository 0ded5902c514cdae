package graft

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall seconds.
  *
  * One untimed warm-up pass first: JIT + whole-stage-codegen compilation are
  * one-time JVM costs that would otherwise be billed to whichever query runs
  * first — on a long-lived cluster they are amortized to zero.
  *
  * Honesty rules: a failing query is NEVER silently timed as ~0 s. Errors
  * are collected, reported on stderr and in the JSON line, and the process
  * exits non-zero — a regression can't masquerade as a speedup. When prior
  * BENCH_r*.json files exist in the repo root, a per-round total trend is
  * printed to stderr so round-over-round movement is visible.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = graft.core.GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]").appName("graft-bench"),
        math.max(cpus, 4))
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val errors = mutable.LinkedHashMap[String, String]()

    // noop sink: materializes EVERY output column (count() would let
    // Catalyst prune projection expressions and benchmark bare row counts)
    def exec(name: String): Boolean =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          System.err.println(s"[bench] FAIL $name: ${errors(name)}")
          false
      }

    // SPARK_GRAFT_ONLY=q44,q31 runs a comma-separated subset (local triage)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(SparkEntry.untimed)
      .filter(n => only.forall(f => f.exists(n.startsWith)))
    System.err.println(s"[bench] excluded non-query entries: ${SparkEntry.untimed.mkString(", ")}")
    // warm-up (untimed): compiles codegen, warms JIT + parquet footers cache
    graft.queries.ArtifactCache.clearAll()
    names.foreach(exec)
    // settle the JVM between warm-up and the timed passes so GC debt from
    // warm-up isn't billed to the first timed queries
    System.gc()
    // three timed passes, per-query min: the host shows intermittent
    // multi-second stalls; min-of-k isolates engine time from host noise
    // each pass starts with no artifacts: the first consumer of each (q31
    // for the shingles, q47 for the clusters) pays its build every pass
    def timedPass(): Map[String, Double] = {
      graft.queries.ArtifactCache.clearAll()
      names.map { name =>
        val t0 = System.nanoTime()
        exec(name)
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    // INTERLEAVED A/B mode (r16 verdict item 2): when
    // SPARK_GRAFT_PAIRED_DIR is set, each timed pass is published as
    // <dir>/spark_pass_<k>.json and the run BLOCKS until the orchestrator
    // (tools/paired_bench.py) acks with <dir>/duck_pass_<k>.done — i.e. a
    // full DuckDB oracle pass runs in the gap, so every quoted
    // Spark/DuckDB pairing is same-minute, not cross-day (the band quote
    // was dominated by host-noise windows where DuckDB's own totals
    // spread 2.15× on identical SQL). Normal runs leave the env unset and
    // are untouched.
    // 3dp per query: full Double.toString pushed the 90+-query JSON line
    // past the driver's stdout tail capture (BENCH_r4..r8 all recorded
    // "parsed": null because the line's head was truncated away). 1 ms
    // resolution is below host noise; the full-precision map stays on
    // stderr via the trend lines.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val pairedDir = sys.env.get("SPARK_GRAFT_PAIRED_DIR")
    def publishPass(k: Int, pass: Map[String, Double]): Unit =
      pairedDir.foreach { d =>
        val qs = names.filterNot(errors.contains).map(n =>
          "\"" + n + "\":" + fmt(pass(n))).mkString("{", ",", "}")
        val tot = names.filterNot(errors.contains).map(pass).sum
        val body = s"""{"pass":$k,"total":${fmt(tot)},"queries":$qs}"""
        val tmp = java.nio.file.Paths.get(d, s".spark_pass_$k.tmp")
        java.nio.file.Files.write(tmp,
          (body + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // atomic move: the orchestrator never reads a half-written file
        java.nio.file.Files.move(tmp,
          java.nio.file.Paths.get(d, s"spark_pass_$k.json"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        val ack = java.nio.file.Paths.get(d, s"duck_pass_$k.done")
        val deadline = System.nanoTime() + 15L * 60 * 1000000000L
        while (!java.nio.file.Files.exists(ack) &&
            System.nanoTime() < deadline)
          Thread.sleep(200)
        if (!java.nio.file.Files.exists(ack))
          System.err.println(
            s"[bench] paired mode: no duck ack for pass $k after 15 min — continuing")
      }
    // min-of-3: this host shows ±30% multi-minute noise windows that can
    // span an entire 2-pass run; a third pass makes the min robust to one
    // bad window (measured pairs ranged 1.55-2.06x from noise alone)
    val passes = (1 to 3).map { k =>
      val p = timedPass()
      // codegen-cache health (stderr): if this count grows pass over pass,
      // the Janino cache is evicting and the pass is paying recompiles
      // (the r17 late-suite finding — tools/Probe prints it per query)
      System.err.println(s"[bench] pass $k janinoCompiles=" +
        org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount)
      publishPass(k, p)
      p
    }
    def best(n: String): Double = passes.map(_(n)).min
    // failed queries report null and are EXCLUDED from total: a
    // time-to-throw must never enter the trend line as if it were work done
    val results = names.filterNot(errors.contains).map(n => n -> best(n))
    val qs = names.map { n =>
      "\"" + n + "\":" + (if (errors.contains(n)) "null" else fmt(best(n)))
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errJson = errors.map { case (k, v) =>
      "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\x00-\\x1f]", " ") + "\""
    }.mkString("{", ",", "}")

    // round-over-round trend (stderr, driver keeps stdout JSON single-line)
    val prior = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json")).sortBy(_.getName)
    prior.foreach { f =>
      val txt = scala.io.Source.fromFile(f).mkString
      // the driver's BENCH_r*.json may carry our JSON line escaped inside a
      // "tail" string field — accept both "value": and \"value\":
      val tot = "\\\\?\"value\\\\?\"\\s*:\\s*([0-9.]+)".r
        .findFirstMatchIn(txt).map(_.group(1))
      // suite size per round: totals are not comparable as the suite grows
      val nQ = "\\\\?\"(q\\d+[a-z0-9_]*)\\\\?\"\\s*:".r
        .findAllMatchIn(txt).map(_.group(1)).toSet.size
      System.err.println(
        s"[bench] trend ${f.getName}: total=${tot.getOrElse("?")} s ($nQ queries)")
    }
    System.err.println(f"[bench] trend this-run: total=$total%.2f s (${names.size} queries, ${errors.size} errors)")

    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir"}"""
    println(line)
    // persist the COMPLETE per-query map beside the driver's BENCH_r*.json
    // (r15 verdict item 6): the driver's stdout tail truncates the long
    // JSON line mid-map (r15 saw only 75 of 142 timed queries), so
    // round-over-round diffs were partial. This file is the full record.
    // Path resolves against the repo root (nearest ancestor of cwd holding
    // build.sbt), overridable via SPARK_GRAFT_BENCH_OUT — a bench launched
    // from another cwd must not silently drop the record elsewhere
    // (r16 ADVICE item 2).
    val fullOut = sys.env.get("SPARK_GRAFT_BENCH_OUT").map(
        java.nio.file.Paths.get(_)).getOrElse {
      var d = java.nio.file.Paths.get("").toAbsolutePath
      while (d.getParent != null &&
          !java.nio.file.Files.exists(d.resolve("build.sbt")))
        d = d.getParent
      (if (java.nio.file.Files.exists(d.resolve("build.sbt"))) d
       else java.nio.file.Paths.get("").toAbsolutePath)
        .resolve("BENCH_FULL_LATEST.json")
    }
    // only a FULL run may replace the record: a SPARK_GRAFT_ONLY triage
    // run must not clobber the round's complete per-query map
    if (only.isEmpty)
      try {
        java.nio.file.Files.write(fullOut,
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] full per-query record: $fullOut")
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write $fullOut: $e") }
    spark.stop()
    if (errors.nonEmpty) {
      System.err.println(s"[bench] ${errors.size} queries FAILED — failing the bench run")
      sys.exit(1)
    }
  }
}
