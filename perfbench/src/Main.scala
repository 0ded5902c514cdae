package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Benchmark main: one workload, one seed, one fresh JVM.
  *
  * {{{
  * Main --workload <warehouse_daily|query_suite> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --cores <n>
  *      --sf-warm <dir> --sf-timed <dir> --goldens <file>
  * Main --make-goldens --work <dir> --sf-timed <dir> --goldens <file>
  * }}}
  *
  * Prints one JSON line last on stdout:
  * `{"correct": …, "attempted": …, "failed": …, "metrics": {…}}`. Untraced
  * runs carry the end-to-end metrics, traced runs the per-layer ones. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cores: Int, sfWarm: String, sfTimed: String,
    goldens: String, makeGoldens: Boolean)

object Main {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      need("work"), kv.getOrElse("cores", "4").toInt,
      kv.getOrElse("sf-warm", ""), kv.getOrElse("sf-timed", ""), kv.getOrElse("goldens", ""),
      argv.contains("--make-goldens"))
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.locality.wait", "0")
    val s = GraftSession.tune(b, math.max(a.cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a)
    try {
      if (a.makeGoldens) QueryWorkload.makeGoldens(spark, a)
      else {
        val out = a.workload match {
          case "warehouse_daily" => new WarehouseWorkload(spark, a).run()
          case "query_suite" => new QueryWorkload(spark, a).run()
          case other => sys.error(s"unknown workload '$other'")
        }
        println(out)
      }
    } finally spark.stop()
  }
}

/** Ops attempted / failed, and wrong answers among the ops that succeeded. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  var wrong = 0L

  /** One op: `body` returns None when its result is right, or why not. An
    * exception is a failed op; a wrong result is failed and wrong. */
  def op(what: String)(body: => Option[String]): Boolean = {
    attempted += 1
    try body match {
      case None => true
      case Some(why) =>
        failed += 1; wrong += 1
        System.err.println(s"[perfbench] WRONG $what: $why"); false
    } catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $what: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString)
        false
    }
  }

  /** An op that could not run because the op it checks failed. */
  def skipped(what: String): Unit = {
    attempted += 1; failed += 1
    System.err.println(s"[perfbench] FAILED $what: its input op failed")
  }
}

/** Shared measurement plumbing of the workloads. */
abstract class Workload(val spark: SparkSession, val a: Args) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val ledger = new Ledger
  val steps = mutable.ArrayBuffer[Double]()
  val reads = mutable.ArrayBuffer[Double]()
  var lakeRoot: String = null
  lazy val tracer = new Tracer(spark, a.trace, () => lakeRoot)
  private var setupS = 0.0
  private var gc0 = 0L
  private var compiles0 = 0L
  private var compileS0 = 0.0

  def setup(): Unit
  /** One timed iteration; appends to [[steps]] / [[reads]]. */
  def step(i: Int): Unit
  /** Steps a run makes at most; it makes fewer only if `--seconds` runs
    * out first. */
  def maxSteps: Int = Int.MaxValue
  /** Untimed calls after the timed loop (traced runs only). */
  def sideSpans(): Unit = ()
  /** Per-layer values of the traced run, by [[PerLayer]] name; a layer
    * the workload does not touch is left out and reads 0. */
  def layerMetrics(): Map[String, Double]

  def nanos[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }

  def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  private def compiles = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME
  private def compileSeconds = {
    val h = compiles
    h.getSnapshot.getMean * h.getCount / 1000.0
  }

  /** Heap in use after full collections, once pending listener events are
    * delivered (queued events hold task metrics alive). */
  private def liveHeapMb(): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(): String = {
    tracer // registers the listeners before any work when tracing
    setup()
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    gc0 = gcMillis; compiles0 = compiles.getCount; compileS0 = compileSeconds
    val t0 = System.nanoTime()
    var i = 0
    while (i < maxSteps && (i == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds)) {
      tracer.span(s"step-$i", "iteration")(step(i))
      System.err.println(f"[perfbench] step $i: ${steps.last}%.3f s")
      i += 1
    }
    if (a.trace) sideSpans()
    tracer.finish()
    val layer = if (a.trace) layerMetrics() else Map.empty[String, Double]
    val mem = liveHeapMb()
    if (a.trace) {
      val f = Paths.get(a.work, s"trace-${a.workload}-${a.seed}.json")
      Files.writeString(f, tracer.root.toJson)
      System.err.println(s"[perfbench] spans written to $f")
    }
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("heap_live_mb", mem, "MB"),
        ("ok_frac", (ledger.attempted - ledger.failed).toDouble / ledger.attempted, "ratio"),
        ("step_p50_s", Stats.quantile(steps, 0.5), "s"),
        ("read_iqm_s", Stats.iqm(reads), "s"))
      else {
        val all = layer ++ sparkCounters ++ Map(
          "spark.codegen_compiles" -> (compiles.getCount - compiles0).toDouble / steps.size,
          "spark.codegen_compile_s" -> (compileSeconds - compileS0) / steps.size,
          "spark.storage_mb" -> spark.sparkContext.getExecutorMemoryStatus.values
            .map { case (max, free) => max - free }.sum / 1048576.0,
          "jvm.gc_s" -> (gcMillis - gc0) / 1000.0 / steps.size,
          "trace.step_p50_s" -> Stats.quantile(steps, 0.5),
          "trace.overhead_s" -> tracer.overheadSeconds / steps.size)
        PerLayer.all.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed} steps=${steps.size} " +
      s"reads=${reads.size} attempted=${ledger.attempted} failed=${ledger.failed} " +
      s"wrong=${ledger.wrong}")
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
    s"""{"correct": ${ledger.wrong == 0}, "attempted": ${ledger.attempted}, """ +
      s""""failed": ${ledger.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  // ---- span aggregation for the per-layer record --------------------

  def stepSpans: Seq[Span] = tracer.root.children.filter(_.layer == "iteration").toSeq
  def perStep(v: Double): Double = v / math.max(1, stepSpans.size)
  def inSteps: Seq[Span] = stepSpans.flatMap(_.walk)
  def counter(spans: Seq[Span], k: String): Double = spans.map(_.counters(k)).sum
  private def sparkCounters: Map[String, Double] = PerLayer.all.map(_._1)
    .filter(k => k.startsWith("spark.") && counter(inSteps, k) > 0)
    .map(k => k -> perStep(counter(inSteps, k))).toMap
}

/** Every per-layer metric of the traced run, with its unit. Listener
  * counters and byte counts are per step (a day or a query pass). */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "build.s" -> "s", "build.rows_per_s" -> "rows/s",
    "build.read_amplification" -> "ratio", "build.files_written" -> "count",
    "sources.scan_s" -> "s", "sources.rows_read" -> "rows",
    "sources.read_amplification" -> "ratio", "sources.lake_files" -> "count",
    "incremental.refresh_s" -> "s", "incremental.files_written" -> "count",
    "incremental.bytes_written" -> "bytes", "incremental.partitions_written" -> "count",
    "incremental.interval_markers" -> "count",
    "dag.plan_s" -> "s", "dag.views_s" -> "s", "dag.overhead_s" -> "s",
    "export.mart_s" -> "s", "export.rows_per_s" -> "rows/s",
    "export.bytes_per_row" -> "bytes/row", "export.row_groups" -> "count",
    "catalog.s" -> "s", "catalog.files_scanned" -> "count",
    "storage.bytes_per_lake_byte" -> "ratio",
    "reads.mart_s" -> "s", "reads.geometadb_s" -> "s", "reads.files_read" -> "count") ++
    QuerySet.Families.map(f => s"queries.${f}_s" -> "s") ++
    Seq("queries.driver_s" -> "s") ++
    QuerySet.Named.map(n => s"query.${n}_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.scheduler_delay_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.codegen_compiles" -> "count", "spark.codegen_compile_s" -> "s",
    "spark.storage_mb" -> "MB", "jvm.gc_s" -> "s",
    "trace.step_p50_s" -> "s", "trace.overhead_s" -> "s")
}

object Stats {
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Interquartile mean: the mean of the values left after dropping the
    * lowest and the highest quarter; 0 for no samples. */
  def iqm(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val mid = s.slice(s.size / 4, s.size - s.size / 4)
      mid.sum / mid.size
    }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
      finally st.close()
    }

  def files(p: Path, pred: Path => Boolean): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(f => Files.isRegularFile(f) && pred(f)).toList
      finally st.close()
    }
}
