package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.core.{Counts, Meter}

/** The profiling main: runs the named queries (or every query starting
  * with a given prefix; every bench-timed query when none is given) over
  * one sf dir for N passes. Pass 1 starts from `ArtifactCache.clearAll()`;
  * later passes keep the artifacts, so cold − warm is what the shared
  * artifacts cost. Each query prints its construct, plan
  * (`queryExecution.executedPlan`) and execute (noop write, the Bench
  * sink) seconds, the [[Counts]] of the whole query, and the Janino
  * compiles it caused.
  *
  * Usage: runMain graft.tools.Probe [--sf DIR] [--passes N]
  *   [--plans DIR --tag TAG] [query-or-prefix ...]
  * `--plans` writes each query's formatted plan, as pass 1 built it, to
  * plans/DIR/<query>_TAG.txt (the committed evidence files under plans/).
  * As in Bench, the sf dir defaults to SPARK_GRAFT_SF_DIR and the
  * session cores come from SPARK_GRAFT_CPUS.
  */
object Probe {

  final case class Profile(name: String, constructSec: Double,
      planSec: Double, executeSec: Double, counts: Counts, compiles: Long) {
    def line(pass: Int): String =
      f"[probe] pass=$pass $name%-34s construct=$constructSec%.3fs " +
        f"plan=$planSec%.3fs execute=$executeSec%.3fs jobs=${counts.jobs}%d " +
        f"stages=${counts.stages}%d tasks=${counts.tasks}%d " +
        f"inRec=${counts.inputRecords}%d inB=${counts.inputBytes}%d " +
        f"shufR=${counts.shuffleReadBytes}%d " +
        f"shufW=${counts.shuffleWriteBytes}%d compiles=$compiles%d"
  }

  /** Builds, plans and executes one query inside one metered window; when
    * `planFile` is given, the formatted plan is written there. */
  def profile(spark: SparkSession, dir: String, name: String,
      planFile: Option[Path] = None): Profile = {
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val ((construct, plan, execute), counts) = Meter.measure(spark) {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val construct = secSince(t0)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val plan = secSince(t1)
      planFile.foreach { f =>
        Files.createDirectories(f.getParent)
        Files.write(f, df.queryExecution.explainString(FormattedMode)
          .getBytes(StandardCharsets.UTF_8))
      }
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (construct, plan, secSince(t2))
    }
    Profile(name, construct, plan, execute, counts,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
  }

  def main(args: Array[String]): Unit = {
    @annotation.tailrec
    def parse(rest: List[String], flags: Map[String, String],
        picks: List[String]): (Map[String, String], List[String]) =
      rest match {
        case k :: v :: tail if k.startsWith("--") =>
          require(Set("--sf", "--passes", "--plans", "--tag")(k),
            s"unknown flag $k")
          parse(tail, flags + (k -> v), picks)
        case q :: tail => parse(tail, flags, picks :+ q)
        case Nil => (flags, picks)
      }
    val (flags, picks) = parse(args.toList, Map.empty, Nil)
    val dir = flags.get("--sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("Probe: give --sf DIR (or SPARK_GRAFT_SF_DIR)"))
    val passes = flags.get("--passes").fold(2)(_.toInt)
    val planDir = flags.get("--plans").map(Paths.get("plans", _))
    val tag = flags.getOrElse("--tag", "probe")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted.filter(n =>
      if (picks.isEmpty) !graft.SparkEntry.untimed(n)
      else picks.exists(n.startsWith))
    require(names.nonEmpty, s"no query matches ${picks.mkString(" ")}")
    val spark = graft.core.GraftSession.local()
    graft.queries.ArtifactCache.clearAll()
    (1 to passes).foreach { pass =>
      val profiles = names.map { n =>
        val p = profile(spark, dir, n,
          planDir.filter(_ => pass == 1).map(_.resolve(s"${n}_$tag.txt")))
        println(p.line(pass))
        p
      }
      println(f"[probe] pass=$pass total queries=${profiles.size}%d " +
        f"jobs=${profiles.map(_.counts.jobs).sum}%d " +
        f"wall=${profiles.map(_.counts.wallSec).sum}%.2fs " +
        f"compiles=${profiles.map(_.compiles).sum}%d")
    }
    spark.stop()
  }
}
