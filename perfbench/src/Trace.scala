package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.scheduler._

/** One timed call. Counters are filled by the listeners while the span is
  * the innermost open one. */
final class Span(val name: String, val layer: String, val parent: Span) {
  private val t0 = System.nanoTime()
  private var t1 = 0L
  /** time this span and its children spent draining the listener bus */
  var drainNs = 0L
  val children = mutable.ArrayBuffer[Span]()
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  val jobs = mutable.ArrayBuffer[(Long, Long)]() // (start ms, end ms)

  def close(): Unit = t1 = System.nanoTime()
  def seconds: Double = (t1 - t0 - drainNs) / 1e9
  def selfSeconds: Double = seconds - children.map(_.seconds).sum
  /** Wall time inside the span with no Spark job running. */
  def driverSeconds: Double = {
    val iv = jobs.sortBy(_._1)
    var busy = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    math.max(0.0, seconds - busy / 1000.0)
  }
  def add(k: String, v: Double): Unit = synchronized { counters(k) += v }

  def walk: Iterator[Span] = Iterator.single(this) ++ children.iterator.flatMap(_.walk)

  def toJson: String = {
    val cs = counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
    s"""{"name":${Json.str(name)},"layer":${Json.str(layer)},""" +
      s""""s":${Json.num(seconds)},"self_s":${Json.num(selfSeconds)},""" +
      s""""counters":{${cs.mkString(",")}},""" +
      s""""children":[${children.map(_.toJson).mkString(",")}]}"""
  }
}

/** Span recorder: workload → iteration → call. Disabled, [[span]] only runs
  * its body. Enabled, it registers a SparkListener (jobs, stages, task
  * metrics) and a QueryExecutionListener (scan and write SQL metrics), and
  * drains the listener bus at every span boundary so each event lands on
  * the span that caused it. Drain time is excluded from span times and
  * reported as tracing overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean, lakeRoot: () => String) {
  val root = new Span("workload", "workload", null)
  @volatile private var current: Span = root
  private val jobSpan = mutable.Map[Int, (Span, Long)]()

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body else {
      drain(current)
      val s = new Span(name, layer, current)
      current.children += s
      current = s
      try body finally {
        drain(s)
        s.close()
        current = s.parent
        s.parent.drainNs += s.drainNs
      }
    }

  private def drain(s: Span): Unit = {
    val t = System.nanoTime()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    s.drainNs += System.nanoTime() - t
  }

  def finish(): Unit = if (enabled) { drain(root); root.close() }

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = current
        jobSpan.synchronized(jobSpan(e.jobId) = (s, e.time))
        s.add("spark.jobs", 1)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobSpan.synchronized(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
          s.synchronized(s.jobs += ((t0, e.time)))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        current.add("spark.stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = current
        s.add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("spark.executor_run_s", m.executorRunTime / 1000.0)
          s.add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
          val delay = e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime
          s.add("spark.scheduler_delay_s", math.max(0L, delay) / 1000.0)
          s.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
          s.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = recordPlan(current, qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })
  }

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator.single(p) ++ (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  })

  private def recordPlan(s: Span, plan: SparkPlan): Unit = {
    val lake = lakeRoot()
    nodes(plan).foreach {
      case scan: FileSourceScanExec =>
        val rows = scan.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        val files = scan.metrics.get("numFiles").map(_.value).getOrElse(0L)
        s.add("scan.rows", rows.toDouble)
        s.add("scan.files", files.toDouble)
        if (lake != null && scan.relation.location.rootPaths.exists(
            _.toUri.getPath.startsWith(lake))) {
          s.add("scan.lake_rows", rows.toDouble)
          s.add("scan.lake_files", files.toDouble)
        }
      case w: DataWritingCommandExec =>
        def m(k: String) = w.cmd.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        s.add("write.files", m("numFiles"))
        s.add("write.bytes", m("numOutputBytes"))
        s.add("write.rows", m("numOutputRows"))
        s.add("write.parts", m("numParts"))
      case _ => ()
    }
  }

  /** Seconds spent draining the bus: the tracer's own cost. */
  def overheadSeconds: Double = root.drainNs / 1e9
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
