package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

/** Result of one model run (→ `meta.model_runs`,
  * `/root/reference/warehouse_cli.py:192-205`). */
final case class RunResult(
    model: String,
    layer: String,
    status: String, // success | failed | audit_failed | skipped
    startedAtMs: Long,
    durationS: Double,
    rows: Long,
    error: Option[String])

/** One per-operator streaming-state observation (→ `meta.stream_state`):
  * the run-metrics shape (`meta.model_runs`, `WAREHOUSE.md:244-274`)
  * extended to stateful streaming — state rows/bytes per operator per
  * micro-batch, so a deployment watches the one axis that grows silently
  * until an executor OOMs (the stream-stream join buffer: bounded only by
  * the watermark horizon × arrival rate). */
final case class StreamStateMetric(
    run: String,
    batchId: Long,
    operator: String,
    numRowsTotal: Long,
    memoryUsedBytes: Long,
    numRowsUpdated: Long,
    recordedAtMs: Long)

/** Model catalog + dependency-DAG executor: the reference's warehouse
  * orchestration engine (`warehouse_cli.py` run/plan commands,
  * `WAREHOUSE_SUMMARY.md:124-139`) rebuilt on Spark.
  *
  * - `plan` topologically sorts the `dependsOn` DAG (cycle detection
  *   included) and can restrict to a sub-selection plus its upstreams.
  * - `run` materializes each model: views register temp views (logical,
  *   inlined by Catalyst), tables land as parquet under the warehouse dir
  *   and re-register as file-backed views, incremental models delegate to
  *   [[graft.incremental.IntervalRunner]]. A materialized model's view is
  *   its output read back once, with the schema it was written with; its
  *   row count comes from parquet footers, never from a re-scan.
  * - Models run concurrently: each starts as soon as every upstream model
  *   of this run has finished (whatever its status), on a fixed pool of
  *   `min(models, defaultParallelism)` threads. The reference gets its
  *   parallelism inside each model (DuckDB threads); a small daily window
  *   cannot fill the cores that way, independent models can. So a model
  *   must touch only its own table dir, export path and temp view, and
  *   read other models only through their views.
  * - Audits run post-materialization; a violation fails the model.
  * - A Table model with an [[ExportSpec]] writes its table once, with the
  *   export's codec, partitioning and file and row-group sizing. After its
  *   audits pass, the export is a copy of the table's files, published
  *   through [[graft.export.Exporter.atomically]]: readers of the export
  *   dir see the previous export until the swap, and a failed audit or
  *   copy leaves it in place.
  * - Results come back in `plan` order, and one [[MetaStore.record]]
  *   appends them. With `failFast`, the first model that does not succeed
  *   stops the run: models already running finish, models not yet started
  *   are `skipped`.
  */
final class DagRunner(spark: SparkSession, cfg: EngineConfig,
    models: Seq[Model], meta: Option[MetaStore] = None) {

  private val byName: Map[String, Model] = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")

  /** Topological order via DFS with cycle detection. */
  def plan(selection: Option[Seq[String]] = None): Seq[Model] = {
    val wanted: Set[String] = selection match {
      case None => byName.keySet
      case Some(sel) =>
        // include upstream closure of the selection
        val seen = mutable.Set[String]()
        def up(n: String): Unit = if (seen.add(n))
          byName.get(n).foreach(_.dependsOn.foreach(up))
        sel.foreach(up)
        seen.toSet
    }
    val order = mutable.ListBuffer[Model]()
    val state = mutable.Map[String, Int]() // 0=unseen 1=visiting 2=done
    def visit(n: String, path: List[String]): Unit = state.getOrElse(n, 0) match {
      case 2 => ()
      case 1 => throw new IllegalStateException(
        s"dependency cycle: ${(n :: path.takeWhile(_ != n)).reverse.mkString(" -> ")} -> $n")
      case _ =>
        state(n) = 1
        byName.get(n).foreach(_.dependsOn.foreach(d => visit(d, n :: path)))
        state(n) = 2
        byName.get(n).filter(m => wanted(m.name)).foreach(order += _)
    }
    models.map(_.name).filter(wanted).foreach(visit(_, Nil))
    order.toSeq
  }

  /** Run the (selected) DAG; returns per-model results in `plan` order. The
    * pool's threads have exited when this returns. */
  def run(selection: Option[Seq[String]] = None,
      failFast: Boolean = false): Seq[RunResult] = {
    val ordered = plan(selection).toIndexedSeq
    val names = ordered.map(_.name).toSet
    // upstreams outside this run (not selected, not in the catalog) are
    // taken as already built
    val waiting = ordered.map(_.dependsOn.distinct.count(names)).toArray
    val downstream = ordered.map(m =>
      ordered.indices.filter(i => ordered(i).dependsOn.contains(m.name)))
    def skipped(m: Model) = RunResult(m.name, m.layer, "skipped",
      System.currentTimeMillis(), 0.0, 0L, None)

    val ready = new LinkedBlockingQueue[Int]() // model index; -1 stops a worker
    val done = new LinkedBlockingQueue[(Int, RunResult)]()
    val aborted = new AtomicBoolean(false)
    val workers = Seq.tabulate(math.min(ordered.size,
        spark.sparkContext.defaultParallelism)) { k =>
      val t = new Thread(() => {
        var i = ready.take()
        while (i >= 0) {
          val m = ordered(i)
          done.put(i -> (if (aborted.get) skipped(m) else runOne(m)))
          i = ready.take()
        }
      }, s"graft-dag-$k")
      t.setDaemon(true)
      t.start()
      t
    }
    val results = new Array[RunResult](ordered.size)
    try {
      var inFlight = 0
      def start(i: Int): Unit = { ready.put(i); inFlight += 1 }
      ordered.indices.filter(waiting(_) == 0).foreach(start)
      while (inFlight > 0) {
        val (i, res) = done.take()
        inFlight -= 1
        results(i) = res
        if (failFast && res.status != "success") aborted.set(true)
        downstream(i).foreach { d =>
          waiting(d) -= 1
          if (waiting(d) == 0 && !aborted.get) start(d)
        }
      }
    } finally {
      aborted.set(true) // on an interrupted wait, queued models only skip
      workers.foreach(_ => ready.put(-1))
      workers.foreach(_.join())
    }
    val out = ordered.indices.map(i =>
      Option(results(i)).getOrElse(skipped(ordered(i))))
    meta.foreach(_.record(out, models))
    out
  }

  private def tablePath(m: Model) = s"${cfg.warehouseDir}/${m.layer}/${m.name}"

  private def runOne(m: Model): RunResult = {
    val t0 = System.currentTimeMillis()
    try {
      val rows = m.materialization match {
        case Materialization.View =>
          val df = m.derive(spark, cfg)
          df.createOrReplaceTempView(m.name)
          -1L // views are logical; no rows materialized
        case Materialization.Table =>
          val df = m.derive(spark, cfg)
          val parts = m.export.fold(Seq.empty[String])(_.partitionBy)
          m.export match {
            case Some(e) => graft.export.Exporter.parquet(df, tablePath(m),
              e.compression, e.partitionBy, e.maxRecordsPerFile, e.rowGroupRows)
            case None => df.write.mode("overwrite").parquet(tablePath(m))
          }
          // partition columns read back last: select restores the order
          spark.read.schema(df.schema).parquet(tablePath(m))
            .select(df.columns.toSeq.map(c => col(s"`$c`")): _*)
            .createOrReplaceTempView(m.name)
          // rows_affected from the written footers — NOT a count() of the
          // view, which would re-scan the table it just materialized
          graft.sources.ParquetFooterMeta.rowCount(spark,
            tablePath(m) + "/*" * parts.size + "/*.parquet")
        case inc: Materialization.IncrementalByTimeRange =>
          val (n, out) = graft.incremental.IntervalRunner
            .refresh(spark, cfg, m, inc)
          out.createOrReplaceTempView(m.name)
          n
      }
      // audits: every audit query must return zero rows
      m.audits.foreach { a =>
        val bad = spark.sql(Model.render(a.violationSql, cfg)).count()
        if (bad > 0) throw new IllegalStateException(
          s"audit ${a.name} failed: $bad violating rows")
      }
      // the table, written once with the export's layout, is published as
      // a copy of its files
      m.export.foreach(e => graft.export.Exporter.publishCopy(spark,
        tablePath(m), s"${cfg.exportDir}/${e.relPath}"))
      RunResult(m.name, m.layer, "success", t0,
        (System.currentTimeMillis() - t0) / 1000.0, rows, None)
    } catch {
      case ex: Throwable =>
        val status =
          if (ex.getMessage != null && ex.getMessage.startsWith("audit "))
            "audit_failed"
          else "failed"
        RunResult(m.name, m.layer, status, t0,
          (System.currentTimeMillis() - t0) / 1000.0, 0L,
          Some(Option(ex.getMessage).getOrElse(ex.getClass.getName)))
    }
  }
}

/** Execution-metadata store: `meta.model_runs` + `meta.model_lineage` +
  * `meta.model_docs` (`WAREHOUSE.md:244-274`) as parquet tables under the
  * warehouse dir. */
final class MetaStore(spark: SparkSession, dir: String) {
  import spark.implicits._

  /** Appends `results` to `model_runs`. `model_lineage` and `model_docs`
    * describe the catalog, which rarely changes between runs: each is
    * rewritten only when its content differs from the last write, told by
    * a SHA-256 of that content kept beside the table
    * (`meta/<table>.sha256`, written through the Hadoop FileSystem API).
    * A missing table or hash means a rewrite. The writes run
    * concurrently. */
  def record(results: Seq[RunResult], models: Seq[Model]): Unit = {
    val lineage = models.flatMap(m => m.dependsOn.map(d => (m.name, d)))
    // model_docs: descriptions + grain + kind alongside runs/lineage
    // (WAREHOUSE.md:268-274 "descriptions, column documentation, tags")
    val docs = models.map(m => (m.name, m.layer, m.description,
      m.grain.mkString(","), m.materialization.toString,
      m.export.map(_.relPath).getOrElse("")))
    val writes = Seq[() => Unit](
      () => results.toDF().write.mode("append").parquet(s"$dir/meta/model_runs")) ++
      changed("model_lineage", lineage.toDF("model", "depends_on"), lineage) ++
      changed("model_docs", docs.toDF("model", "layer", "description", "grain",
        "kind", "export_path"), docs)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = writes.map(w => new Thread(() =>
      try w() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(errors.peek).foreach(e => throw e)
  }

  /** The rewrite of `meta/<table>` with `df`, unless the table exists and
    * its hash file holds the hash of `df`'s schema and `rows`. The hash is
    * removed before the write and put back after it, so a write that dies
    * part-way is redone. */
  private def changed(table: String, df: DataFrame,
      rows: Seq[Product]): Option[() => Unit] = {
    val path = new Path(s"$dir/meta/$table")
    val hashFile = path.suffix(".sha256")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every value length-prefixed, so no two contents encode alike
    val content = (df.schema.json +: rows.flatMap(_.productIterator.map(String.valueOf)))
      .map(v => s"${v.length}:$v").mkString
    val hash = MessageDigest.getInstance("SHA-256").digest(content.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
    val kept = fs.exists(path) && fs.exists(hashFile) && {
      val in = fs.open(hashFile)
      try new String(in.readAllBytes(), UTF_8) == hash
      finally in.close()
    }
    if (kept) None
    else Some { () =>
      fs.delete(hashFile, false)
      df.write.mode("overwrite").parquet(path.toString)
      val out = fs.create(hashFile, true)
      try out.write(hash.getBytes(UTF_8))
      finally out.close()
    }
  }

  def runs: DataFrame = spark.read.parquet(s"$dir/meta/model_runs")

  /** Append one streaming run's per-operator state metrics
    * ([[StreamStateMetric]]; r10 verdict item 7). Reads the query's
    * retained progress history — one row per (micro-batch, stateful
    * operator) — so consecutive AvailableNow catch-up runs against one
    * checkpoint accumulate the state GROWTH CURVE, not just a last
    * sample. No-op for a stateless query (no rows, no table). */
  def recordStreamState(run: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val rows = q.recentProgress.toSeq.flatMap { p =>
      p.stateOperators.toSeq.map(so => StreamStateMetric(run, p.batchId,
        so.operatorName, so.numRowsTotal, so.memoryUsedBytes,
        so.numRowsUpdated, System.currentTimeMillis()))
    }
    if (rows.nonEmpty) rows.toDF().write.mode("append")
      .parquet(s"$dir/meta/stream_state")
  }

  /** The streaming-state metrics table (empty frame if never recorded). */
  def streamState: DataFrame =
    try spark.read.parquet(s"$dir/meta/stream_state")
    catch { case _: org.apache.spark.sql.AnalysisException =>
      Seq.empty[StreamStateMetric].toDF() }

  /** Operators whose LATEST observed state breaches the byte threshold —
    * the pre-OOM alarm view a deployment pages on (the join buffer is
    * the expected tenant; its knob is the watermark horizon). */
  def streamStateAlarms(thresholdBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("run", "operator")
      .orderBy(col("batchId").desc, col("recordedAtMs").desc)
    streamState
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1 &&
        col("memoryUsedBytes") >= thresholdBytes)
      .drop("rn")
  }

  /** Model documentation table (`WAREHOUSE.md:266-274`). */
  def docs: DataFrame = spark.read.parquet(s"$dir/meta/model_docs")

  /** Last-N run history (`warehouse_cli.py:192-205` status dashboard). */
  def history(limit: Int = 15): DataFrame =
    runs.orderBy(col("startedAtMs").desc).limit(limit)

  /** Per-model success rate + duration stats (`status.py:92-141`). */
  def status: DataFrame = {
    import org.apache.spark.sql.functions._
    runs.groupBy("model").agg(
      count(lit(1)).as("n_runs"),
      round(avg(when(col("status") === "success", 1.0).otherwise(0.0)) * 100, 1)
        .as("success_pct"),
      round(avg("durationS"), 3).as("avg_duration_s"),
      max("startedAtMs").as("last_run_ms"))
  }
}

/** Model-catalog linting (`sqlmesh/config.yaml:61-66`
  * `invalidselectstarexpansion`): raw-layer models must pin their columns —
  * star-expansion hides schema drift from downstream models. */
object Lint {
  /** Names of raw models whose SQL star-expands. */
  def selectStarViolations(models: Seq[Model]): Seq[String] =
    models.filter(m => m.layer == "raw" &&
      m.sql.exists(_.replaceAll("\\s+", " ").toLowerCase
        .matches(".*select \\*.*")))
      .map(_.name)

  /** Rule name shared with the reference's sqlmesh config
    * (`sqlmesh/config.yaml:61-66`). */
  val InvalidSelectStarExpansion = "invalidselectstarexpansion"

  /** Full lint: SQL raw models are checked textually; `build`-based raw
    * models must pin their output columns one of two ways:
    *
    *  - `Model.pinnedSchema` declared — lint then verifies the DERIVED
    *    frame's schema equals the pin (names + types, in order), which also
    *    covers reader-supplied schemas (an NDJSON raw view read with its
    *    pinned schema plans a bare scan with no Project: the scan itself
    *    IS the pin);
    *  - an explicit Project in the analyzed plan (`.select`/conform) over
    *    any file-backed scan.
    *
    * A file scan with neither ships whatever columns the files happen to
    * have (the DataFrame spelling of `SELECT *`) and violates, unless the
    * model carries an [[Model.lintWaivers]] entry for
    * [[InvalidSelectStarExpansion]] (deliberate by-name union sources).
    * In-memory relations carry their schema by construction.
    * Returns (model, reason) pairs. */
  def violations(spark: SparkSession, cfg: EngineConfig,
      models: Seq[Model]): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Project}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val sqlBad = selectStarViolations(models)
      .map(_ -> "SELECT * in raw-layer SQL")
    // Derive every model ONCE, in topological order with temp views
    // registered as we go — exactly the resolution environment a real run
    // gives each model — so SQL models mid-DAG lint against their
    // upstreams instead of failing on a missing view. Derivation plans
    // lazy frames; the only jobs are a lake-backed raw view's manifest
    // pass over files it has not seen. A model that still cannot
    // derive is itself a finding, not a silent skip; only NonFatal is
    // caught — OOM/interrupts must propagate.
    val derived: Seq[(Model, Either[String, DataFrame])] =
      new DagRunner(spark, cfg, models).plan(None).map { m =>
        try {
          val df = m.derive(spark, cfg)
          df.createOrReplaceTempView(m.name)
          m -> Right(df)
        } catch {
          case scala.util.control.NonFatal(e) =>
            m -> Left(s"underivable (cannot lint): ${e.getMessage}")
        }
      }
    // Every model's PHYSICAL plan is also screened for the post-Generate
    // recompute class (expensive expressions re-evaluated per exploded
    // row — the q118 postingsOf regression; PlanBaselineSpec pins the
    // gated queries, this covers user-authored models the same way).
    val genBad = derived.flatMap {
      case (m, Left(why)) => Seq(m.name -> why)
      case (m, Right(df)) =>
        try graft.tools.PlanCheck
          .postGenerateRecomputes(df.queryExecution.executedPlan)
          .map(m.name -> _)
        catch {
          case scala.util.control.NonFatal(e) =>
            Seq(m.name -> s"underivable (cannot lint): ${e.getMessage}")
        }
    }
    // derivation failures are already reported once (genBad above)
    val dfBad = derived
      .collect { case (m, Right(df))
        if m.layer == "raw" && m.build.isDefined &&
          !m.lintWaivers.contains(InvalidSelectStarExpansion) => (m, df) }
      .flatMap { case (m, df) =>
        try {
          val plan = df.queryExecution.analyzed
          m.pinnedSchema match {
            case Some(pin) =>
              val got = plan.schema.fields.map(f => (f.name, f.dataType)).toSeq
              val want = pin.fields.map(f => (f.name, f.dataType)).toSeq
              if (got != want)
                Some(m.name -> ("derived schema differs from pinnedSchema: " +
                  s"got ${got.map(_._1).mkString(",")} want ${want.map(_._1).mkString(",")}"))
              else None
            case None =>
              val hasProject = plan.collectFirst { case p: Project => p }.isDefined
              val hasFileScan = plan.collectFirst {
                case r: LogicalRelation => r
                case l: LeafNode if l.nodeName.contains("DataSourceV2") => l
              }.isDefined
              if (hasFileScan && !hasProject)
                Some(m.name -> "file scan without explicit projection/schema")
              else None
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            Some(m.name -> s"underivable (cannot lint): ${e.getMessage}")
        }
      }
    sqlBad ++ dfBad ++ genBad
  }
}
