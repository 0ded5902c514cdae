package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.{DagRunner, EngineConfig, MetaStore, Model, RunResult}
import graft.export.Exporter
import graft.models.OmicidxModels

/** `warehouse_daily`: the omicidx DAG over a seeded synthetic lake — raw
  * views, incremental bronze, geometadb views, the `sra_metadata` mart and
  * its export — then `catalog.json`, then consumer reads. One closed-loop
  * client, the daily cron: each step waits for the previous one.
  *
  * Set-up builds the history (every day but the last [[LandedDays]]) into
  * an empty warehouse: the bulk path, run the way a cron full rebuild runs
  * it, in a fresh JVM. It then issues one consumer read of each kind, so
  * the timed reads run warm, as they would in a long-lived reader. Every
  * step lands one new day of lake files (untimed), refreshes that day into
  * the same warehouse and export dir, rewrites `catalog.json` and issues
  * [[ReadsPerStep]] seeded consumer reads. A run makes exactly
  * [[LandedDays]] steps, so every run times the same work whatever the
  * engine's speed. */
final class WarehouseWorkload(spark: SparkSession, a: Args) extends Workload(spark, a) {
  import WarehouseWorkload._

  private val shape = DailyShape
  private val (gen, genS) = nanos(new LakeGen(a.seed, shape))
  private val rng = new java.util.Random(a.seed * 31 + 7)
  private val lake = s"${a.work}/lake"
  private val staging = s"${a.work}/staging"
  private val wh = s"${a.work}/warehouse"
  private val ex = s"${a.work}/export"
  private val base = shape.days - LandedDays
  private val models: Seq[Model] = OmicidxModels.catalog(OmicidxModels.lakeSources)
  private var landed = 0 // days [0, landed) are in the lake
  private val bronzeLanded = mutable.ArrayBuffer[Double]()
  private var history: (Seq[RunResult], Double) = null
  private var markers0 = 0L
  private var side = Map.empty[String, Double] // isolated calls of the traced run

  private def cfg(from: Int, to: Int) = EngineConfig(lake, wh, ex, Map(
    "start_ds" -> gen.date(from).toString, "end_ds" -> gen.date(to).toString))

  def setup(): Unit = {
    lakeRoot = Paths.get(lake).toAbsolutePath.toString
    // the history in chunk files plus one file set per day a step lands
    val (_, lakeS) = nanos {
      val bulk = gen.spans(0, base - 1, shape.chunks)
      gen.stage(spark, staging, bulk ++ (base until shape.days).map(d => (d, d + 1)))
      bulk.foreach(gen.land(staging, lake, _))
    }
    landed = base
    history = nanos(tracer.span("history", "build") {
      val r = dag(cfg(0, base - 1), new MetaStore(spark, wh))
      tracer.span("catalog", "catalog")(Exporter.writeCatalogJson(spark, ex, "history"))
      r
    })
    history._1.filter(_.status != "success").foreach(r =>
      sys.error(s"history build: model ${r.model} ${r.status}: ${r.error.getOrElse("")}"))
    markers0 = intervalMarkers()
    val (_, warmS) = nanos(consumerReads(base - 1, readKinds, timed = false))
    System.err.println(f"[perfbench] set-up: generate $genS%.1f s, lake $lakeS%.1f s, history build " +
      f"${history._2}%.1f s, warm-up reads $warmS%.1f s")
  }

  private def layerOf(m: Model): String = m.layer match {
    case "raw" | "geometadb" => "views"
    case "bronze" => "incremental"
    case "mart" => "export"
    case other => other
  }

  /** The DAG run. Untraced: one `DagRunner.run()`. Traced: the same
    * `plan()` order, one single-model runner per model so each model gets
    * its own span, then the one `MetaStore.record` a full run makes. */
  private def dag(c: EngineConfig, meta: MetaStore): Seq[RunResult] =
    tracer.span("dag.run", "dag") {
      if (!tracer.enabled) new DagRunner(spark, c, models, Some(meta)).run()
      else {
        val order = tracer.span("dag.plan", "dag")(new DagRunner(spark, c, models).plan())
        val results = order.map(m =>
          tracer.span(m.name, layerOf(m))(new DagRunner(spark, c, Seq(m)).run().head))
        tracer.span("dag.record", "dag")(meta.record(results, models))
        results
      }
    }

  override def maxSteps: Int = LandedDays

  def step(i: Int): Unit = {
    gen.land(staging, lake, (landed, landed + 1))
    landed += 1
    val day = landed - 1
    var catalogOk = false
    val (results, secs) = nanos {
      val r = dag(cfg(day, day), new MetaStore(spark, wh))
      catalogOk = ledger.op(s"catalog.json day ${gen.date(day)}") {
        tracer.span("catalog", "catalog")(Exporter.writeCatalogJson(spark, ex, s"day$i"))
        None
      }
      r
    }
    steps += secs
    check(results, day, day, catalogOk)
    bronzeLanded += results.filter(_.layer == "bronze").map(_.rows).sum.toDouble
    consumerReads(day, new scala.util.Random(rng).shuffle(
      Seq.tabulate(ReadsPerStep)(k => readKinds(k % readKinds.size))), timed = true)
  }

  /** Output checks of one step, each counted as an op. */
  private def check(results: Seq[RunResult], from: Int, to: Int,
      catalogOk: Boolean): Unit = {
    val byName = results.map(r => r.model -> r).toMap
    results.foreach(r => ledger.op(s"model ${r.model}") {
      if (r.status == "success") None else Some(s"${r.status}: ${r.error.getOrElse("")}")
    })
    gen.bronzeModels.foreach(m => ledger.op(s"rows $m") {
      val want = gen.expectedRows(m, from, to)
      val got = byName.get(m).map(_.rows).getOrElse(-1L)
      if (got == want) None else Some(s"$got rows, expected $want")
    })
    val martRows = gen.expectedRows("sra_metadata", 0, to)
    ledger.op("rows sra_metadata") {
      val got = byName.get("sra_metadata").map(_.rows).getOrElse(-1L)
      if (got == martRows) None else Some(s"$got rows, expected $martRows")
    }
    if (!catalogOk) ledger.skipped("catalog.json total_rows")
    else ledger.op("catalog.json total_rows") {
      val js = new String(Files.readAllBytes(Paths.get(ex, "catalog.json")), "UTF-8")
      val total = "\"total_rows\": (\\d+)".r.findFirstMatchIn(js).map(_.group(1).toLong)
      if (total.contains(martRows)) None else Some(s"total_rows $total, expected $martRows")
    }
    ledger.op("no ._tmp left") {
      val left = Seq(wh, ex).flatMap(d => Stats.files(Paths.get(d), _.toString.contains("._tmp")))
      if (left.isEmpty) None else Some(s"${left.size} ._tmp files, e.g. ${left.head}")
    }
  }

  // ---- consumer reads --------------------------------------------------

  private val readKinds = Seq("mart_count", "mart_platforms", "mart_study",
    "geo_organism", "geo_suppl")

  /** Seeded reads of the given kinds as of day `to`: mart reads through
    * the exported parquet (`Exporter.remoteViewsSql`), geometadb reads
    * through the registered views. Each read is one op, checked against
    * the generator's truth; `timed` reads are timed alone into [[reads]]. */
  private def consumerReads(to: Int, kinds: Seq[String], timed: Boolean): Unit = {
    spark.sql(Exporter.remoteViewsSql(Seq(
      "sra_metadata_export" -> s"$ex/marts/sra_metadata.parquet")))
    val expsTo = gen.exps.filter(_.day <= to)
    val gsmsTo = gen.gsms.filter(_.day <= to)
    val gsesTo = gen.gses.filter(_.day <= to)
    kinds.foreach { kind =>
      val (sql, want): (String, Map[String, Long]) = kind match {
        case "mart_count" =>
          ("SELECT 'all' AS k, count(*) AS n FROM sra_metadata_export",
            Map("all" -> expsTo.size.toLong))
        case "mart_platforms" =>
          ("SELECT platform AS k, count(*) AS n FROM sra_metadata_export GROUP BY platform",
            expsTo.groupBy(_.platform).map { case (k, v) => k -> v.size.toLong })
        case "mart_study" =>
          val withStudy = expsTo.filter(_.study != null)
          val s = withStudy(rng.nextInt(withStudy.size)).study
          (s"""SELECT coalesce(max(study_title), 'none') AS k, count(*) AS n
               FROM sra_metadata_export WHERE study_accession = '$s'""",
            Map(gen.studyTitles(s) -> withStudy.count(_.study == s).toLong))
        case "geo_organism" =>
          val org = LakeGen.Organisms(rng.nextInt(3))
          val ids = gsmsTo.filter(_.organism == org).map(_.acc).toSet
          (s"""SELECT 'pairs' AS k, count(*) AS n FROM gse_gsm gg
               JOIN gsm g ON gg.gsm = g.gsm WHERE g.organism_ch1 = '$org'""",
            Map("pairs" -> gsesTo.map(_.gsms.count(ids)).sum.toLong))
        case _ =>
          val ext = LakeGen.SuppExts(rng.nextInt(LakeGen.SuppExts.size - 1))
          (s"""SELECT 'files' AS k, count(*) AS n FROM geo_supplemental_files
               WHERE endswith(filename, '$ext')""",
            Map("files" -> (gsmsTo.flatMap(_.files) ++ gsesTo.flatMap(_.files))
              .count(_.endsWith(ext)).toLong))
      }
      val layer = if (kind.startsWith("mart")) "reads.mart" else "reads.geometadb"
      ledger.op(s"${if (timed) "read" else "warm-up read"} $kind") {
        val (rows, secs) = nanos(tracer.span(kind, layer)(spark.sql(sql).collect()))
        if (timed) reads += secs
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
          .filter(_._2 > 0)
        if (got == want.filter(_._2 > 0)) None else Some(s"got $got, expected $want")
      }
    }
  }

  // ---- traced run ------------------------------------------------------

  private def intervalMarkers(): Long = Stats.files(Paths.get(a.work), p =>
    p.getParent.getFileName.toString == "_intervals" && !p.toString.endsWith(".crc")).size.toLong

  override def sideSpans(): Unit = {
    Files.writeString(Paths.get(a.work, s"trace-${a.workload}-${a.seed}-truth.json"), gen.truthJson)
    val c = cfg(0, landed - 1)
    val scanS = OmicidxModels.lakeSources.toSeq.sortBy(_._1).map { case (name, src) =>
      nanos(tracer.span(s"scan.$name", "side")(
        src(spark, c).write.format("noop").mode("overwrite").save()))._2
    }.sum
    val spec = models.find(_.name == "sra_metadata").flatMap(_.export).get
    val mart = spark.read.parquet(s"$wh/mart/sra_metadata")
    val martRows = mart.count()
    val (_, exportS) = nanos(tracer.span("export.isolated", "side")(
      Exporter.parquet(mart, s"${a.work}/export_probe", spec.compression,
        spec.partitionBy, spec.maxRecordsPerFile, spec.rowGroupRows)))
    side = Map("scan" -> scanS, "export_rows_per_s" -> martRows / exportS)
  }

  def layerMetrics(): Map[String, Double] = {
    val spans = inSteps
    val built = tracer.root.children.filter(_.name == "history").toSeq.flatMap(_.walk)
    def selfOf(layer: String) = spans.filter(_.layer == layer).map(_.selfSeconds).sum
    def named(n: String) = spans.filter(_.name == n)
    val bronze = spans.filter(_.layer == "incremental")
    val lakeRows = counter(spans, "scan.lake_rows")
    val runs = named("dag.run")
    val modelSpans = spans.filter(s => Set("views", "incremental", "export")(s.layer))
    val footers = graft.sources.ParquetFooterMeta(spark, s"$ex/marts/sra_metadata.parquet/*.parquet")
      .collect()
    val martRows = footers.map(_.getLong(2)).sum
    val martBytes = footers.map(_.getLong(4)).sum
    val readSpans = spans.filter(_.layer.startsWith("reads."))
    def perRead(layer: String, f: Span => Double) = {
      val rs = readSpans.filter(_.layer.startsWith(layer))
      if (rs.isEmpty) 0.0 else rs.map(f).sum / rs.size
    }
    val storage = (Stats.du(Paths.get(wh)) + Stats.du(Paths.get(ex))).toDouble /
      Stats.du(Paths.get(lake))
    Map(
      "build.s" -> history._2,
      "build.rows_per_s" -> gen.lakeRows(0, base - 1) / history._2,
      "build.read_amplification" -> counter(built, "scan.lake_rows") /
        history._1.filter(_.layer == "bronze").map(_.rows).sum,
      "build.files_written" -> counter(built, "write.files"),
      "sources.scan_s" -> side("scan"),
      "sources.rows_read" -> perStep(lakeRows),
      "sources.read_amplification" -> lakeRows / bronzeLanded.sum,
      "sources.lake_files" -> (Stats.files(Paths.get(lake),
        p => p.toString.endsWith(".parquet") || p.toString.endsWith(".gz")).size.toDouble),
      "incremental.refresh_s" -> (perStep(bronze.map(_.selfSeconds).sum)),
      "incremental.files_written" -> (perStep(counter(bronze, "write.files"))),
      "incremental.bytes_written" -> (perStep(counter(bronze, "write.bytes"))),
      "incremental.partitions_written" -> (perStep(counter(bronze, "write.parts"))),
      "incremental.interval_markers" -> (perStep((intervalMarkers() - markers0).toDouble)),
      "dag.plan_s" -> (perStep(named("dag.plan").map(_.seconds).sum)),
      "dag.views_s" -> (perStep(selfOf("views"))),
      "dag.overhead_s" -> (perStep(runs.map(_.seconds).sum -
        modelSpans.map(_.seconds).sum)),
      "export.mart_s" -> (perStep(named("sra_metadata").map(_.seconds).sum)),
      "export.rows_per_s" -> side("export_rows_per_s"),
      "export.bytes_per_row" -> martBytes.toDouble / martRows,
      "export.row_groups" -> footers.length.toDouble,
      "catalog.s" -> (perStep(named("catalog").map(_.seconds).sum)),
      // the footers catalog() reads: every part file under the export dir
      "catalog.files_scanned" -> Stats.files(Paths.get(ex), _.toString.endsWith(".parquet"))
        .size.toDouble,
      "storage.bytes_per_lake_byte" -> storage,
      "reads.mart_s" -> perRead("reads.mart", _.seconds),
      "reads.geometadb_s" -> perRead("reads.geometadb", _.seconds),
      "reads.files_read" -> perRead("reads.", _.counters("scan.files")))
  }
}

object WarehouseWorkload {
  /** Consumer reads after each step, an even mix of the five kinds. */
  val ReadsPerStep = 20
  /** Days a run lands, one per step; every other day is history. */
  val LandedDays = 1
  /** Days built in set-up. */
  val HistoryDays = 14
  /** Spine rows per day as in a 1 M-row, 365-day lake; one file set per
    * source per history day, as the daily cron would have landed them. */
  val DailyShape: LakeShape = LakeShape(days = HistoryDays + LandedDays,
    spinePerDay = 2700, chunks = HistoryDays)
}
