package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.models.OmicidxModels

import java.nio.file.Files

/** DAG runner + incremental semantics over fixture SRA data — the engine-
  * level behaviors the reference pins in `sqlmesh/tests/` and
  * `WAREHOUSE.md` (topo order, interval idempotency, audits, metadata). */
class WarehouseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  import spark.implicits._

  private def fixtureSources: Map[String, (SparkSession, EngineConfig) => DataFrame] = {
    val accessions = Seq(
      // Accession, Submission, Status, Updated, Type, BioSample, BioProject
      ("SRX001", "SUB1", "live", "2005-05-28 10:00:00", "EXPERIMENT", "SAMN01", "PRJ1"),
      ("SRX002", "SUB1", "live", "2005-05-29 11:00:00", "EXPERIMENT", "SAMN02", "PRJ1"),
      ("SRX003", "SUB2", "live", "2005-06-15 09:00:00", "EXPERIMENT", "SAMN03", "PRJ2"),
      ("SRP001", "SUB1", "live", "2005-05-28 10:00:00", "STUDY", null, "PRJ1"),
      ("SRR001", "SUB1", "live", "2005-05-28 10:00:00", "RUN", "SAMN01", "PRJ1"))
      .toDF("Accession", "Submission", "Status", "Updated", "Type",
        "BioSample", "BioProject")
      .selectExpr("Accession", "Submission", "Status",
        "CAST(Updated AS TIMESTAMP) AS Updated", "Type", "BioSample",
        "BioProject")
    val experiments = Seq(
      ("SRX001", "exp one", "SRP001", "ILLUMINA"),
      ("SRX002", "exp two", "SRP001", "ILLUMINA"),
      ("SRX003", "exp three", "SRP001", "OXFORD_NANOPORE"),
      ("SRX999", "orphan (no accession row)", "SRP001", "ILLUMINA"))
      .toDF("accession", "title", "study_accession", "platform")
    // BioProject is the study's OWN column (DomainSchemas.sraStudy) — the
    // staging model no longer re-aliases the spine's, mirroring the
    // reference's stg_sra_studies select list
    val studies = Seq(("SRP001", "study one", "WGS", "abs", "PRJ1"))
      .toDF("accession", "title", "study_type", "abstract", "BioProject")
    Map(
      "src_sra_accessions" -> ((_: SparkSession, _: EngineConfig) => accessions),
      "src_sra_experiments" -> ((_: SparkSession, _: EngineConfig) => experiments),
      "src_sra_studies" -> ((_: SparkSession, _: EngineConfig) => studies))
  }

  private def mkRunner(cfg: EngineConfig) = {
    val models = OmicidxModels.catalog(fixtureSources)
      .filter(m => Seq("src_sra_accessions", "src_sra_experiments",
        "src_sra_studies", "stg_sra_experiments", "stg_sra_studies",
        "sra_metadata").contains(m.name))
    new DagRunner(spark, cfg, models, Some(new MetaStore(spark, cfg.warehouseDir)))
  }

  test("plan orders dependencies before dependents and detects cycles") {
    val cfg = EngineConfig("/none", "/none", "/none")
    val runner = mkRunner(cfg)
    val order = runner.plan().map(_.name)
    assert(order.indexOf("src_sra_experiments") < order.indexOf("stg_sra_experiments"))
    assert(order.indexOf("stg_sra_experiments") < order.indexOf("sra_metadata"))

    val cyclic = Seq(
      Model("a", "l", dependsOn = Seq("b"), sql = Some("SELECT 1")),
      Model("b", "l", dependsOn = Seq("a"), sql = Some("SELECT 1")))
    val ex = intercept[IllegalStateException] {
      new DagRunner(spark, cfg, cyclic).plan()
    }
    assert(ex.getMessage.contains("cycle"))
  }

  test("incremental window filters inclusively and join drops orphans") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val cfg = EngineConfig("/none", wh, s"$wh/exports",
      Map("start_ds" -> "2005-05-28", "end_ds" -> "2005-05-29"))
    val results = mkRunner(cfg).run()
    assert(results.forall(_.status == "success"), results.mkString("\n"))
    val stg = spark.table("stg_sra_experiments")
    // both boundary dates kept (inclusive), SRX003 outside window, SRX999
    // has no accession row (inner join drops it)
    assert(stg.select("accession").as[String].collect().sorted
      === Array("SRX001", "SRX002"))
    assert(stg.columns.contains("updated_date") && stg.columns.contains("biosample"))
  }

  test("re-running the same interval replaces partitions, never duplicates") {
    val wh = Files.createTempDirectory("graft_wh2").toString
    val cfg = EngineConfig("/none", wh, s"$wh/exports",
      Map("start_ds" -> "2005-05-28", "end_ds" -> "2005-06-30"))
    val runner = mkRunner(cfg)
    runner.run()
    val n1 = spark.table("stg_sra_experiments").count()
    runner.run() // idempotent refresh of the same window
    val n2 = spark.table("stg_sra_experiments").count()
    assert(n1 === 3L && n2 === 3L)
    // narrowed re-run only touches its own partitions; history intact
    val narrow = new EngineConfig("/none", wh, s"$wh/exports",
      Map("start_ds" -> "2005-05-28", "end_ds" -> "2005-05-28"))
    mkRunner(narrow).run(Some(Seq("stg_sra_experiments")))
    assert(spark.read.parquet(s"$wh/bronze/stg_sra_experiments").count() === 3L)
  }

  test("backfill recomputes only the missing _ds partitions") {
    val wh = Files.createTempDirectory("graft_wh5").toString
    val cfg = EngineConfig("/none", wh, s"$wh/exports",
      Map("start_ds" -> "2005-05-28", "end_ds" -> "2005-06-30"))
    mkRunner(cfg).run(Some(Seq("stg_sra_experiments")))
    val tableDir = s"$wh/bronze/stg_sra_experiments"
    val p28 = new java.io.File(s"$tableDir/_ds=2005-05-28")
    val p29 = new java.io.File(s"$tableDir/_ds=2005-05-29")
    assert(p28.isDirectory && p29.isDirectory)
    val rows28 = spark.read.parquet(p28.toString).collect().toSet
    val before29 = p29.listFiles().map(f => f.getName -> f.lastModified()).toMap

    // lose one partition (and its interval marker): the "missed week"
    p28.listFiles().foreach(_.delete()); assert(p28.delete())
    assert(new java.io.File(s"$tableDir/_intervals/_ds=2005-05-28").delete())
    val missing = graft.incremental.IntervalRunner.missingIntervals(
      spark, tableDir,
      java.time.LocalDate.parse("2005-05-28"),
      java.time.LocalDate.parse("2005-06-30"))
    assert(missing === Seq(java.time.LocalDate.parse("2005-05-28")),
      "empty source dates stay covered by markers; only the deleted date is missing")

    mkRunner(cfg).run(Some(Seq("stg_sra_experiments")))
    // the missing partition is rebuilt identically...
    assert(spark.read.parquet(p28.toString).collect().toSet === rows28)
    // ...and the untouched partition was NOT rewritten (same files+mtimes)
    assert(p29.listFiles().map(f => f.getName -> f.lastModified()).toMap
      === before29)
  }

  test("coverage = markers UNION physical partitions (pre-tracking tables)") {
    val dir = Files.createTempDirectory("graft_cov").toString
    // pre-tracking physical partitions, no markers yet
    new java.io.File(s"$dir/_ds=2005-05-28").mkdirs()
    new java.io.File(s"$dir/_ds=2005-05-29").mkdirs()
    // a later tracked refresh recorded markers for a DIFFERENT subset window
    new java.io.File(s"$dir/_intervals").mkdirs()
    new java.io.File(s"$dir/_intervals/_ds=2005-05-30").createNewFile()
    val missing = graft.incremental.IntervalRunner.missingIntervals(
      spark, dir,
      java.time.LocalDate.parse("2005-05-28"),
      java.time.LocalDate.parse("2005-05-31"))
    assert(missing === Seq(java.time.LocalDate.parse("2005-05-31")),
      "marker subset must not erase coverage of older physical partitions")
  }

  test("parseYaml: '#' in values survives; nested sections are rejected") {
    val m = GraftConfig.parseYaml(
      """warehouse:
        |  data_root: /lake/frag#2  # trailing comment
        |  export_dir: "/exports"
        |# full-line comment
        |vars:
        |  start_ds: 2024-01-01
        |""".stripMargin)
    assert(m("warehouse.data_root") === "/lake/frag#2")
    assert(m("warehouse.export_dir") === "/exports")
    assert(m("vars.start_ds") === "2024-01-01")
    // ' #' INSIDE a quoted value is data, not a comment
    val q = GraftConfig.parseYaml(
      """warehouse:
        |  data_root: "/lake/a # b"  # real comment
        |""".stripMargin)
    assert(q("warehouse.data_root") === "/lake/a # b")
    val e = intercept[RuntimeException](GraftConfig.parseYaml(
      "warehouse:\n  nested:\n    too_deep: 1\n"))
    assert(e.getMessage.contains("nested"))
  }

  test("mart materializes, exports parquet, passes audits, records metadata") {
    val wh = Files.createTempDirectory("graft_wh3").toString
    val cfg = EngineConfig("/none", wh, s"$wh/exports",
      Map("start_ds" -> "2005-01-01", "end_ds" -> "2005-12-31"))
    val results = mkRunner(cfg).run()
    assert(results.forall(_.status == "success"))
    val mart = spark.read.parquet(s"$wh/exports/marts/sra_metadata.parquet")
    assert(mart.count() === 3L)
    assert(mart.columns.contains("study_title"))
    val meta = new MetaStore(spark, wh)
    assert(meta.runs.filter($"status" === "success").count() >= 6L)
    assert(meta.history(3).count() === 3L)
  }

  test("the sra_metadata export is a copy of its table: same files, rows and schema") {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val wh = Files.createTempDirectory("graft_wh_copy").toString
    val cfg = EngineConfig("/none", wh, s"$wh/exports",
      Map("start_ds" -> "2005-01-01", "end_ds" -> "2005-12-31"))
    assert(mkRunner(cfg).run().forall(_.status == "success"))
    val table = spark.read.parquet(s"$wh/mart/sra_metadata")
    val export = spark.read.parquet(s"$wh/exports/marts/sra_metadata.parquet")
    def hashes(df: DataFrame) =
      df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)).collect()
        .map(_.getLong(0)).sorted.toSeq
    assert(export.schema === table.schema)
    assert(hashes(export) === hashes(table) && hashes(export).size === 3)
    def names(d: String) = Files.list(java.nio.file.Paths.get(d)).toArray
      .map(_.toString.split('/').last).sorted.toSeq
    assert(names(s"$wh/exports/marts/sra_metadata.parquet") ===
      names(s"$wh/mart/sra_metadata"))
  }

  test("a partitioned-export Table model keeps its derived columns and counts its rows") {
    val wh = Files.createTempDirectory("graft_wh_split").toString
    // shaped like corpus_splits, with the partition column mid-schema
    val m = Model("split_items", "mart",
      materialization = Materialization.Table,
      sql = Some("""SELECT id AS doc_id,
          CASE WHEN id % 10 < 8 THEN 'train' WHEN id % 10 < 9 THEN 'val'
               ELSE 'test' END AS split,
          id % 7 AS bucket FROM range(100)"""),
      export = Some(ExportSpec("marts/split_items.parquet",
        partitionBy = Seq("split"))),
      audits = Seq(Audit("every_doc_split_once",
        "SELECT doc_id FROM split_items GROUP BY doc_id HAVING count(*) > 1")))
    val res = new DagRunner(spark, EngineConfig("/none", wh, s"$wh/exports"),
      Seq(m)).run().head
    assert(res.status === "success", res.error)
    assert(res.rows === 100L)
    val derived = spark.sql(m.sql.get).schema
    assert(spark.table("split_items").schema.map(f => (f.name, f.dataType)) ===
      derived.map(f => (f.name, f.dataType)))
    val export = spark.read.parquet(s"$wh/exports/marts/split_items.parquet")
    assert(export.count() === 100L)
    assert(export.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("train" -> 80L, "val" -> 10L, "test" -> 10L))
  }

  test("MetaStore: lineage and docs hold the catalog and are rewritten only when it changes") {
    import org.apache.spark.sql.functions.col
    val wh = Files.createTempDirectory("graft_wh_meta").toString
    val cfg = EngineConfig("/none", wh, s"$wh/exports",
      Map("start_ds" -> "2005-01-01", "end_ds" -> "2005-12-31"))
    val runner = mkRunner(cfg)
    val models = runner.plan()
    val results = runner.run()
    val meta = new MetaStore(spark, wh)
    val lineage = spark.read.parquet(s"$wh/meta/model_lineage")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(lineage === models.flatMap(m => m.dependsOn.map(m.name -> _)).toSet)
    assert(lineage.size === models.map(_.dependsOn.size).sum)
    assert(meta.docs.select("model").collect().map(_.getString(0)).sorted.toSeq ===
      models.map(_.name).sorted)
    def files(table: String) = {
      val dir = java.nio.file.Paths.get(wh, "meta", table)
      if (!Files.exists(dir)) Map.empty[String, Long]
      else Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before = Seq("model_lineage", "model_docs").map(files)
    val runsBefore = meta.runs.count()
    // the same catalog: only the model_runs append
    val (_, c) = Meter.measure(spark)(meta.record(results, models))
    assert(c.jobs === 1L, s"record ran ${c.jobs} jobs")
    assert(Seq("model_lineage", "model_docs").map(files) === before)
    assert(meta.runs.count() === runsBefore + results.size)
    // one model added, with an upstream edge: both tables are rewritten
    val added = models :+ Model("mart_extra", "mart",
      dependsOn = Seq("sra_metadata"), sql = Some("SELECT 1 AS x"))
    meta.record(results, added)
    assert(Seq("model_lineage", "model_docs").map(files).zip(before)
      .forall { case (now, was) => now.keySet != was.keySet })
    assert(spark.read.parquet(s"$wh/meta/model_lineage")
      .filter(col("model") === "mart_extra").count() === 1L)
    assert(meta.docs.count() === added.size.toLong)
    // a deleted model_docs is written again; model_lineage is left alone
    val lineageFiles = files("model_lineage")
    graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(wh, "meta", "model_docs"))
    meta.record(results, added)
    assert(meta.docs.count() === added.size.toLong)
    assert(files("model_lineage") === lineageFiles)
  }

  // ---- the export publish ------------------------------------------------

  /** Runs a Table model over `ids` (3 part files) whose export is
    * `marts/pub_items.parquet` under `exportDir` and whose audit rejects
    * negative ids. */
  private def publishRun(wh: String, exportDir: String, ids: Seq[Long]): RunResult = {
    ids.toDF("id").repartition(3).createOrReplaceTempView("pub_src")
    val m = Model("pub_items", "mart", materialization = Materialization.Table,
      sql = Some("SELECT id FROM pub_src"),
      export = Some(ExportSpec("marts/pub_items.parquet")),
      audits = Seq(Audit("non_negative", "SELECT * FROM pub_items WHERE id < 0")))
    new DagRunner(spark, EngineConfig("/none", wh, exportDir), Seq(m)).run().head
  }

  private def exportedIds(exportDir: String): Set[Long] =
    spark.read.parquet(s"$exportDir/marts/pub_items.parquet").collect()
      .map(_.getLong(0)).toSet

  test("a failing audit leaves the previous export readable") {
    val wh = Files.createTempDirectory("graft_pub_audit").toString
    val ex = s"$wh/exports"
    assert(publishRun(wh, ex, 0L until 10L).status === "success")
    assert(publishRun(wh, ex, -5L until 10L).status === "audit_failed")
    assert(exportedIds(ex) === (0L until 10L).toSet)
  }

  test("a publish that fails part-way through its copy leaves the previous export readable") {
    val base = Files.createTempDirectory("graft_pub_fail").toString
    spark.sparkContext.hadoopConfiguration
      .set("fs.failcopy.impl", classOf[FailingCreateFs].getName)
    val ex = s"failcopy://$base/exports"
    assert(publishRun(base, ex, 0L until 10L).status === "success")
    FailingCreateFs.createsLeft.set(1) // the copy creates one file, then fails
    val res = try publishRun(base, ex, 10L until 30L)
      finally FailingCreateFs.createsLeft.set(Int.MaxValue)
    assert(res.status === "failed")
    assert(res.error.exists(_.contains("injected")), res.error)
    assert(exportedIds(s"$base/exports") === (0L until 10L).toSet)
    // the next publish replaces the partial copy
    assert(publishRun(base, ex, 10L until 30L).status === "success")
    assert(exportedIds(s"$base/exports") === (10L until 30L).toSet)
  }

  test("a successful publish leaves no ._tmp, and a file:// export dir may hold a space") {
    val base = Files.createTempDirectory("graft_pub_ok").toString
    val wh = s"$base/wh"
    val ex = s"file://$base/ex port"
    assert(publishRun(wh, ex, 0L until 10L).status === "success")
    assert(publishRun(wh, ex, 5L until 25L).status === "success")
    assert(exportedIds(s"$base/ex port") === (5L until 25L).toSet)
    val left = Files.walk(java.nio.file.Paths.get(base)).toArray
      .map(_.toString).filter(_.contains("._tmp"))
    assert(left.isEmpty, left.mkString(", "))
  }

  test("lint flags raw-layer SELECT *; production catalog is clean") {
    val bad = Model("src_bad", "raw", sql = Some("SELECT * FROM x"))
    val ok = Model("stg_ok", "bronze", sql = Some("SELECT * FROM y")) // bronze passthrough allowed
    assert(Lint.selectStarViolations(Seq(bad, ok)) === Seq("src_bad"))
    assert(Lint.selectStarViolations(
      graft.models.OmicidxModels.catalog(graft.models.OmicidxModels.lakeSources))
      .isEmpty)
  }

  test("Lint.violations is empty for the production catalog on a fixture lake") {
    val lake = Files.createTempDirectory("graft_lint_lake").toString
    graft.tools.WarehouseDemo.write(spark, lake)
    val cfg = EngineConfig(lake,
      Files.createTempDirectory("graft_lint_wh").toString, "/none")
    val models = OmicidxModels.catalog(OmicidxModels.lakeSources)
    val bad = Lint.violations(spark, cfg, models)
    assert(bad.isEmpty, s"unexpected lint violations: $bad")
  }

  test("Lint.violations flags unpinned file scans and pinned-schema drift") {
    val lake = Files.createTempDirectory("graft_lint_lake2").toString
    Seq(("a", 1)).toDF("k", "v").write.parquet(s"$lake/t.parquet")
    val cfg = EngineConfig(lake, "/none", "/none")
    val bare = Model("src_bare", "raw", build = Some(
      (s: SparkSession, c: EngineConfig) => s.read.parquet(s"${c.dataRoot}/t.parquet")))
    val waived = bare.copy(name = "src_waived",
      lintWaivers = Set(Lint.InvalidSelectStarExpansion))
    val drifted = bare.copy(name = "src_drifted",
      pinnedSchema = Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("missing",
          org.apache.spark.sql.types.LongType)))))
    val out = Lint.violations(spark, cfg, Seq(bare, waived, drifted)).toMap
    assert(out.contains("src_bare"))
    assert(!out.contains("src_waived"))
    assert(out("src_drifted").contains("pinnedSchema"))
  }

  test("table materialization scans its input once (row count from footers)") {
    val lake = Files.createTempDirectory("graft_onescan_lake").toString
    spark.range(1000).selectExpr("id AS item_id").coalesce(1)
      .write.parquet(s"$lake/items.parquet")
    val cfg = EngineConfig(lake,
      Files.createTempDirectory("graft_onescan_wh").toString, "/none")
    val m = Model("mart_items", "mart",
      materialization = Materialization.Table,
      build = Some((s: SparkSession, c: EngineConfig) =>
        s.read.parquet(s"${c.dataRoot}/items.parquet")))
    val (res, counts) = graft.core.Meter.measure(spark)(
      new DagRunner(spark, cfg, Seq(m)).run())
    assert(res.head.status === "success")
    assert(res.head.rows === 1000L)
    // the view is the table read back with the schema it was written with
    assert(spark.table("mart_items").schema ===
      spark.read.parquet(s"${cfg.warehouseDir}/mart/mart_items").schema)
    // one scan of the 1000-row input; the post-write count comes from
    // footers (metadata-only), so a second 1000-record read means the
    // out.count() re-scan regressed back in
    val read = counts.inputRecords
    assert(read < 2000L, s"expected one input scan, read=$read")
    assert(read >= 1000L)
  }

  test("incremental refresh counts rows from footers and reads back the written schema") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DateType
    // 05-30 has no source rows: its marker is written, its partition never
    val lake = Files.createTempDirectory("graft_inc_lake").toString
    Seq((1, "2005-05-28"), (2, "2005-05-28"), (3, "2005-05-29"), (4, "2005-05-29"),
      (5, "2005-05-29"), (6, "2005-05-31"))
      .toDF("id", "day").selectExpr("id", "CAST(day AS DATE) AS day", "'x' AS v")
      .coalesce(1).write.parquet(s"$lake/items.parquet")
    val sourceRows = 6L
    val wh = Files.createTempDirectory("graft_inc_wh").toString
    val table = s"$wh/bronze/stg_items"
    val models = Seq(
      Model("src_items", "raw", build = Some((s: SparkSession, c: EngineConfig) =>
        s.read.parquet(s"${c.dataRoot}/items.parquet").select("id", "day", "v"))),
      Model("stg_items", "bronze", dependsOn = Seq("src_items"),
        materialization = Materialization.IncrementalByTimeRange("day"),
        sql = Some("""SELECT id, day, v FROM src_items
                      WHERE day BETWEEN DATE '@start_ds' AND DATE '@end_ds'""")))
    def partitionFiles() = new java.io.File(table).listFiles()
      .filter(_.getName.startsWith("_ds=")).flatMap(_.listFiles())
      .map(f => f.getPath -> f.lastModified()).toMap
    def refresh(from: String, to: String, vars: Map[String, String] = Map.empty) = {
      val cfg = EngineConfig(lake, wh, "/none",
        Map("start_ds" -> from, "end_ds" -> to) ++ vars)
      val (runs, counts) = graft.core.Meter.measure(spark)(
        new DagRunner(spark, cfg, models).run())
      val res = runs.last
      val read = counts.inputRecords
      assert(res.status === "success", res)
      val inferred = spark.read.parquet(table)
      assert(res.rows === inferred.filter(col("_ds").between(from, to)).count())
      assert(spark.table("stg_items").schema === inferred.schema)
      assert(inferred.schema("_ds").dataType === DateType)
      // the source is scanned at most once; the table just written, never
      assert(read <= sourceRows, s"read $read records")
      (res.rows, read)
    }

    assert(refresh("2005-05-28", "2005-05-30")._1 === 5L) // fresh window
    assert(new java.io.File(s"$table/_intervals/_ds=2005-05-30").exists())
    assert(!new java.io.File(s"$table/_ds=2005-05-30").exists())
    val written = partitionFiles()
    assert(refresh("2005-05-28", "2005-05-30") === (5L, 0L)) // covered: nothing read
    assert(partitionFiles() === written)
    assert(refresh("2005-05-28", "2005-05-31")._1 === 6L) // backfills 05-31 only
    assert(partitionFiles().filter(f => written.contains(f._1)) === written)
    assert(refresh("2005-05-29", "2005-05-31", Map("refresh_mode" -> "full"))._1 === 4L)
  }

  // ---- window-bounded lake scans (LakeFixture lake, lake manifest) -----

  private val lakeModels = Seq("stg_sra_experiments", "stg_sra_accessions",
    "stg_geo_samples")

  /** Runs the lake models (and their raw views) over days [from, to]. */
  private def runLake(lake: String, wh: String, from: Int, to: Int,
      vars: Map[String, String] = Map.empty): Seq[RunResult] = {
    val cfg = EngineConfig(lake, wh, s"$wh/exports", Map(
      "start_ds" -> LakeFixture.date(from).toString,
      "end_ds" -> LakeFixture.date(to).toString) ++ vars)
    val res = new DagRunner(spark, cfg,
      OmicidxModels.catalog(OmicidxModels.lakeSources)).run(Some(lakeModels))
    assert(res.forall(_.status == "success"), res.mkString("\n"))
    res
  }

  private def bronzeRows(wh: String): Map[String, Seq[String]] =
    lakeModels.map(m => m -> spark.read.parquet(s"$wh/bronze/$m")
      .drop("_ds").collect().map(_.toSeq.mkString("|")).sorted.toSeq).toMap

  test("a one-day refresh reads the same lake files and records after 5 and after 15 history days") {
    val landed = 20
    def refreshCost(history: Int) = {
      val lake = Files.createTempDirectory("graft_hist_lake").toString
      val wh = Files.createTempDirectory("graft_hist_wh").toString
      (landed - history until landed).foreach(LakeFixture.landDay(spark, lake, _))
      runLake(lake, wh, landed - history, landed - 1)
      LakeFixture.landDay(spark, lake, landed)
      val (res, c) = Meter.measure(spark)(runLake(lake, wh, landed, landed))
      val files = res.filter(_.layer == "raw")
        .map(r => spark.table(r.model).inputFiles.length).sum
      (files, c.inputRecords, res.filter(_.layer == "bronze").map(_.rows).sum)
    }
    val (files5, records5, rows5) = refreshCost(5)
    val (files15, records15, rows15) = refreshCost(15)
    // the landed day's spine, experiment and GEO files
    assert(files5 === 3)
    assert((files15, records15) === ((files5, records5)))
    assert(rows5 === 12L && rows15 === 12L)
  }

  test("deleting meta/lake_manifest rebuilds it, with identical bronze rows") {
    val lake = Files.createTempDirectory("graft_rebuild_lake").toString
    val wh = Files.createTempDirectory("graft_rebuild_wh").toString
    (0 to 3).foreach(LakeFixture.landDay(spark, lake, _))
    runLake(lake, wh, 0, 3)
    val manifests = java.nio.file.Paths.get(wh, "meta", "lake_manifest")
    def entries() = Seq("src_sra_accessions", "src_sra_experiments",
      "src_geo_samples").map(s => new String(Files.readAllBytes(
        manifests.resolve(s).resolve("entries.jsonl")), "UTF-8"))
    val (before, rows) = (entries(), bronzeRows(wh))
    assert(rows.values.forall(_.size == 16))
    graft.export.Exporter.deleteRecursively(manifests)
    runLake(lake, wh, 0, 3, Map("refresh_mode" -> "full"))
    assert(entries() === before)
    assert(bronzeRows(wh) === rows)
  }

  test("failing audit fails the model") {
    val cfg = EngineConfig("/none",
      Files.createTempDirectory("graft_wh4").toString, "/none")
    val bad = Model("bad_model", "mart",
      materialization = Materialization.Table,
      sql = Some("SELECT -1 AS item_id"),
      audits = Seq(Audit("positive_ids",
        "SELECT * FROM bad_model WHERE item_id < 0")))
    val res = new DagRunner(spark, cfg, Seq(bad)).run()
    assert(res.head.status === "audit_failed")
  }

  test("streaming state metrics flow into meta.stream_state; alarm view breaches on threshold") {
    // r10 verdict item 7: the stream-stream join buffer grows silently
    // (∝ watermark horizon × arrival rate) until an executor OOMs; state
    // metrics must reach the deployment-facing run-metrics path — the
    // meta.model_runs shape — not just a harness counter. Two catch-up
    // runs against one checkpoint: the recorded batchIds must show the
    // growth CURVE, and the alarm view must flag on a low threshold and
    // stay silent on an absurd one.
    import org.apache.spark.sql.functions._
    import graft.streaming.EventStream
    val base = Files.createTempDirectory("graft_ss").toString
    Files.createDirectory(java.nio.file.Paths.get(s"$base/in"))
    val meta = new MetaStore(spark, s"$base/wh")
    def land(offsetH: Int, n: Int): Unit =
      spark.range(n).select(
          (col("id") + offsetH * 1000).as("event_id"),
          to_timestamp(lit("2024-01-01 00:00:00")).cast("timestamp")
            .as("base"),
          (col("id") % 7).as("user_id"),
          lit("view").as("event_type"), lit(1.0).as("value"))
        .select(col("event_id"),
          (unix_timestamp(col("base")) + lit(offsetH * 3600) + col("event_id") % 60)
            .cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("append").parquet(s"$base/in")
    def run(): Unit = {
      val st = spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
        .parquet(s"$base/in")
      val q = EventStream.runAvailableNow(
        EventStream.windowedCounts(st, "ts", "1 hour", "1 hour"),
        s"$base/out", s"$base/ck")
      meta.recordStreamState("winagg", q)
    }
    land(0, 50); run()
    land(1, 50); run()
    val ss = meta.streamState
    assert(ss.filter(col("run") === "winagg").count() > 0L)
    // two catch-up runs on one checkpoint → at least two distinct batch
    // ids recorded: the growth curve, not a single sample
    val batches = ss.filter(col("run") === "winagg")
      .select("batchId").distinct().count()
    assert(batches >= 2L, s"expected >=2 recorded batches, got $batches")
    val cols = ss.columns.toSet
    assert(Set("run", "batchId", "operator", "numRowsTotal",
      "memoryUsedBytes", "numRowsUpdated").subsetOf(cols))
    assert(ss.filter(col("numRowsTotal") > 0L).count() > 0L,
      "state rows should be visible for the windowed aggregate")
    // alarm view: 1-byte threshold flags the operator; an absurd
    // threshold flags nothing
    val low = meta.streamStateAlarms(1L).select("run").distinct()
      .collect().map(_.getString(0)).toSet
    assert(low.contains("winagg"), s"low-threshold alarm missed: $low")
    assert(meta.streamStateAlarms(Long.MaxValue).count() === 0L)
    graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
  }
}

/** Local files under the `failcopy` scheme whose `create` fails once
  * [[FailingCreateFs.createsLeft]] creates have been made: a copy into it
  * dies part-way. */
final class FailingCreateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  override def getUri: java.net.URI = java.net.URI.create("failcopy:///")
  override def getScheme: String = "failcopy"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    if (FailingCreateFs.createsLeft.getAndDecrement() <= 0)
      throw new java.io.IOException(s"injected failure creating $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingCreateFs {
  val createsLeft = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
}
