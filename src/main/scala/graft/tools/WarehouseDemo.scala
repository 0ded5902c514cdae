package graft.tools

import org.apache.spark.sql.SparkSession
import graft.core._
import graft.export.Exporter
import graft.models.OmicidxModels

/** End-to-end demo of the warehouse engine through its public API: a
  * miniature lake → the production model DAG → incremental bronze → mart
  * export → catalog.json. The lake stays under `<base>/lake`, so
  * GraftCli `run`/`lint` can be driven against real files too
  * (`GRAFT_DATA_ROOT=<base>/lake`).
  * Usage: runMain graft.tools.WarehouseDemo [/tmp/graft_demo]
  */
object WarehouseDemo {

  /** Gzip a handful of JSON lines to a single `.ndjson.gz` file (the lake's
    * GEO layout: one gz file per monthly batch, `geo/gsm*.ndjson.gz`). */
  private def gzLines(path: java.nio.file.Path, lines: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(path))
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Writes a miniature omicidx lake under `root`: every raw source the
    * production catalog binds ([[graft.models.OmicidxModels.lakeSources]]).
    * Also the fixture lake of the lint and job-count specs. */
  def write(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    Seq(
      ("SRX001", "SUB1", "live", "2005-05-28 10:00:00", "EXPERIMENT", "SAMN01", "PRJ1"),
      ("SRX002", "SUB1", "live", "2005-05-29 11:00:00", "EXPERIMENT", "SAMN02", "PRJ1"),
      ("SRX003", "SUB1", "live", "2005-06-15 09:00:00", "EXPERIMENT", "SAMN03", "PRJ2"),
      ("SRR001", "SUB1", "live", "2005-05-28 12:00:00", "RUN", "SAMN01", "PRJ1"),
      ("SRS001", "SUB1", "live", "2005-05-28 13:00:00", "SAMPLE", "SAMN01", "PRJ1"),
      ("SRP001", "SUB1", "live", "2005-05-28 10:00:00", "STUDY", null, "PRJ1"))
      .toDF("Accession", "Submission", "Status", "Updated", "Type",
        "BioSample", "BioProject")
      .selectExpr("Accession", "Submission", "Status",
        "CAST(Updated AS TIMESTAMP) AS Updated", "Type", "BioSample",
        "BioProject")
      .write.mode("overwrite").parquet(s"$root/sra/sra_accessions.parquet")
    Seq(
      ("SRX001", "exp one", "SRP001", "ILLUMINA"),
      ("SRX002", "exp two", "SRP001", "ILLUMINA"),
      ("SRX003", "exp three", "SRP001", "OXFORD_NANOPORE"))
      .toDF("accession", "title", "study_accession", "platform")
      .write.mode("overwrite")
      .parquet(s"$root/sra/meta-experiment-0001.parquet")
    Seq(("SRR001", "SRX001", 1024L))
      .toDF("accession", "experiment_accession", "total_bases")
      .write.mode("overwrite").parquet(s"$root/sra/meta-run-0001.parquet")
    Seq(("SRS001", "sample one", 9606))
      .toDF("accession", "title", "taxon_id")
      .write.mode("overwrite").parquet(s"$root/sra/meta-sample-0001.parquet")
    // BioProject is the study's own column (DomainSchemas.sraStudy); the
    // mart selects it as study_bioproject
    Seq(("SRP001", "study one", "WGS", "abs", "PRJ1"))
      .toDF("accession", "title", "study_type", "abstract", "BioProject")
      .write.mode("overwrite").parquet(s"$root/sra/meta-study-0001.parquet")

    // GEO monthly NDJSON batches — sparse records on purpose: the pinned
    // DomainSchemas read must type every absent column (the drift trap)
    val geo = java.nio.file.Paths.get(root, "geo")
    gzLines(geo.resolve("gsm-0001.ndjson.gz"), Seq(
      """{"accession":"GSM1","title":"sample 1","channels":[{"source_name":"liver","organism":"Homo sapiens","characteristics":[{"tag":"tissue","value":"liver"}]}]}""",
      """{"accession":"GSM2","title":"sample 2"}"""))
    gzLines(geo.resolve("gse-0001.ndjson.gz"), Seq(
      """{"accession":"GSE1","title":"series 1","sample_id":["GSM1","GSM2"]}"""))
    gzLines(geo.resolve("gpl-0001.ndjson.gz"), Seq(
      """{"accession":"GPL1","title":"platform 1","technology":"in situ oligonucleotide"}"""))

    // NCBI biosample/bioproject and EBI biosample carry the FULL column
    // set their bronze models project (stg_ncbi_biosample et al.) — the
    // lint derives every model against this lake, so a thinner fixture
    // would read as schema drift
    Seq((false, "2005-05-01 09:00:00", "2005-05-28 10:00:00",
        "2005-05-02 09:30:00", "public", 1L, "SAMN01", "idr1", "ids1",
        "SRS001", "none", "GSM1", "biosample one", "a human sample",
        "Homo sapiens", 9606, "ar1", "tissue=liver", "Generic"))
      .toDF("is_reference", "submission_date", "last_update",
        "publication_date", "access", "id", "accession", "id_recs", "ids",
        "sra_sample", "dbgap", "gsm", "title", "description",
        "taxonomy_name", "taxon_id", "attribute_recs", "attributes", "model")
      .write.mode("overwrite").parquet(s"$root/biosample/biosample-0001.parquet")
    Seq(("project one", "a project", "PRJ-one", "PRJ1", "pub1", "loc1",
        "2005-05-28 10:00:00", "genome", "link1"))
      .toDF("title", "description", "name", "accession", "publications",
        "locus_tags", "release_date", "data_types", "external_links")
      .write.mode("overwrite").parquet(s"$root/biosample/bioproject-0001.parquet")
    // scalar columns only: the nested columns (characteristics, contact,
    // _links, …) are supplied as typed nulls by SchemaEnforcement.normalize
    // against the pinned DomainSchemas.ebiBiosample — exactly the all-null
    // month case the normalize contract exists for
    Seq(("SAMEA01", "ebi sample", "2005-05-28 10:00:00",
        "2005-05-27 10:00:00", "2005-05-26 10:00:00", 9606L))
      .toDF("accession", "name", "update", "release", "create", "taxId")
      .write.mode("overwrite").parquet(s"$root/ebi_biosample/samples-0001.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_demo")
    val spark = graft.core.GraftSession.local()
    write(spark, s"$base/lake")
    val cfg = EngineConfig(s"$base/lake", s"$base/warehouse", s"$base/exports",
      Map("start_ds" -> "2005-05-01", "end_ds" -> "2005-06-30"))
    val runner = new DagRunner(spark, cfg,
      OmicidxModels.catalog(OmicidxModels.lakeSources),
      Some(new MetaStore(spark, cfg.warehouseDir)))

    println("== plan ==")
    runner.plan().foreach(m => println(s"  ${m.layer}.${m.name}"))
    println("== run ==")
    runner.run().foreach(r =>
      println(f"  ${r.model}%-22s ${r.status}%-8s rows=${r.rows}%3d ${r.durationS}%.2fs ${r.error.getOrElse("")}"))
    println("== mart export ==")
    spark.read.parquet(s"$base/exports/marts/sra_metadata.parquet")
      .orderBy("accession").show(truncate = false)
    Exporter.writeCatalogJson(spark, s"$base/exports", "demo-1")
    println("== catalog.json ==")
    println(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/exports/catalog.json")))
    println("== meta.model_runs (history) ==")
    new MetaStore(spark, cfg.warehouseDir).history(10)
      .select("model", "status", "rows", "durationS").show()
    spark.stop()
  }
}
