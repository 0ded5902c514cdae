package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.export.Exporter
import graft.models.OmicidxModels

/** End-to-end demo of the warehouse engine through its public API:
  * fixture SRA lake → full model DAG → incremental bronze → mart export →
  * catalog.json. Usage: runMain graft.tools.WarehouseDemo /tmp/graft_demo
  */
object WarehouseDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_demo")
    val spark = graft.core.GraftSession.local(8)
    import spark.implicits._

    val accessions = Seq(
      ("SRX001", "live", "2005-05-28 10:00:00", "EXPERIMENT", "SAMN01", "PRJ1"),
      ("SRX002", "live", "2005-05-29 11:00:00", "EXPERIMENT", "SAMN02", "PRJ1"),
      ("SRX003", "live", "2005-06-15 09:00:00", "EXPERIMENT", "SAMN03", "PRJ2"),
      ("SRP001", "live", "2005-05-28 10:00:00", "STUDY", null, "PRJ1"))
      .toDF("Accession", "Status", "Updated", "Type", "BioSample", "BioProject")
      .selectExpr("Accession", "'SUB' AS Submission", "Status",
        "CAST(Updated AS TIMESTAMP) AS Updated", "Type", "BioSample", "BioProject")
    val experiments = Seq(
      ("SRX001", "exp one", "SRP001", "ILLUMINA"),
      ("SRX002", "exp two", "SRP001", "ILLUMINA"),
      ("SRX003", "exp three", "SRP001", "OXFORD_NANOPORE"))
      .toDF("accession", "title", "study_accession", "platform")
    // BioProject is the study's own column (DomainSchemas.sraStudy); the
    // mart selects it as study_bioproject
    val studies = Seq(("SRP001", "study one", "WGS", "abs", "PRJ1"))
      .toDF("accession", "title", "study_type", "abstract", "BioProject")

    val sources = Map(
      "src_sra_accessions" -> ((_: SparkSession, _: EngineConfig) => accessions),
      "src_sra_experiments" -> ((_: SparkSession, _: EngineConfig) => experiments),
      "src_sra_studies" -> ((_: SparkSession, _: EngineConfig) => studies))
    val models = OmicidxModels.catalog(sources).filter(m =>
      Seq("src_sra_accessions", "src_sra_experiments", "src_sra_studies",
        "stg_sra_experiments", "stg_sra_studies", "sra_metadata")
        .contains(m.name))

    val cfg = EngineConfig("/none", s"$base/warehouse", s"$base/exports",
      Map("start_ds" -> "2005-05-01", "end_ds" -> "2005-06-30"))
    val runner = new DagRunner(spark, cfg, models,
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
