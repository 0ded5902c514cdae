package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine configuration (≈ the reference's `warehouse.yml` +
  * `sqlmesh/config.yaml` gateway: data root, warehouse/export dirs, render
  * variables like the incremental window bounds
  * (`/root/reference/WAREHOUSE.md:283-292`,
  * `/root/reference/sqlmesh/config.yaml:40-55`).
  */
final case class EngineConfig(
    dataRoot: String,
    warehouseDir: String,
    exportDir: String,
    vars: Map[String, String] = Map.empty) {
  def startDs: String = vars.getOrElse("start_ds", "2001-01-01")
  def endDs: String = vars.getOrElse("end_ds", "9999-12-31")
}

/** How a model materializes (`EXPORT_DEPLOYMENT.md:210-236`). */
sealed trait Materialization
object Materialization {
  /** Logical only: registered as a temp view, inlined into consumers. */
  case object View extends Materialization
  /** Physical parquet table under `warehouseDir`, re-registered as a view.
    * With an [[ExportSpec]] the table is written once, in the export's
    * layout, and the export is a file copy of it. */
  case object Table extends Materialization
  /** Physical, partitioned by a date column, refreshed per interval with
    * dynamic partition overwrite (INCREMENTAL_BY_TIME_RANGE,
    * `stg_geo_samples.sql:3-10`). */
  final case class IncrementalByTimeRange(timeColumn: String,
      start: String = "2001-01-01") extends Materialization
}

/** Parquet export request attached to a [[Materialization.Table]] model
  * (`EXPORT_DEPLOYMENT.md:224-236`): codec + optional hive partitioning +
  * file/row-group sizing. The model's table is written once, with these
  * settings, by [[graft.export.Exporter.parquet]]; once its audits pass, the
  * export at `relPath` under the export dir is a copy of the table's files
  * ([[graft.export.Exporter.publishCopy]]), never a second write. */
final case class ExportSpec(
    relPath: String,
    compression: String = "zstd",
    partitionBy: Seq[String] = Nil,
    maxRecordsPerFile: Long = 1000000L,
    // ROW_GROUP_SIZE 100000 (`EXPORT_DEPLOYMENT.md:46`): row-group
    // granularity is what remote range readers prune on
    rowGroupRows: Long = 100000L)

/** A warehouse model: name + layer + derivation + dependencies + audits
  * (≈ one sqlmesh model file / one `models/<layer>/<name>.sql` +
  * `schema.yml` entry, `WAREHOUSE.md:154-206`).
  *
  * The derivation is either `sql` (run through `spark.sql` after deps are
  * registered as temp views — the reference's SQL-first surface) or a
  * DataFrame `build` function (the typed surface). Exactly one must be set.
  */
final case class Model(
    name: String,
    layer: String,
    dependsOn: Seq[String] = Nil,
    materialization: Materialization = Materialization.View,
    sql: Option[String] = None,
    build: Option[(SparkSession, EngineConfig) => DataFrame] = None,
    export: Option[ExportSpec] = None,
    audits: Seq[Audit] = Nil,
    grain: Seq[String] = Nil,
    description: String = "",
    /** Declared output contract: when set, lint verifies the derived frame's
      * schema EQUALS it (names + types, in order) — the reference's pinned
      * Arrow schema (`sra/extract.py:53-229`) as a checkable Model field. */
    pinnedSchema: Option[org.apache.spark.sql.types.StructType] = None,
    /** Lint rules intentionally ignored for this model, by rule name — the
      * sqlmesh per-model lint ignore list (`sqlmesh/config.yaml:61-66`). */
    lintWaivers: Set[String] = Set.empty) {
  require(sql.isDefined != build.isDefined,
    s"model $name: exactly one of sql/build must be set")
  require(export.isEmpty || materialization == Materialization.Table,
    s"model $name: only a Table model exports (the export copies its table)")
  def qualified: String = s"${layer}_$name"

  def derive(spark: SparkSession, cfg: EngineConfig): DataFrame =
    build.map(_(spark, cfg)).getOrElse {
      val rendered = Model.render(sql.get, cfg)
      spark.sql(rendered)
    }
}

object Model {
  /** `@var` macro substitution, the sqlmesh render step
    * (`src_ebi_biosample.sql:3-6`): `@data_root`, `@start_ds`, `@end_ds`,
    * plus any user vars. */
  def render(sql: String, cfg: EngineConfig): String = {
    val all = Map(
      "data_root" -> cfg.dataRoot,
      "start_ds" -> cfg.startDs,
      "end_ds" -> cfg.endDs) ++ cfg.vars
    all.foldLeft(sql) { case (s, (k, v)) => s.replace(s"@$k", v) }
  }
}

/** Post-materialization invariant: a query over the built model that must
  * return ZERO rows (`sqlmesh/audits/assert_positive_order_ids.sql:1-8`). */
final case class Audit(name: String, violationSql: String)
