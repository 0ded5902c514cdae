package graft.models

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.unsafe.types.UTF8String
import graft.core._
import graft.operators.DriverTier
import graft.queries.ArtifactCache
import graft.sources.{LakeManifest, SchemaEnforcement}

/** The reference's warehouse catalog — 11 raw views, 11 bronze incremental
  * models, 6 geometadb compatibility views, 1 mart — re-expressed for Spark.
  *
  * Raw sources are INJECTABLE: production binds them to lake globs
  * ([[lakeSources]]); fixture tests bind them to in-memory frames (the
  * reference's YAML-fixture pattern, `/root/reference/sqlmesh/tests/`).
  * Downstream models are Spark SQL over the registered views, with the
  * `@start_ds`/`@end_ds` macros rendered by [[graft.core.Model.render]].
  *
  * Semantics carried over (cites into /root/reference):
  *  - bronze models: inclusive BETWEEN on the time column, incremental by
  *    time range (the sqlmesh bronze model files);
  *  - SRA staging joins the detail entity to the accession spine and
  *    filters by Type (`stg_sra_experiments.sql:12-24`) — the large⋈large
  *    equi-join; at scale both sides shuffle on accession, AQE handles skew;
  *  - geometadb: 1-based `channels[1]` → `element_at(..., 1)`
  *    (`gsm.sql:16-31`), junction tables = explode + DISTINCT
  *    (`gse_gsm.sql:8-11`), supplemental files = two exploded branches
  *    unioned then filtered (`geo_supplemental_files.sql:8-29`).
  */
object OmicidxModels {

  /** SRA entity types staged from the accession spine. */
  private val sraEntities = Seq(
    ("experiments", "EXPERIMENT"), ("runs", "RUN"),
    ("samples", "SAMPLE"), ("studies", "STUDY"))

  /** Production raw-source bindings: parquet/NDJSON globs under dataRoot
    * (`src_sra_experiments.sql:36`, `src_geo_samples.sql:36`), each read
    * through its [[LakeManifest]] under
    * `<warehouseDir>/meta/lake_manifest/<source>/`.
    *
    * Every entity with a pinned [[DomainSchemas]] schema is read AGAINST
    * it: NDJSON reads parse with the declared StructType (an all-null
    * month can't drift a column to string), parquet reads are conformed
    * post-scan (missing columns become typed nulls, drifted types cast
    * back, null lists normalize to []) — the reference's Arrow-schema
    * guarantee (`sra/extract.py:584-591`). A parquet scan's own schema is
    * the manifest's per-file footer schemas merged by Spark's merge rule:
    * what `mergeSchema` inference finds, with no inference job. NCBI
    * biosample/bioproject have no pinned schema in the reference snapshot
    * and keep that by-name union as their view's schema.
    *
    * Each view reads only the files that can hold a row of the
    * `[start_ds, end_ds]` window:
    *  - a timed source, the files whose `CAST(<col> AS DATE)` range — the
    *    bronze model's own window expression — meets the window;
    *  - an SRA detail source, the files whose `accession` range holds an
    *    accession of the window's spine rows of its `Type`, collected once
    *    per window and lake ([[windowAccessions]]).
    * A file with no usable range is always read. */
  def lakeSources: Map[String, (SparkSession, EngineConfig) => DataFrame] = {
    def manifest(s: SparkSession, c: EngineConfig, name: String, rel: String,
        prune: LakeManifest.Prune) = {
      val pinned = DomainSchemas.byRawSource.get(name)
      val format =
        if (rel.endsWith(".ndjson.gz")) LakeManifest.Json(pinned.get)
        else LakeManifest.Parquet(pinned)
      LakeManifest(s, s"${c.dataRoot}/$rel",
        s"${c.warehouseDir}/meta/lake_manifest/$name", format, prune)
    }
    def view(m: LakeManifest, chosen: Seq[LakeManifest.Entry]) = {
      val df = m.read(chosen)
      m.format match {
        case LakeManifest.Parquet(Some(pin)) => SchemaEnforcement.normalize(df, pin)
        case _ => df
      }
    }
    val timed = (name: String, rel: String, column: String) =>
      name -> ((s: SparkSession, c: EngineConfig) => {
        val m = manifest(s, c, name, rel, LakeManifest.DateOf(column))
        view(m, m.meeting(c.startDs, c.endDs))
      })
    val spine = timed("src_sra_accessions", SpineGlob, "Updated")
    val detail = (name: String, rel: String, typ: String) =>
      name -> ((s: SparkSession, c: EngineConfig) => {
        val m = manifest(s, c, name, rel, LakeManifest.ValueOf("accession"))
        view(m, windowAccessions(s, c, spine._2)
          .fold(m.entries)(byType => m.holding(byType.getOrElse(typ, Vector.empty))))
      })
    Map(
      spine,
      detail("src_sra_experiments", "sra/*experiment*.parquet", "EXPERIMENT"),
      detail("src_sra_runs", "sra/*run*.parquet", "RUN"),
      detail("src_sra_samples", "sra/*sample*.parquet", "SAMPLE"),
      detail("src_sra_studies", "sra/*study*.parquet", "STUDY"),
      timed("src_geo_samples", "geo/gsm*.ndjson.gz", "last_update_date"),
      timed("src_geo_series", "geo/gse*.ndjson.gz", "last_update_date"),
      timed("src_geo_platforms", "geo/gpl*.ndjson.gz", "last_update_date"),
      timed("src_ncbi_biosample", "biosample/biosample*.parquet", "last_update"),
      timed("src_ncbi_bioproject", "biosample/bioproject*.parquet", "release_date"),
      timed("src_ebi_biosample", "ebi_biosample/*.parquet", "update"))
  }

  private val SpineGlob = "sra/sra_accessions.parquet"

  private val WindowAccessions =
    new ArtifactCache.Kind[Option[Map[String, IndexedSeq[UTF8String]]]](
      "window spine accessions")

  /** The accessions of the spine rows in the window, by `Type`, each list
    * sorted in Spark's string order: the join keys the SRA staging models
    * can keep. Built once per (lake listing, window) and shared by the four
    * detail views; building a window's entry drops the warehouse's entries
    * for other windows, which no later view reads. None past
    * [[DriverTier.SpineAccessionsMax]], where every detail file is read. */
  private def windowAccessions(s: SparkSession, c: EngineConfig,
      spine: (SparkSession, EngineConfig) => DataFrame)
      : Option[Map[String, IndexedSeq[UTF8String]]] = {
    val files = LakeManifest.listing(s, s"${c.dataRoot}/$SpineGlob").map(f =>
      (f.getPath.toString, f.getLen, f.getModificationTime))
    val window = Seq(c.dataRoot, c.startDs, c.endDs, files)
    ArtifactCache(s, c.warehouseDir, WindowAccessions, window: _*) {
      ArtifactCache.retainOnly(s, c.warehouseDir, WindowAccessions, window: _*)
      val rows = spine(s, c)
        .where(expr(s"""CAST(Updated AS DATE)
          BETWEEN DATE '${c.startDs}' AND DATE '${c.endDs}'"""))
        .where(col("Type").isin(sraEntities.map(_._2): _*) &&
          col("Accession").isNotNull)
        .select("Type", "Accession")
        .limit(DriverTier.probeLimit(DriverTier.SpineAccessionsMax)).collect()
      if (rows.length > DriverTier.SpineAccessionsMax) None
      else Some(rows.groupBy(_.getString(0)).map { case (t, rs) =>
        t -> rs.map(r => UTF8String.fromString(r.getString(1))).sorted.toIndexedSeq
      })
    }
  }

  /** Full catalog, with raw sources bound to the given builders. */
  def catalog(
      sources: Map[String, (SparkSession, EngineConfig) => DataFrame])
      : Seq[Model] = {

    // NCBI biosample/bioproject deliberately keep by-name union (no pinned
    // schema in the reference snapshot) — waived from the star-expansion
    // lint instead of silently passing it.
    val unpinned = Set("src_ncbi_biosample", "src_ncbi_bioproject")
    // the SRA detail views are pruned by the window's spine accessions
    // (lakeSources), so they are derived after the spine view
    val spine = "src_sra_accessions"
    val raw = sources.map { case (name, fn) =>
      Model(name, layer = "raw", build = Some(fn),
        dependsOn = if (sources.contains(spine) &&
          sraEntities.exists(e => name == s"src_sra_${e._1}")) Seq(spine) else Nil,
        description = s"raw view over lake files: $name",
        pinnedSchema = DomainSchemas.byRawSource.get(name),
        lintWaivers =
          if (unpinned(name)) Set(graft.core.Lint.InvalidSelectStarExpansion)
          else Set.empty)
    }.toSeq

    // ---- bronze: SRA detail ⋈ accession spine, incremental ----
    // The spine columns added per entity MIRROR the reference exactly
    // (`bronze/stg_sra_experiments.sql:13-19`, `stg_sra_runs.sql:13-21`,
    // `stg_sra_samples.sql:13-20`, `stg_sra_studies.sql:13-17`): samples
    // must NOT re-alias BioSample and studies must NOT re-alias BioProject,
    // because the pinned detail schemas (DomainSchemas.sraSample/.sraStudy)
    // already carry those columns — a duplicate alias is ambiguous under
    // case-insensitive resolution the moment anything downstream selects it
    // (the sra_metadata `s.bioproject` reference; caught by Lint since it
    // started deriving the catalog topologically).
    val spineCols = Map(
      "experiments" -> Seq("a.BioSample AS biosample",
        "a.BioProject AS bioproject"),
      "runs" -> Seq("a.Experiment AS experiment_ref",
        "a.Sample AS sample_ref", "a.Study AS study_ref",
        "a.BioSample AS biosample", "a.BioProject AS bioproject"),
      "samples" -> Seq("a.Experiment AS experiment_ref",
        "a.Study AS study_ref", "a.BioProject AS bioproject"),
      "studies" -> Seq.empty[String])
    val sraStaging = sraEntities.map { case (ent, typ) =>
      val extra = spineCols(ent).map(c => s", $c").mkString
      Model(s"stg_sra_$ent", layer = "bronze",
        dependsOn = Seq(s"src_sra_$ent", "src_sra_accessions"),
        materialization = Materialization.IncrementalByTimeRange("updated_date"),
        grain = Seq("accession"),
        sql = Some(
          s"""SELECT e.*, CAST(a.Updated AS DATE) AS updated_date,
              a.Updated AS updated_timestamp, a.Status AS status$extra
              FROM src_sra_$ent e
              INNER JOIN src_sra_accessions a ON e.accession = a.Accession
              WHERE a.Type = '$typ'
                AND CAST(a.Updated AS DATE)
                    BETWEEN DATE '@start_ds' AND DATE '@end_ds'"""))
    }

    val stgSraAccessions = Model("stg_sra_accessions", layer = "bronze",
      dependsOn = Seq("src_sra_accessions"),
      materialization = Materialization.IncrementalByTimeRange("updated_date"),
      grain = Seq("accession"),
      sql = Some(
        """SELECT Accession AS accession, Submission AS submission,
           Status AS status, CAST(Updated AS DATE) AS updated_date,
           Updated AS updated_timestamp, Published AS published,
           Received AS received, Type AS type, Center AS center,
           Visibility AS visibility, Alias AS alias, Experiment AS experiment,
           Sample AS sample, Study AS study, Loaded AS loaded, Spots AS spots,
           Bases AS bases, Md5sum AS md5sum, BioSample AS biosample,
           BioProject AS bioproject, ReplacedBy AS replaced_by
           FROM src_sra_accessions
           WHERE CAST(Updated AS DATE)
                 BETWEEN DATE '@start_ds' AND DATE '@end_ds'"""))

    val geoStaging = Seq("samples", "series", "platforms").map { ent =>
      Model(s"stg_geo_$ent", layer = "bronze",
        dependsOn = Seq(s"src_geo_$ent"),
        materialization =
          Materialization.IncrementalByTimeRange("last_update_date"),
        grain = Seq("accession"),
        sql = Some(
          s"""SELECT * FROM src_geo_$ent
              WHERE last_update_date
                    BETWEEN DATE '@start_ds' AND DATE '@end_ds'"""))
    }

    val stgNcbiBiosample = Model("stg_ncbi_biosample", layer = "bronze",
      dependsOn = Seq("src_ncbi_biosample"),
      materialization =
        Materialization.IncrementalByTimeRange("last_update_date"),
      grain = Seq("accession"),
      sql = Some(
        """SELECT is_reference,
           CAST(submission_date AS TIMESTAMP) AS submission_timestamp,
           CAST(last_update AS TIMESTAMP) AS last_update_timestamp,
           CAST(last_update AS DATE) AS last_update_date,
           CAST(publication_date AS TIMESTAMP) AS publication_timestamp,
           access, id, accession, id_recs, ids, sra_sample, dbgap, gsm,
           title, description, taxonomy_name, taxon_id, attribute_recs,
           attributes, model
           FROM src_ncbi_biosample
           WHERE CAST(last_update AS DATE)
                 BETWEEN DATE '@start_ds' AND DATE '@end_ds'"""))

    val stgNcbiBioproject = Model("stg_ncbi_bioproject", layer = "bronze",
      dependsOn = Seq("src_ncbi_bioproject"),
      materialization =
        Materialization.IncrementalByTimeRange("release_date_only"),
      grain = Seq("accession"),
      sql = Some(
        """SELECT title, description, name, accession, publications,
           locus_tags, CAST(release_date AS TIMESTAMP) AS release_timestamp,
           CAST(release_date AS DATE) AS release_date_only, data_types,
           external_links
           FROM src_ncbi_bioproject
           WHERE CAST(release_date AS DATE)
                 BETWEEN DATE '@start_ds' AND DATE '@end_ds'"""))

    val stgEbiBiosample = Model("stg_ebi_biosample", layer = "bronze",
      dependsOn = Seq("src_ebi_biosample"),
      materialization = Materialization.IncrementalByTimeRange("update_date"),
      grain = Seq("accession"),
      sql = Some(
        """SELECT accession, name,
           CAST(`update` AS TIMESTAMP) AS update_timestamp,
           CAST(`update` AS DATE) AS update_date,
           CAST(release AS TIMESTAMP) AS release_timestamp,
           CAST(`create` AS TIMESTAMP) AS create_timestamp,
           taxId, characteristics, organization, contact, publications,
           externalReferences, _links
           FROM src_ebi_biosample
           WHERE CAST(`update` AS DATE)
                 BETWEEN DATE '@start_ds' AND DATE '@end_ds'"""))

    // ---- geometadb compatibility views ----
    // try_element_at: 1-based like DuckDB's channels[i], and NULL (not an
    // ANSI error) when the channel is absent
    def channelField(i: Int, f: String) =
      s"try_element_at(channels, $i).$f AS ${f}_ch$i"
    val chFields = Seq("source_name", "organism", "characteristics",
      "molecule", "label", "treatment_protocol", "extract_protocol",
      "label_protocol")

    val gsm = Model("gsm", layer = "geometadb",
      dependsOn = Seq("stg_geo_samples"),
      sql = Some(
        s"""SELECT title, accession AS gsm, platform_id AS gpl, status,
            submission_date, last_update_date, type,
            ${(1 to 2).flatMap(i => chFields.map(channelField(i, _))).mkString(",\n            ")},
            channels AS channel_records, hyb_protocol, description,
            data_processing,
            contact.name.first || ' ' || contact.name.last AS contact,
            supplemental_files AS supplementary_file,
            data_row_count, channel_count
            FROM stg_geo_samples"""))

    val gse = Model("gse", layer = "geometadb",
      dependsOn = Seq("stg_geo_series"),
      sql = Some(
        """SELECT accession AS gse, title, status, submission_date,
           last_update_date, summary, pubmed_id, type, contributor,
           'https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=' || accession
             AS web_link,
           overall_design, contact.country AS contact_country,
           contact.email AS contact_email,
           contact.name.first AS contact_first_name,
           contact.institute AS contact_institute,
           contact.name.last AS contact_last_name,
           contact.name.first || ' ' || contact.name.last AS contact,
           supplemental_files AS supplementary_file, data_processing
           FROM stg_geo_series"""))

    val gpl = Model("gpl", layer = "geometadb",
      dependsOn = Seq("stg_geo_platforms"),
      sql = Some(
        """SELECT title, accession AS gpl, status, submission_date,
           last_update_date, technology, distribution, organism,
           manufacturer, manufacture_protocol, description,
           'https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=' || accession
             AS web_link,
           contact.name.first || ' ' || contact.name.last AS contact,
           data_row_count, summary
           FROM stg_geo_platforms"""))

    val gseGsm = Model("gse_gsm", layer = "geometadb",
      dependsOn = Seq("stg_geo_series"),
      sql = Some(
        """SELECT DISTINCT accession AS gse, explode(sample_id) AS gsm
           FROM stg_geo_series"""))

    val gseGpl = Model("gse_gpl", layer = "geometadb",
      dependsOn = Seq("stg_geo_platforms"),
      sql = Some(
        """SELECT DISTINCT accession AS gpl, explode(series_id) AS gse
           FROM stg_geo_platforms"""))

    val suppFiles = Model("geo_supplemental_files", layer = "geometadb",
      dependsOn = Seq("stg_geo_series", "stg_geo_samples"),
      sql = Some(
        """WITH supp_file AS (
             SELECT accession, 'gse' AS accession_type,
                    explode(supplemental_files) AS supplemental_file
             FROM stg_geo_series
             UNION ALL
             SELECT accession, 'gsm' AS accession_type,
                    explode(supplemental_files) AS supplemental_file
             FROM stg_geo_samples)
           SELECT accession, accession_type, supplemental_file,
                  regexp_extract(supplemental_file, '[^/]+$', 0) AS filename
           FROM supp_file
           WHERE supplemental_file != 'NONE'"""))

    // ---- mart: denormalized experiment+study metadata (the 49.4M-row
    // export, EXPORT_DEPLOYMENT.md:244-253; SQL re-derived — the mart model
    // file is absent from the snapshot, SURVEY.md §0) ----
    val sraMetadata = Model("sra_metadata", layer = "mart",
      dependsOn = Seq("stg_sra_experiments", "stg_sra_studies"),
      materialization = Materialization.Table,
      export = Some(ExportSpec("marts/sra_metadata.parquet")),
      audits = Seq(Audit("accession_not_null",
        "SELECT * FROM sra_metadata WHERE accession IS NULL")),
      sql = Some(
        """SELECT e.*, s.title AS study_title, s.study_type,
           s.abstract AS study_abstract, s.bioproject AS study_bioproject
           FROM stg_sra_experiments e
           LEFT JOIN stg_sra_studies s ON e.study_accession = s.accession"""))

    raw ++ sraStaging ++ Seq(stgSraAccessions) ++ geoStaging ++
      Seq(stgNcbiBiosample, stgNcbiBioproject, stgEbiBiosample,
        gsm, gse, gpl, gseGsm, gseGpl, suppFiles, sraMetadata)
  }
}
