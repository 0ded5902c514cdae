package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lake-file readers: the engine's S2/S5/S6 scan operators
  * (SURVEY.md §2.1). Parquet and NDJSON(.gz) globs (S1/S2) are read through
  * a [[LakeManifest]]: parquet globs merge drifted schemas by column name
  * (`union_by_name=true` → Spark's `mergeSchema` rule over per-file
  * footer schemas), NDJSON globs parse with a pinned schema (the reference
  * pins Arrow schemas, `omicidx_etl/sra/extract.py:53-229`).
  *
  * Semantics carried over from the reference here:
  *  - ORC globs merge drifted schemas by column name,
  *  - NDJSON quarantine of torn lines,
  *  - CSV with configurable delimiter + inference
  *    (`omicidx_etl/etl/scimago.py:21`).
  *
  * Every path may carry any Hadoop filesystem scheme (`file://`, `hdfs://`,
  * `s3a://`, …): the readers resolve through the Hadoop FileSystem API, so
  * remote lakes need only the scheme's connector jar + [[remoteFs]]
  * configs, not engine changes.
  */
object LakeReader {

  /** S5: configure an S3-compatible object store (AWS S3, Cloudflare R2,
    * MinIO) for `s3a://` reads — the engine-side surface of the
    * reference's remote https/r2 scans. Standard public `hadoop-aws`
    * (S3AFileSystem) settings; the connector jar ships with the deployment
    * (it is not bundled here). R2/MinIO: pass the account endpoint and
    * `pathStyle=true`. Credentials come from the default provider chain
    * (env/instance profile) unless given explicitly. */
  def remoteFs(spark: SparkSession, endpoint: Option[String] = None,
      accessKey: Option[String] = None, secretKey: Option[String] = None,
      pathStyle: Boolean = false): Unit = {
    val h = spark.sparkContext.hadoopConfiguration
    h.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
    endpoint.foreach(h.set("fs.s3a.endpoint", _))
    accessKey.foreach(h.set("fs.s3a.access.key", _))
    secretKey.foreach(h.set("fs.s3a.secret.key", _))
    if (pathStyle) h.set("fs.s3a.path.style.access", "true")
  }

  /** S5 (connector-free flavor): register [[S3MinimalFileSystem]] as the
    * `s3a://` implementation — S3-compatible endpoints with NO hadoop-aws
    * dependency. Pass `accessKey`/`secretKey` for credentialed buckets
    * (every request is then [[SigV4]]-signed; `region` defaults to
    * us-east-1 — R2 and MinIO accept any region string, AWS needs the
    * real one); omit them for anonymous-read endpoints. Same conf keys as
    * [[remoteFs]], so switching to the full S3AFileSystem when the
    * connector jar is deployed is a one-line `fs.s3a.impl` change. */
  def s3MinimalFs(spark: SparkSession, endpoint: String,
      accessKey: Option[String] = None, secretKey: Option[String] = None,
      region: Option[String] = None): Unit = {
    val h = spark.sparkContext.hadoopConfiguration
    h.set("fs.s3a.impl", classOf[S3MinimalFileSystem].getName)
    // per-FS-instance caching would pin the first endpoint forever
    h.set("fs.s3a.impl.disable.cache", "true")
    h.set("fs.s3a.endpoint", endpoint)
    h.set("fs.s3a.path.style.access", "true")
    accessKey.fold(h.unset("fs.s3a.access.key"))(h.set("fs.s3a.access.key", _))
    secretKey.fold(h.unset("fs.s3a.secret.key"))(h.set("fs.s3a.secret.key", _))
    region.fold(h.unset("fs.s3a.endpoint.region"))(
      h.set("fs.s3a.endpoint.region", _))
  }

  /** S5 (https flavor): register the Range-request-backed read-only
    * filesystems so `spark.read.parquet("https://…/file.parquet")` works
    * directly — the engine-side twin of the reference reading public
    * https parquet through DuckDB's httpfs. See [[HttpRangeFileSystem]];
    * no listing, so address files (not globs). */
  def httpFs(spark: SparkSession): Unit = {
    val h = spark.sparkContext.hadoopConfiguration
    h.set("fs.http.impl", classOf[HttpRangeFileSystem].getName)
    h.set("fs.https.impl", classOf[HttpsRangeFileSystem].getName)
  }

  /** ORC glob scan with by-name schema union — the same S1 semantics for
    * lakes (or lake generations) that standardized on ORC instead of
    * parquet. ORC is bundled with Spark; predicate pushdown and column
    * pruning work identically (stripe/row-group statistics). */
  def orcGlob(spark: SparkSession, glob: String): DataFrame =
    spark.read.option("mergeSchema", "true").orc(glob)

  /** NDJSON scan with corrupt-record QUARANTINE: rows that fail to parse
    * against the pinned schema surface as a `_corrupt` column carrying the
    * raw line instead of silently nulling out (a real 100 TB lake always
    * contains torn writes / truncated lines / schema strays).
    *
    * One frame, not two: Spark refuses to filter on the corrupt column
    * straight off the JSON relation (it would need a second parse), so the
    * scale-correct pattern is to land this frame once — e.g. partitioned
    * by `_corrupt IS NOT NULL` — and split AFTER materialization; an audit
    * on the quarantine partition gates the model (see SourcesSpec). */
  def ndjsonWithQuarantine(spark: SparkSession, glob: String,
      schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(glob)

  /** S6: delimited text scan with schema inference. */
  def csv(spark: SparkSession, path: String, delimiter: String = ";",
      header: Boolean = true): DataFrame =
    spark.read
      .option("delimiter", delimiter)
      .option("header", header.toString)
      .option("inferSchema", "true")
      .csv(path)
}

/** Write-side schema enforcement (SURVEY.md §1.3): the reference's
  * `normalize_record` guarantees — list fields are never null (always `[]`),
  * missing scalars/structs stay null, and the frame is cast/reordered to the
  * declared schema (`omicidx_etl/sra/extract.py:255-302`,
  * `SCHEMA_IMPROVEMENTS.md:9-22`) — as pure DataFrame transforms.
  */
object SchemaEnforcement {

  /** Replace null arrays with empty arrays, recursively over top-level
    * array columns. */
  def nullListsToEmpty(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case StructField(name, _: ArrayType, _, _) =>
        coalesce(col(name), array().cast(df.schema(name).dataType)).as(name)
      case StructField(name, _, _, _) => col(name)
    }
    df.select(cols.toSeq: _*)
  }

  /** Conform a frame to a target schema: add missing columns as typed
    * nulls, cast present ones, drop extras, order as declared — the
    * chunked-write invariant (`sra/extract.py:584-591`). */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    val cols: Seq[Column] = schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols: _*)
  }

  /** conform + null-list normalization in one pass. */
  def normalize(df: DataFrame, schema: StructType): DataFrame =
    nullListsToEmpty(conform(df, schema))
}
