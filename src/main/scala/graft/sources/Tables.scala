package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}

/** Test-lake table loader (TPC-H-ish star schema + documents/embeddings/events,
  * see /root/repo/TESTDATA.md). One parquet file per table.
  *
  * Maps the reference's raw-view pattern — one view per file glob
  * (`/root/reference/sqlmesh/models/raw/src_sra_experiments.sql:36`) — onto
  * `spark.read.parquet`. Schema-drift unioning (`union_by_name=true` in the
  * reference) is available via [[LakeManifest]].
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Footer schema per table path, inferred ONCE per JVM. Schema inference
    * on a schemaless `spark.read.parquet` dispatches a 1-task Spark job per
    * call; the suite re-reads each table hundreds of times per session, and
    * the test lake is read-only — so infer once, then hand Spark the schema
    * explicitly (no job, no footer re-read). Also what keeps lazified
    * builders at ZERO build-time jobs (JobCountSpec). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      // Some lake generations write events.ts as TIMESTAMP(NANOS) parquet,
      // which Spark's vectorized reader rejects. Read nanos as long and
      // truncate to micros below — the same truncation DuckDB applies (its
      // timestamps are µs precision). The conf set is idempotent (always
      // the same constant), so concurrent builders racing here are benign;
      // it can't be a read option because nanosAsLong is only honored
      // session-wide (legacy conf). Must be set BEFORE the first (cached)
      // schema inference of this table. Micros-precision lakes are
      // unaffected (the conf only changes how NANOS columns surface).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val schema = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    // Normalize events.ts to TimestampType regardless of how the lake
    // generation stored it, so every downstream query sees one type:
    //  - TIMESTAMP(NANOS)  → surfaces as long (conf above): truncate to µs;
    //  - timestamp[us] isAdjustedToUTC=false → TIMESTAMP_NTZ: reinterpret
    //    as UTC instant (sessions here pin spark.sql.session.timeZone=UTC,
    //    so the cast is wall-clock-preserving — identical to what DuckDB
    //    reads from the same footer).
    if (name == "events") schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => df
      case other =>
        // Fail fast at the loader on schema drift: a lake generation storing
        // ts as e.g. millis-since-epoch long-in-string would otherwise flow
        // downstream untyped and fail far from the cause.
        throw new IllegalStateException(
          s"Tables: unsupported physical type for events.ts at $path: $other " +
            "(expected TIMESTAMP, TIMESTAMP_NTZ, or NANOS-as-long)")
    } else df
  }
}
