package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CurationOps, DedupOps, IndexOps, MediaOps, Relational, ScaleOps, SimilarityOps, SketchOps, TemporalOps, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-domain query suites; every entry in [[queries]] that is
  * SQL-expressible has a DuckDB oracle in [[oracleSql]] with identical output
  * column names (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q05_mart_denorm")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ TextOps.queries ++ DedupOps.queries ++
      SimilarityOps.queries ++ TemporalOps.queries ++ CurationOps.queries ++
      ScaleOps.queries ++ MediaOps.queries ++ SketchOps.queries ++ IndexOps.queries

  /** Lifecycle and store gates that no bench times (Bench and
    * tools/Probe here; `tools/duck_bench.py` skips the same names plus
    * q40). Each one runs an ingest lifecycle (streaming micro-batches
    * with checkpoint and state writes, ~7 s a run for q86 at sf0.1,
    * dispatch- and IO-floor-bound; q150 and q156 add a drift-triggered
    * retrain and re-encode epoch) or builds, writes and re-reads a
    * partitioned temp-dir store every pass (q125, q137, q141, q152, q153,
    * and q158/q165 serving from q141's store), while its oracle is a
    * one-shot SELECT, so timing it measures neither engine's query
    * execution. Verify still gates every one of them each round, and
    * ScaleStress measures the store curves at scale. q89 stays timed: it
    * is a plain query plan over the lake. */
  val untimed: Set[String] = Set(
    "q86_ingest_endstate", "q90_image_ingest_endstate",
    "q91_audio_ingest_endstate", "q92_video_ingest_endstate",
    "q95_stream_sessionize_endstate", "q96_stream_window_endstate",
    "q98_stream_join_endstate", "q100_stream_dedup_endstate",
    "q104_stream_timer_sessionize_endstate", "q121_index_ingest_endstate",
    "q125_bm25_sharded_store", "q137_ann_sharded_store",
    "q141_graph_sharded_store", "q144_vector_store_ingest_endstate",
    "q150_drift_retrain_endstate", "q152_ann_sq8_store",
    "q153_ann_filtered_store", "q156_tokenizer_retrain_endstate",
    "q158_graph_batch_serve", "q165_graph_entry_serve")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ TextOps.oracle ++ DedupOps.oracle ++
      SimilarityOps.oracle ++ TemporalOps.oracle ++ CurationOps.oracle ++
      ScaleOps.oracle ++ MediaOps.oracle ++ SketchOps.oracle ++ IndexOps.oracle
}
