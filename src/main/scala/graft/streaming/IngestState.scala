package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.ConnectedComponents

/** Persisted-state helpers shared by the micro-batch dedup ingests
  * ([[DedupIngest]] for text signatures, [[FingerprintIngest]] for media
  * fingerprints) — ONE copy of the replay-safety-critical store layout
  * logic: per-batch `batch=<id>` subdirectories written with overwrite,
  * table-or-empty bootstrap reads, and the fold-and-publish step. */
private[streaming] object IngestState {

  /** One replay-safe ingest step after the batch's store rows exist:
    * `pairs(store)` pairs the batch against the PRIOR store — every
    * `batch=` subdir but this batch's own, so a replayed batch pairs
    * against the same store state as the original run; on bootstrap the
    * empty store, so the batch pairs against itself. The (a, b) pairs fold
    * into the persisted assignment ([[ConnectedComponents.incremental]],
    * vertices = the old assignment's ids ∪ `ids`, the batch's one-column
    * vertex ids), which is published through the atomic tmp+rename, then
    * `storeRows` (materialized by the caller) overwrite `batch=<id>`. */
  def foldAndPublish(storeRows: DataFrame, ids: DataFrame, batchId: Long,
      storeDir: String, assignDir: String)(
      pairs: DataFrame => DataFrame): Unit = {
    val spark = storeRows.sparkSession
    val priorDirs = listBatchDirs(spark, storeDir)
      .filterNot(_.endsWith(s"batch=$batchId"))
    val store =
      if (priorDirs.isEmpty) storeRows.limit(0)
      else spark.read.parquet(priorDirs: _*)
    val id = ids.columns.head
    val oldAssign = tableOr(spark, assignDir,
      ids.select(col(id).as("id"), col(id).as("component")).limit(0))
    val vertices = oldAssign.select(col("id")).union(ids).distinct()
    // materialize BEFORE touching the table it reads from
    val newAssign = ConnectedComponents.incremental(
        oldAssign, pairs(store), vertices)
      .localCheckpoint(eager = true)
    // atomic publish: write beside, rename into place — a crash mid-write
    // leaves the previous assignment intact
    graft.export.Exporter.atomically(spark, assignDir, marker = false) { tmp =>
      newAssign.write.mode("overwrite").parquet(tmp)
    }
    // idempotent store publish: deterministic per-batch subdir + overwrite
    storeRows.write.mode("overwrite").parquet(s"$storeDir/batch=$batchId")
  }

  /** Read `dir` as parquet if it exists, else the (lazy) empty frame. */
  def tableOr(spark: SparkSession, dir: String, empty: => DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(dir) else empty
  }

  /** All `batch=<id>` subdirectories of a per-batch store. A replaying
    * micro-batch filters out its OWN subdir so it pairs against the same
    * store state as the original run. */
  def listBatchDirs(spark: SparkSession, storeDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.toString).filter(_.contains("batch=")).toSeq
  }
}
