package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.ConnectedComponents
import graft.queries.DedupOps

/** STREAMING dedup ingest — the round-6 incremental pieces composed under
  * Structured Streaming's execution model. Documents land as files; each
  * micro-batch:
  *
  *  1. pairs the batch against the PERSISTED signature store
  *     ([[DedupOps.lshPairsIncrementalAgainst]] — the standing corpus is
  *     never re-tokenized);
  *  2. folds the new pairs into the persisted cluster assignment
  *     ([[ConnectedComponents.incremental]] — old clusters enter as star
  *     edges, cost ∝ batch);
  *  3. appends the batch's signatures to the store.
  *
  * State lives entirely in two parquet tables (store + assignment), and
  * both updates are REPLAY-SAFE under foreachBatch's at-least-once
  * contract: the assignment overwrite goes through the atomic tmp+rename
  * publish ([[graft.export.Exporter.atomically]] — the old assignment
  * survives a crash mid-write), and each micro-batch's signatures land in
  * a DETERMINISTIC `batch=<id>` subdirectory written with overwrite, so a
  * replayed batch replaces its own rows instead of appending duplicates.
  * Re-folding a replayed batch's pairs into an already-updated assignment
  * is a no-op (hash-min components are stable under re-application of
  * merged edges). Per-batch work is proportional to the batch at any
  * corpus size. Equivalence to a full batch recompute is proved in
  * ScrubSpec (multi-batch store test) and end-to-end under streaming in
  * EngineSpec.
  */
object DedupIngest {

  /** Start an AvailableNow ingest over `inDir` (parquet doc files with
    * `schema`), maintaining `storeDir` (signature store) and `assignDir`
    * (doc_id → cluster assignment). `maxFilesPerTrigger` bounds batch size
    * (1 = one file per micro-batch — deterministic batching for tests). */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      storeDir: String, assignDir: String, checkpointDir: String,
      numHashes: Int = 64, bandRows: Int = 8, maxBucket: Long = 0L,
      minJaccard: Double = 0.5, maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingestBatch(batch, batchId, storeDir, assignDir,
          numHashes, bandRows, maxBucket, minJaccard)
      }
      .start()
  }

  /** One ingest step (also callable from a batch scheduler): pair `batch`
    * against the current store, fold into the current assignment, publish
    * the batch's signatures under its deterministic `batch=<id>` subdir. */
  def ingestBatch(batch: DataFrame, batchId: Long, storeDir: String,
      assignDir: String, numHashes: Int, bandRows: Int, maxBucket: Long,
      minJaccard: Double): Unit = {
    val batchDocs = batch.select(col("doc_id"), col("text"))
    // computed ONCE (eager checkpoint): pairing and the store publish both
    // read the same materialized signatures
    val batchSigs = DedupOps.signaturesOf(batchDocs, numHashes)
      .localCheckpoint(eager = true)
    IngestState.foldAndPublish(batchSigs, batchDocs.select(col("doc_id")),
        batchId, storeDir, assignDir) { store =>
      DedupOps.lshPairsFromSigs(store, batchSigs,
        numHashes, bandRows, maxBucket, minJaccard)
        .select(col("doc_a"), col("doc_b"))
    }
  }

}
