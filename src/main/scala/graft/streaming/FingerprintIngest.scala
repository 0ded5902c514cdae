package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.MediaRecord
import graft.operators.{ConnectedComponents, HammingPairs}

/** STREAMING fingerprint-dedup ingest — [[DedupIngest]]'s pattern
  * generalized over the [[HammingPairs]] engine, so IMAGE and AUDIO
  * near-dup dedup ingest batch-by-batch exactly like text. Media files
  * land as parquet ([[MediaRecord]] schema); each micro-batch:
  *
  *  1. fingerprints the batch through the pluggable `hasher`
  *     (pHash for images, spectral fingerprints for audio — the decode
  *     cost is paid once per payload, ever);
  *  2. pairs the batch's hashes against the PERSISTED hash store
  *     ([[HammingPairs.pairsIncremental]] — the standing corpus is never
  *     re-decoded or re-hashed);
  *  3. folds the new pairs into the persisted cluster assignment
  *     ([[ConnectedComponents.incremental]] — cost ∝ batch);
  *  4. appends the batch's hashes to the store.
  *
  * Replay safety is inherited from the DedupIngest pattern verbatim:
  * the assignment overwrite goes through the atomic tmp+rename publish,
  * each batch's hashes land in a deterministic `batch=<id>` subdirectory
  * written with overwrite, and a replayed batch excludes its own subdir
  * from the store side. State = two parquet tables; per-batch work ∝
  * batch at any corpus size.
  */
object FingerprintIngest {

  /** Start an AvailableNow ingest over `inDir` (parquet [[MediaRecord]]
    * files), maintaining `storeDir` ((id, h) hash store) and `assignDir`
    * (media_id → cluster assignment). Defaults fingerprint IMAGES via
    * pHash; pass `hasher = Multimodal.audioFingerprints` with the audio
    * geometry for clips. */
  def start(spark: SparkSession, inDir: String, storeDir: String,
      assignDir: String, checkpointDir: String,
      hasher: Dataset[MediaRecord] => DataFrame = Multimodal.imagePHashes,
      totalBits: Int = Multimodal.PHashBits, bandBits: Int = 9,
      maxHamming: Int = 6, maxBucket: Long = 0L,
      maxFilesPerTrigger: Int = 1): StreamingQuery = {
    import spark.implicits._
    val schema = implicitly[org.apache.spark.sql.Encoder[MediaRecord]].schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingestBatch(batch.as[MediaRecord], batchId,
          storeDir, assignDir, hasher, totalBits, bandBits, maxHamming,
          maxBucket)
      }
      .start()
  }

  /** One ingest step (also callable from a batch scheduler). */
  def ingestBatch(batch: Dataset[MediaRecord], batchId: Long,
      storeDir: String, assignDir: String,
      hasher: Dataset[MediaRecord] => DataFrame, totalBits: Int,
      bandBits: Int, maxHamming: Int, maxBucket: Long): Unit = {
    HammingPairs.requireExact(totalBits, bandBits, maxHamming)
    // fingerprint ONCE (eager): pairing and the store publish both read
    // the same materialized hashes; normalized (id, h) store row format
    val batchHashes = hasher(batch).toDF("id", "h")
      .localCheckpoint(eager = true)
    IngestState.foldAndPublish(batchHashes, batchHashes.select(col("id")),
        batchId, storeDir, assignDir) { store =>
      HammingPairs.pairsIncremental(store, batchHashes,
        "id", "h", totalBits, bandBits, maxHamming, maxBucket)
        .select(col("id_a"), col("id_b"))
    }
  }

}
