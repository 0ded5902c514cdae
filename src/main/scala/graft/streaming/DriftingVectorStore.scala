package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.SimilarityOps

/** One micro-batch's lifecycle outcome: the drift ratio it scored against
  * the artifacts current at arrival, whether it triggered a retrain, and
  * the store epoch it landed in. */
final case class DriftIngestReport(batchId: Long, driftRatio: Double,
    retrained: Boolean, epoch: Int)

/** The PUBLISHED serving state of [[DriftingVectorStore]]: the epoch and
  * the exact artifacts that encoded it, swapped in ONE volatile write
  * only after the new epoch's store (re-encode AND the triggering batch)
  * is fully on disk — the `.done`-marker semantics. A concurrent
  * frontend reading through `serveSnapshot` therefore always sees a
  * complete epoch with matching artifacts: the old epoch keeps answering
  * until the swap (VectorStoreLifecycleSpec serves through a retrain and
  * asserts zero failed serves). */
final case class VectorStorePublished(epoch: Int, coarse: Seq[Seq[Double]],
    pq: Seq[Seq[Seq[Double]]], baseline: Double) extends EpochPublished

/** The DRIFT-AWARE flavor of [[VectorStoreIngest]] — the deployment story
  * the frozen-artifact q144 gate deliberately excludes: artifacts start
  * frozen, but every arriving micro-batch is scored for distribution
  * drift (mean nearest-cell squared-L2 over the training baseline — the
  * [[graft.queries.SimilarityOps.assignIncremental]] ratio), and a
  * drifted batch triggers retrain of BOTH tiers (coarse quantizer + PQ
  * codebooks) on store ∪ batch followed by a RE-ENCODE of everything
  * already ingested.
  *
  * Store layout is epoch-versioned: `epoch=<e>/batch=<b>/cell=<c>/`,
  * rows (vec_id, embedding, codes). The raw-vector tier rides along
  * (DiskANN keeps raw vectors for re-rank; here it additionally makes
  * re-encode a self-contained store scan — no dependence on the ingest
  * source still being readable). On retrain the new epoch is built by
  * ONE distributed linear pass over the old epoch (read → re-assign +
  * re-encode → partitioned write); the old epoch stays fully serveable
  * until the new one is complete — the non-blocking-reindex shape a
  * production vector store uses, and the reason re-encode needs no
  * driver-side materialization at any scale. Per-batch cost is
  * proportional to the batch; the corpus-sized re-encode bill is paid
  * only on drift, which is the event that would otherwise silently decay
  * recall (AnnRecallSpec measures exactly that decay and its repair).
  *
  * In-distribution batches ride the [[VectorStoreIngest]] discipline
  * unchanged: deterministic `batch=<id>` subdir + overwrite ⇒ replay
  * of an at-least-once foreachBatch delivery replaces its own rows. A
  * REPLAYED batch also re-scores its drift ratio against the CURRENT
  * artifacts; a retrain folds the triggering batch into the baseline
  * corpus, so a location-shift drift replays as non-drifted, and even a
  * batch whose intrinsic quantization error keeps the ratio high (a
  * scale drift) re-retrains DETERMINISTICALLY on the same corpus into
  * identical artifacts and store content: the retrain corpus excludes
  * the batch's own `batch=<id>` partition before the union, so the
  * replayed batch contributes its rows exactly once — the same corpus
  * the first run trained on (VectorStoreLifecycleSpec asserts both the
  * in-distribution replay and the scale-drift replay, row for row).
  *
  * Epoch/publish/replay/report machinery lives in [[DriftingStoreBase]]
  * — shared with [[DriftingTokenizerStore]]. */
final class DriftingVectorStore(storeDir0: String, k: Int, iters: Int,
    m: Int, kPq: Int, pqIters: Int, driftFactor: Double = 2.0)
    extends DriftingStoreBase[VectorStorePublished, DriftIngestReport](
      storeDir0) {

  def coarse: Seq[Seq[Double]] = published.coarse
  def pq: Seq[Seq[Seq[Double]]] = published.pq

  /** Atomic serving snapshot for a concurrent frontend: (epoch, store,
    * coarse, pq) all from ONE published state — never a new epoch with
    * old artifacts or vice versa. The parquet file index snapshots at
    * read time, so a swap mid-serve cannot change the files a running
    * query reads. */
  def serveSnapshot(): (Int, DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val p = published
    (p.epoch, sparkV.read.parquet(s"$storeDir/epoch=${p.epoch}"),
      p.coarse, p.pq)
  }

  /** Train initial artifacts on `standing` and publish it as epoch 0,
    * batch 0 — the artifact a deployment ships with the index. */
  def init(s: SparkSession, standing: DataFrame): Unit = {
    sparkV = s
    val st = standing.select(col("vec_id"), col("embedding"))
    val p = trainArtifacts(st, 0)
    writeBatch(st, 0L, p)
    publishInit(p)
  }

  /** Pure artifact training for epoch `e` — nothing published. The drift
    * baseline is measured against the artifacts just trained, over the
    * corpus they were trained on — a batch drawn from that distribution
    * then scores ≈ 1. */
  private def trainArtifacts(trainDf: DataFrame,
      e: Int): VectorStorePublished = {
    val c = SimilarityOps.lloydFromSeeds(trainDf, k, iters)
    val p = SimilarityOps.pqCodebooksFrom(trainDf, m, kPq, pqIters)
    VectorStorePublished(e, c, p, SimilarityOps.meanCellDist(trainDf, c))
  }

  /** Assign + encode one batch under epoch `p`'s artifacts and land it in
    * epoch `p` — the [[VectorStoreIngest.ingestBatch]] plan with the
    * raw-vector tier carried alongside the codes. */
  private def writeBatch(batch: DataFrame, batchId: Long,
      p: VectorStorePublished): Unit =
    batch.select(col("vec_id"), col("embedding"),
        graft.plans.NearestCentroid.cell(col("embedding"), p.coarse)
          .as("cell"),
        org.apache.spark.sql.graft.PqExpr.encode(col("embedding"), p.pq)
          .as("codes"))
      .repartition(col("cell"))
      .sortWithinPartitions("cell", "vec_id")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$storeDir/epoch=${p.epoch}/batch=$batchId")

  /** One lifecycle step: score the batch's drift ratio; in-distribution →
    * append under the current artifacts; drifted → retrain on store ∪
    * batch, re-encode the store into a new epoch, then append. */
  def ingest(batch0: DataFrame, batchId: Long): DriftIngestReport = {
    // a streaming micro-batch frame is only contractually readable once —
    // checkpoint it eagerly (bounded by maxFilesPerTrigger) before the
    // multi-pass train/encode pipeline below
    val batch = batch0.select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = true)
    val cur = published
    val ratio = {
      val d = SimilarityOps.meanCellDist(batch, cur.coarse)
      if (cur.baseline > 0.0) d / cur.baseline else 1.0
    }
    val drifted = ratio > driftFactor
    if (drifted) {
      // replay-safe retrain corpus: on an at-least-once redelivery the
      // batch's rows are ALREADY in the store under `batch=<id>` from the
      // first run, so store ∪ batch would double-count them (different
      // count → different sample stride → different Lloyd means). Exclude
      // the batch's own partition first: first-run semantics are unchanged
      // (the batch isn't in the store yet) and a replay retrains on the
      // exact corpus the first run saw (r15 advice).
      val standing = store.filter(col("batch") =!= lit(batchId))
        .select(col("vec_id"), col("embedding"))
      val next = trainArtifacts(standing.union(batch), cur.epoch + 1)
      // non-blocking reindex: one distributed pass over the old epoch,
      // re-assigned + re-encoded under the NEW artifacts, batch
      // provenance preserved — then the triggering batch lands in the
      // new epoch too, and only THEN does the volatile publish swap the
      // serving state. The old epoch answers every serve until that
      // point (VectorStoreLifecycleSpec's zero-failed-serves test). The
      // mode(overwrite) on the whole epoch directory is ALSO the orphan
      // repair: a crash after this write but before publish leaves an
      // unreachable epoch dir that the next drifted ingest replaces
      // wholesale (VectorStoreLifecycleSpec's torn-publish case).
      sparkV.read.parquet(s"$storeDir/epoch=${cur.epoch}")
        .select(col("batch"), col("vec_id"), col("embedding"),
          graft.plans.NearestCentroid.cell(col("embedding"), next.coarse)
            .as("cell"),
          org.apache.spark.sql.graft.PqExpr.encode(col("embedding"), next.pq)
            .as("codes"))
        .repartition(col("batch"), col("cell"))
        .sortWithinPartitions("batch", "cell", "vec_id")
        .write.mode("overwrite").partitionBy("batch", "cell")
        .parquet(s"$storeDir/epoch=${next.epoch}")
      writeBatch(batch, batchId, next)
      publish(next)
    } else {
      writeBatch(batch, batchId, cur)
    }
    record(batchId, DriftIngestReport(batchId, ratio, drifted, epoch))
  }
}
