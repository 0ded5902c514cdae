package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SimilarityOps
import graft.streaming.DriftingVectorStore

/** The drift-retrain lifecycle of the streaming vector store (q150) —
  * the state-machine properties the oracle replay pins only for the
  * gate's planted two-batch path: in-distribution batches NEVER retrain
  * no matter how many arrive, a drifted batch always does, the
  * post-retrain store is indistinguishable from a from-scratch rebuild
  * over the same vectors, and an at-least-once REPLAY of the very batch
  * that triggered the retrain is idempotent (it re-scores as
  * in-distribution against the post-retrain baseline and replaces its
  * own rows). */
class VectorStoreLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private val (k, iters) = (8, 3)
  private def emb = graft.sources.Tables(spark, dir, "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** ids < 100 re-keyed +200000 and shifted +25 on every element — the
    * AnnRecallSpec drift recipe. A LOCATION shift (unlike q150's ×3
    * SCALE drift): it moves the batch far outside the trained space but
    * preserves its variance, so after a retrain covers the new region
    * the batch's intrinsic quantization error matches the corpus mean
    * and a replay scores ≈ 1 — the property the idempotent-replay
    * assertion below needs. (A ×3 scale drift re-scores high even
    * post-retrain — its residual variance genuinely is ~9× the corpus
    * average — and would deterministically re-retrain into the same
    * store content; content-idempotent, but not the flag assertion
    * made here.) */
  private def drifted = emb.filter(col("vec_id") < 100)
    .select((col("vec_id") + 200000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(25.0f)).as("embedding"))

  private def storeRows(dvs: DriftingVectorStore): Set[(Long, Int, Seq[Int])] =
    dvs.store.select(col("vec_id"), col("cell"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
      .toSet

  test("in-distribution batches never retrain; a drifted batch does; post-retrain store equals a full rebuild") {
    val base = java.nio.file.Files.createTempDirectory("dvs_spec").toString
    try {
      val standing = emb.filter(col("vec_id") < 300)
      val batchA = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      val batchA2 = emb.filter(col("vec_id") >= 400)
      val dvs = new DriftingVectorStore(s"$base/store", k, iters,
        SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
      dvs.init(spark, standing)
      val frozenCoarse = dvs.coarse

      // two in-distribution batches: ratios hug 1, artifacts stay frozen
      val r1 = dvs.ingest(batchA, 1L)
      val r2 = dvs.ingest(batchA2, 2L)
      assert(!r1.retrained, f"batch A retrained at ratio ${r1.driftRatio}%.3f")
      assert(!r2.retrained, f"batch A2 retrained at ratio ${r2.driftRatio}%.3f")
      assert(r1.driftRatio > 0.5 && r1.driftRatio < 2.0)
      assert(r2.driftRatio > 0.5 && r2.driftRatio < 2.0)
      assert(dvs.epoch === 0 && dvs.coarse === frozenCoarse,
        "in-distribution ingest must not touch the artifacts")

      // the drifted batch: far over the 2x bar, retrain + re-encode epoch
      val r3 = dvs.ingest(drifted, 3L)
      assert(r3.retrained, f"drift ${r3.driftRatio}%.3f did not retrain")
      assert(r3.driftRatio > 2.0)
      assert(dvs.epoch === 1 && dvs.retrains === 1)
      assert(dvs.coarse !== frozenCoarse,
        "retrain must refresh the coarse quantizer")
      // every batch (provenance preserved) rode into the new epoch
      val batches = dvs.store.select(col("batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(batches === Seq(0L, 1L, 2L, 3L))

      // post-retrain store ≡ from-scratch rebuild over the same vectors:
      // training sets are identical (store ∪ batch = all four slices),
      // seeds/iteration/rounding rules deterministic, so artifacts match
      // and per-row encode matches — the store carries no history scars
      val all = standing.union(batchA).union(batchA2).union(drifted)
      val coarseRef = SimilarityOps.lloydFromSeeds(all, k, iters)
      val pqRef = SimilarityOps.pqCodebooksFrom(all, SimilarityOps.PqM,
        SimilarityOps.PqK, SimilarityOps.PqIters)
      assert(dvs.coarse === coarseRef, "retrained quantizer != rebuild")
      assert(dvs.pq === pqRef, "retrained codebooks != rebuild")
      val rebuilt = all.select(col("vec_id"),
          graft.plans.NearestCentroid.cell(col("embedding"), coarseRef)
            .as("cell"),
          org.apache.spark.sql.graft.PqExpr.encode(col("embedding"), pqRef)
            .as("codes"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
        .toSet
      assert(storeRows(dvs) === rebuilt,
        "post-retrain store rows != from-scratch rebuild")

      // at-least-once replay of the TRIGGERING batch: it now scores
      // in-distribution (the retrain folded it into the baseline) and
      // overwrites its own batch dir — end state unchanged
      val before = storeRows(dvs)
      val r3replay = dvs.ingest(drifted, 3L)
      assert(!r3replay.retrained,
        f"replayed batch re-retrained at ${r3replay.driftRatio}%.3f")
      assert(dvs.epoch === 1 && storeRows(dvs) === before,
        "replay of the triggering batch must be idempotent")
      // reports key by batchId (r16 ADVICE 3): the redelivery UPSERTED
      // its slot — three distinct batches, three reports, not four
      assert(dvs.reports.map(_.batchId) === Seq(1L, 2L, 3L),
        "a replayed batch must not append a duplicate report")

      // a SECOND drift event (a different region: −25 shift) must ride
      // the same machinery — epoch 2 re-encodes the already-re-encoded
      // store, and the result still equals a from-scratch rebuild over
      // all five slices (no epoch-to-epoch scar tissue)
      val drifted2 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 200)
        .select((col("vec_id") + 300000L).as("vec_id"),
          transform(col("embedding"), x => x - lit(25.0f)).as("embedding"))
      val r4 = dvs.ingest(drifted2, 4L)
      assert(r4.retrained, f"second drift ${r4.driftRatio}%.3f did not retrain")
      assert(dvs.epoch === 2 && dvs.retrains === 2)
      val all2 = all.union(drifted2)
      val coarse2 = SimilarityOps.lloydFromSeeds(all2, k, iters)
      val pq2 = SimilarityOps.pqCodebooksFrom(all2, SimilarityOps.PqM,
        SimilarityOps.PqK, SimilarityOps.PqIters)
      assert(dvs.coarse === coarse2 && dvs.pq === pq2,
        "second retrain != rebuild over all slices")
      val rebuilt2 = all2.select(col("vec_id"),
          graft.plans.NearestCentroid.cell(col("embedding"), coarse2)
            .as("cell"),
          org.apache.spark.sql.graft.PqExpr.encode(col("embedding"), pq2)
            .as("codes"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
        .toSet
      assert(storeRows(dvs) === rebuilt2,
        "epoch-2 store rows != from-scratch rebuild")
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  test("torn publish (r16 verdict item 4): a crash between the new epoch's write and the volatile publish keeps the old epoch serving; redelivery repairs the orphan into the exact no-crash end state") {
    val base = java.nio.file.Files.createTempDirectory("dvs_torn").toString
    try {
      val standing = emb.filter(col("vec_id") < 300)
      val dvs = new DriftingVectorStore(s"$base/store", k, iters,
        SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
      dvs.init(spark, standing)
      val (coarse0, pq0, rows0) = (dvs.coarse, dvs.pq, storeRows(dvs))
      // arm the crash in the ONLY window where disk and serving state
      // disagree: the new epoch fully written, the publish not yet done
      dvs.failBeforePublish =
        () => throw new RuntimeException("torn-publish injection")
      val ex = intercept[RuntimeException] { dvs.ingest(drifted, 1L) }
      assert(ex.getMessage === "torn-publish injection")
      // the orphan epoch is on disk …
      assert(new java.io.File(s"$base/store/epoch=1").isDirectory,
        "expected the unpublished epoch-1 directory on disk")
      // … but unreachable: the store serves the COMPLETE old epoch with
      // the OLD artifacts, and the crashed ingest recorded no report
      assert(dvs.epoch === 0 && dvs.coarse === coarse0 && dvs.pq === pq0,
        "a torn publish must leave the serving state untouched")
      assert(storeRows(dvs) === rows0, "old epoch must keep serving intact")
      assert(dvs.reports.isEmpty, "a crashed ingest must not record a report")
      // redelivery (at-least-once): the same deterministic decision
      // fires, the re-encode's mode(overwrite) replaces the orphan
      // wholesale, and the publish lands — end state ≡ a run that never
      // crashed (artifacts AND rows equal the from-scratch rebuild)
      dvs.failBeforePublish = () => ()
      val r = dvs.ingest(drifted, 1L)
      assert(r.retrained && dvs.epoch === 1 && dvs.retrains === 1)
      val all = standing.union(drifted)
      val coarseRef = SimilarityOps.lloydFromSeeds(all, k, iters)
      val pqRef = SimilarityOps.pqCodebooksFrom(all, SimilarityOps.PqM,
        SimilarityOps.PqK, SimilarityOps.PqIters)
      assert(dvs.coarse === coarseRef && dvs.pq === pqRef,
        "post-repair artifacts != the no-crash retrain")
      val rebuilt = all.select(col("vec_id"),
          graft.plans.NearestCentroid.cell(col("embedding"), coarseRef)
            .as("cell"),
          org.apache.spark.sql.graft.PqExpr.encode(col("embedding"), pqRef)
            .as("codes"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
        .toSet
      assert(storeRows(dvs) === rebuilt,
        "post-repair store != no-crash end state")
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  test("scale-drift replay re-retrains on the EXACT first-run corpus: identical artifacts and store content (r15 advice)") {
    val base = java.nio.file.Files.createTempDirectory("dvs_scale").toString
    try {
      val standing = emb.filter(col("vec_id") < 300)
      // q150's ×3 SCALE drift: residual variance stays ~9× the corpus
      // mean even after a retrain covers the region, so the replay
      // scores drifted AGAIN — the deterministic-re-retrain path
      val scaleDrift = emb.filter(col("vec_id") < 100)
        .select((col("vec_id") + 200000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(3.0f)).as("embedding"))
      val dvs = new DriftingVectorStore(s"$base/store", k, iters,
        SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
      dvs.init(spark, standing)
      val r1 = dvs.ingest(scaleDrift, 1L)
      assert(r1.retrained, f"scale drift ${r1.driftRatio}%.3f did not retrain")
      val (coarse1, pq1, rows1) = (dvs.coarse, dvs.pq, storeRows(dvs))
      // at-least-once replay: the batch's rows are already in the store
      // under batch=1; the retrain corpus excludes that partition before
      // the union, so the replay trains on the exact corpus the first run
      // saw. Pre-fix, store ∪ batch double-counted the 100 rows (count
      // 500 not 400 → different sample stride → different Lloyd means).
      val r1replay = dvs.ingest(scaleDrift, 1L)
      assert(r1replay.retrained,
        f"scale-drift replay scored ${r1replay.driftRatio}%.3f — expected drifted")
      assert(dvs.coarse === coarse1,
        "replayed scale-drift retrain produced a different coarse quantizer")
      assert(dvs.pq === pq1,
        "replayed scale-drift retrain produced different PQ codebooks")
      assert(storeRows(dvs) === rows1,
        "replayed scale-drift retrain changed store content")
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  // Non-blocking reindex: a frontend thread keeps serving ADC probes
  // through `serveSnapshot` while the main thread ingests an
  // in-distribution batch and then a drift batch (retrain + full
  // re-encode + publish) on the 1× ScaleStress corpus. Every serve must
  // succeed and return the full probe wave, and both epochs must be seen:
  // the volatile publish happens only once the new epoch is on disk.
  test("serving through a drift retrain: no failed or inconsistent serve, both epochs seen") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val base = java.nio.file.Files.createTempDirectory("dvs_swap").toString
    try {
      graft.tools.ScaleStress.synthesize(spark, s"$base/corpus", 1)
      val e = spark.read.parquet(s"$base/corpus/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val dvs = new DriftingVectorStore(s"$base/store", k, iters,
        SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
      dvs.init(spark, e)
      val expectRows = SimilarityOps.adcProbeServe(
        e, dvs.store, dvs.coarse, dvs.pq, 2, "swap-warm").count()
      val (stop, failed, inconsistent) =
        (new AtomicBoolean(false), new AtomicInteger(0), new AtomicInteger(0))
      val epochs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val server = new Thread(() => {
        while (!stop.get()) {
          try {
            val (ep, st, c, p) = dvs.serveSnapshot()
            val rows = SimilarityOps.adcProbeServe(e, st, c, p, 2, s"swap-e$ep")
              .count()
            epochs.add(ep)
            if (rows != expectRows) inconsistent.incrementAndGet()
          } catch { case _: Throwable => failed.incrementAndGet() }
        }
      }, "swap-serve-frontend")
      server.start()
      try {
        val ra = dvs.ingest(e.filter(col("vec_id") < 2000)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding")), 1L)
        assert(!ra.retrained, f"in-distribution batch retrained (${ra.driftRatio}%.2f)")
        val rb = dvs.ingest(e.filter(col("vec_id") < 2000)
          .select((col("vec_id") + 20000000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(25.0f)).as("embedding")), 2L)
        assert(rb.retrained, f"drift batch did not retrain (${rb.driftRatio}%.2f)")
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!epochs.contains(1) && System.nanoTime() < deadline)
          Thread.sleep(100)
      } finally {
        stop.set(true)
        server.join(60000)
      }
      assert(failed.get() === 0, "failed serves")
      assert(inconsistent.get() === 0, "serves that lost rows")
      assert(epochs.contains(0) && epochs.contains(1), s"epochs seen: $epochs")
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }
}
