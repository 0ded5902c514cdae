package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.plans.CosineSimilarity.cosineSim
import graft.plans.{HyperplaneBucket, NearestCentroid}

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Brute-force cosine top-k is the verifiable baseline (oracle: DuckDB
  * `list_cosine_similarity` on the DOUBLE-cast list). The scale paths are
  * (a) random-hyperplane LSH bucketing — candidates come only from
  * same-bucket collisions, so the join is keyed on the bucket signature
  * instead of an O(n²) cross product — and (b) IVF coarse quantization —
  * candidates come only from the probe's own cell.
  *
  * EVERY query here is unbounded (no id-range crutches) and oracle-verified:
  * the hyperplane weights are a pure integer mix and the IVF quantizer is
  * deterministic Lloyd from fixed seeds, so both are re-expressed exactly in
  * DuckDB SQL.
  *
  * Pair scoring uses [[graft.plans.CosineSimilarity]]; bucketing uses the
  * fused [[graft.plans.HyperplaneBucket]] and IVF assignment the fused
  * [[graft.plans.NearestCentroid]] — all native codegen'd Catalyst
  * expressions. No UDFs anywhere.
  */
object SimilarityOps {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  private val Dim = 64 // embedding dimensionality of the corpus
  /** q126 NN-Descent geometry: emitted graph degree, BUILD degree, and
    * refinement rounds. The build runs at an over-provisioned degree
    * (the standard graph-ANN trick — a wider working adjacency explores
    * more of the neighborhood per local join) and the emitted graph is
    * the top-NnK cut; near-uniform 64-dim data is NN-Descent's hard
    * case (no cluster structure to exploit), and 16/4 lifts measured
    * mean recall@8 past the AnnRecallSpec floor where 8/3 reads 0.63.
    * All three knobs are mirrored literally into the unrolled oracle
    * CTEs. */
  private val NnK = 8
  private val NnBuildK = 16
  private val NnIters = 4
  /** q157's robust-prune slack: DiskANN's ~1.2 regime spelled as an
    * exact binary quarter (5/4) so both engines compare identical
    * doubles in the domination test. */
  private[graft] val PruneAlpha = 1.25
  /** q157's planted twins: ids < TwinCount duplicated (identical float
    * vector) past [[GraphGateSlice]] — the structure that makes the
    * domination branch load-bearing at gate scale. */
  private[graft] val TwinCount = 100L

  /** The q157 gate corpus: the gate slice ∪ exact twins. The twin id
    * range starts at GraphGateSlice, so ids stay collision-free at every
    * SF the gate runs at; the id gap (lake rows stop at 500 at gate SF)
    * only thins the id-modulus init deterministically on BOTH engines
    * (nonexistent neighbors drop in the same join). */
  private[graft] def pruneGateCorpus(s: SparkSession,
      dir: String): DataFrame = {
    val base = emb(s, dir).filter(col("vec_id") < GraphGateSlice)
      .select(col("vec_id"), col("embedding"))
    val twins = emb(s, dir).filter(col("vec_id") < TwinCount)
      .select((col("vec_id") + lit(GraphGateSlice)).as("vec_id"),
        col("embedding"))
    base.unionByName(twins)
  }
  /** The graph-family gate slice (q126/q127/q130/q131): every consumer of
    * [[cachedNnGraph]] must slice the corpus to exactly this bound, or the
    * cached layer-0 graph would silently describe a different corpus than
    * the query's. One named constant — shared by the graph builders, the
    * gate entries, and the unrolled oracle CTEs — so the literals cannot
    * drift apart. */
  private[graft] val GraphGateSlice = 600L
  /** q127 beam-search geometry: beam width, expansion hops, entry seeds.
    * Per-query cost Θ(hops·beam·degree) — corpus-size-independent.
    * GraphSearchProbe sweep (sf0.001/sf0.01): 16/3/4 reads 0.94/1.00
    * recall@5, 16/4/4 reads 1.000 at BOTH — one extra hop buys the
    * margin off the knife edge (the q123 nprobe lesson). */
  private val NnBeam = 16
  private val NnHops = 4
  private val NnSeeds = 4

  /** q130 HNSW-style layered-search geometry (Malkov & Yashunin 2016):
    * levels are the deterministic LCG draw ([[graft.operators.NnDescent
    * .levelGate]], p = 1/4 per level, nested), each upper layer carries
    * its own NN-Descent graph at a lean degree, and search descends —
    * top-layer entry → 2 exits per layer → layer-0 beam. The descent
    * replaces q127's blind lowest-id seeds with QUERY-AWARE entry
    * points, which is what lets the layer-0 walk run ONE hop shorter at
    * equal (measured 1.000) recall — the log-layered entry is the
    * mechanism that keeps hop counts bounded as n grows. */
  private val HnswMaxLevel = 2
  private val HnswUpperK = 8
  private val HnswUpperIters = 3
  private val HnswUpperBeam = 4
  private val HnswUpperHops = 2
  private val HnswUpperExits = 2
  private val HnswL0Hops = 3

  /** q140's store/batch split within the [[GraphGateSlice]]d corpus:
    * vec_id < this builds the forest, the rest ingests incrementally
    * (the q131 450/600 split, shared deliberately). */
  private[graft] val RpIngestSplit = 450L

  /** q133 RP-tree forest geometry: trees × depth × spill margin.
    * Leaves concentrate near n/2^depth by the mean-split balance; depth
    * is the log-n knob (each extra level is one more shuffle-bounded
    * pass and halves every leaf). The margin is Annoy's boundary spill
    * in micro-units — level-0 projections measure σ ≈ 5.7e8 on this
    * corpus, so 4e8 ≈ 0.7σ. Near-uniform 64-dim data is the partition
    * family's hard case (projections correlate weakly with cosine
    * neighborhoods — the same reason q39 IVF reads 0.6 recall at
    * nprobe 1 and q123 probes 6 of 8 cells): the tuner swept
    * (trees, depth, margin) and 3×3 @ 4e8 reads mean recall@5 0.90 at
    * sf0.01 / 1.00 at sf0.001 (AnnRecallSpec pins the floor). All
    * three knobs are mirrored literally into the unrolled oracle CTEs. */
  private val RpTrees = 3
  private val RpDepth = 3
  private val RpMargin = 400000000L

  /** The deterministic-Lloyd coarse quantizer (k × dim doubles of driver
    * state), keyed by (k, iters, vec_id slice). In deployment the quantizer
    * is a persisted artifact trained once and reused by every
    * assignment/search job — recomputing it per query would re-run the
    * training scans. */
  private val Centroids = new ArtifactCache.Kind[Seq[Seq[Double]]]("centroids")

  /** Per-(session, dir) cache of the NN-Descent graph artifact — a
    * deployment builds the graph once per ingest and serves many
    * searches through it (the corpusPostings/centroid-artifact pattern):
    * q126 (alphabetically first) pays the build, q127 searches the
    * cached adjacency. Values are eager localCheckpoints (LogicalRDDs),
    * safe to share across query threads. */
  private val NnGraph = new ArtifactCache.Kind[DataFrame]("nnGraph")

  private def cachedNnGraph(s: SparkSession, dir: String): DataFrame =
    ArtifactCache(s, dir, NnGraph)(
      graft.operators.NnDescent.knnGraph(
        emb(s, dir).filter(col("vec_id") < GraphGateSlice)
          .select(col("vec_id"), col("embedding")),
        k = NnBuildK, iters = NnIters))

  /** Per-(session, dir, split) cache of the STORE-slice NN-Descent graph
    * (vec_id < split) — the standing-graph artifact the ingest tier
    * inserts into: q131 (alphabetically first) pays the build, q141's
    * sharded-store composition reuses it (the q126/q127 pattern one
    * level up). */
  private val StoreGraph = new ArtifactCache.Kind[DataFrame]("storeGraph")

  private def cachedStoreGraph(s: SparkSession, dir: String,
      split: Long): DataFrame =
    ArtifactCache(s, dir, StoreGraph, split)(
      graft.operators.NnDescent.knnGraph(
        emb(s, dir).filter(col("vec_id") < split)
          .select(col("vec_id"), col("embedding")),
        k = NnBuildK, iters = NnIters))

  /** Per-(session, dir, slice, split) cache of the INGESTED end-state
    * graph (store build ⊎ batch insertion) — q131 gates its NnK cut,
    * q141 persists it sharded: one ingest, two consumers. */
  private val EndStateGraph = new ArtifactCache.Kind[DataFrame]("endStateGraph")

  private def cachedEndStateGraph(s: SparkSession, dir: String,
      slice: Long, split: Long): DataFrame =
    ArtifactCache(s, dir, EndStateGraph, slice, split) {
      val e = emb(s, dir).filter(col("vec_id") < slice)
        .select(col("vec_id"), col("embedding"))
      graft.operators.NnDescent.insertBatch(
          cachedStoreGraph(s, dir, split),
          e.filter(col("vec_id") < split),
          e.filter(col("vec_id") >= split),
          k = NnBuildK, beam = NnBeam, hops = NnHops, seeds = NnSeeds)
        .localCheckpoint(eager = true)
    }

  /** Per-(session, dir) cache of the q130 upper-layer graphs — like the
    * layer-0 [[cachedNnGraph]], these are build-once serve-many
    * artifacts (an HNSW deployment persists every layer's adjacency
    * beside the vectors). Key includes the level. */
  private val HnswLayer = new ArtifactCache.Kind[DataFrame]("hnswLayer")

  private def cachedHnswLayer(s: SparkSession, dir: String,
      lvl: Int, maxVec: Long): DataFrame =
    ArtifactCache(s, dir, HnswLayer, lvl, maxVec)(
      graft.operators.NnDescent.knnGraph(
        emb(s, dir).filter(col("vec_id") < maxVec)
          .filter(graft.operators.NnDescent.levelGate(col("vec_id"), lvl))
          .select(col("vec_id"), col("embedding")),
        k = HnswUpperK, iters = HnswUpperIters))

  /** q132's rotated corpus: r = R·(v − μ) through the full-rank PCA
    * basis (one fused codegen pass, `PcaProjectExpr` at k = Dim), cast
    * to float so the standing PQ machinery (train/encode/ADC) applies
    * unchanged. Carries `p_sq` (Σ p_j², computed on the DOUBLES before
    * the cast) and `c_sq` (‖v−μ‖² from the same expression) for the
    * isometry device. Shared by the q132 gate and AnnRecallSpec's MSE
    * comparison. */
  private[graft] def opqRotatedCorpus(s: SparkSession, dir: String,
      sliceMax: Long): DataFrame = {
    val basis = pcaBasis(s, dir, Dim)
    val pa = graft.operators.Pca.projectAll(basis, "embedding")
    emb(s, dir).filter(col("vec_id") < sliceMax)
      .select(col("vec_id"), pa.as("pa"))
      .select(col("vec_id"),
        slice(col("pa"), 1, Dim).cast("array<float>").as("embedding"),
        aggregate(slice(col("pa"), 1, Dim), lit(0.0),
          (a, x) => a + x * x).as("p_sq"),
        element_at(col("pa"), Dim + 1).as("c_sq"))
      .localCheckpoint(eager = false)
  }

  /** The q130 HNSW-style descent, full path (gate slices to 600; probes
    * run it unsliced — the q97/q123 `maxVec` pattern). `layer0` lets a
    * caller that already built a base graph (NnProbe) reuse it instead
    * of paying a second full NN-Descent build. */
  private[graft] def hnswLayeredSearch(s: SparkSession, dir: String,
      maxVec: Long = Long.MaxValue,
      layer0: Option[DataFrame] = None): DataFrame = {
    val e = emb(s, dir).filter(col("vec_id") < maxVec)
      .select(col("vec_id"), col("embedding"))
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val e1 = e.filter(graft.operators.NnDescent.levelGate(col("vec_id"), 1))
    val e2 = e.filter(graft.operators.NnDescent.levelGate(col("vec_id"), 2))
    // global entry: every query starts at the top layer's lowest id
    val entry = qs.select(col("qid"))
      .crossJoin(broadcast(e2.agg(min(col("vec_id")).as("nid"))))
      .filter(col("nid").isNotNull)
    val r2 = graft.operators.NnDescent.graphSearchFrom(
      cachedHnswLayer(s, dir, 2, maxVec), e2, qs, entry,
      HnswUpperBeam, HnswUpperHops, HnswUpperExits)
    val r1 = graft.operators.NnDescent.graphSearchFrom(
      cachedHnswLayer(s, dir, 1, maxVec), e1, qs,
      r2.select(col("qid"), col("nid")),
      HnswUpperBeam, HnswUpperHops, HnswUpperExits)
    // layer-0 seeds: the layer-1 exits ∪ the global lowest id (the
    // deterministic non-empty fallback if the upper layers are empty)
    val fallback = qs.select(col("qid"))
      .crossJoin(broadcast(e.agg(min(col("vec_id")).as("nid"))))
    val seeds0 = r1.select(col("qid"), col("nid")).unionByName(fallback)
    val g0 = layer0.getOrElse(
      if (maxVec == GraphGateSlice) cachedNnGraph(s, dir)
      else graft.operators.NnDescent.knnGraph(e, k = NnBuildK, iters = NnIters))
    graft.operators.NnDescent.graphSearchFrom(
      g0, e, qs, seeds0, NnBeam, HnswL0Hops, 5)
  }

  /** Deterministic Lloyd refinement: seeds are the k lowest-vec_id vectors;
    * each iteration assigns via the fused [[NearestCentroid]] codegen
    * expression and recomputes per-cell element-wise means rounded to 6
    * decimals (so float-summation order can't perturb the centroids across
    * engines/partitionings); empty cells keep their previous centroid. Only
    * the k × dim mean rows ever land on the driver. */
  private[graft] def lloydCentroids(
      s: SparkSession, dir: String, k: Int, iters: Int,
      maxVec: Long = Long.MaxValue): Seq[Seq[Double]] =
    // a vec_id-sliced training corpus is a DIFFERENT quantizer
    ArtifactCache(s, dir, Centroids, k, iters, maxVec) {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      lloydFromSeeds(
        if (maxVec == Long.MaxValue) e else e.filter(col("vec_id") < maxVec),
        k, iters)
    }

  /** The Lloyd loop over an explicit (vec_id, embedding) frame — the
    * uncached training engine behind [[lloydCentroids]] and the
    * drift-triggered retrain of [[assignIncremental]].
    *
    * SIZE-GATED driver tier (r17, guide §1.2.1 "remove unnecessary
    * passes"): one `take` probe collects up to DriverMax+1 rows; when the
    * frame fits (every gate corpus, and any bounded training sample), the
    * `iters` Lloyd rounds run on the driver over the collected rows —
    * ONE job instead of `1 + iters` distributed barriers, arithmetic
    * mirrored bit-for-bit in [[graft.operators.LocalQuant.lloyd]] (same
    * assignment eval, same `round(avg, 6)` discipline that already makes
    * the DuckDB oracle's own summation order agree). Larger frames (the
    * ScaleStress unsliced path, big drift-retrain corpora) take the
    * distributed spelling below, unchanged. */
  private[graft] def lloydFromSeeds(
      e: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    import graft.operators.{DriverTier, LocalQuant}
    val probe = e.take(DriverTier.probeLimit(LocalQuant.DriverMax))
    if (probe.length <= LocalQuant.DriverMax) {
      val rows = probe.map(r =>
        (r.getLong(0), r.getSeq[Float](1).toArray))
      return LocalQuant.lloyd(rows, k, iters, Dim)
    }
    var cents: Seq[Seq[Double]] = e.orderBy("vec_id").limit(k).collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble))
      .toSeq
    for (_ <- 1 to iters) {
      val assigned = e.select(col("vec_id"), col("embedding"),
        NearestCentroid.cell(col("embedding"), cents).as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("embedding")))
        .groupBy("cell", "pos").agg(round(avg(col("col")), 6).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = (0 until k).map { c =>
        byCell.get(c)
          .map(rs => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
          .getOrElse(cents(c))
      }
    }
    cents
  }

  /** Product-quantization geometry: [[PqM]] subspaces of Dim/PqM dims,
    * [[PqK]] centroids per subspace (4-bit codes), [[PqIters]] Lloyd
    * iterations per codebook. A vector compresses to PqM small codes —
    * 256 B of floats → a 64-bit code word, the memory/bandwidth win PQ
    * exists for. */
  private[graft] val PqM = 16
  private[graft] val PqK = 16
  private[graft] val PqIters = 3
  private[graft] val PqSub = Dim / PqM

  /** Codebook training is BOUNDED, not corpus-proportional: train on the
    * deterministic `vec_id % mod == 0` sample with
    * mod = max(1, ceil(n / PqTrainTarget)) — the standard PQ practice
    * (codebooks need a representative sample, not the corpus; FAISS
    * trains on a bounded sample regardless of index size). 20k training
    * vectors is 78+ samples per centroid across the M×K codebooks. At
    * the gate SFs mod = 1 (full corpus, so the oracle chain is
    * unchanged); past the target the training bill stays ~PqTrainTarget
    * vectors while ENCODING still covers every vector. The mod derives
    * from one count on both sides (a scalar subquery in the oracle), so
    * the sample is deterministic and engine-portable. */
  private[graft] val PqTrainTarget = 20000L

  /** The PQ codebooks as an artifact keyed by their geometry — one
    * deterministic-Lloyd run PER SUBSPACE over the sliced embeddings
    * (seeds/iteration/rounding rules identical to [[lloydCentroids]], so
    * the DuckDB oracle reproduces every codebook exactly). Driver state is
    * M × K × (Dim/M) doubles — the persisted-artifact shape a deployment
    * trains once and ships with the index. */
  private val PqBooks = new ArtifactCache.Kind[Seq[Seq[Seq[Double]]]]("pqCodebooks")

  /** All M codebooks train in ONE fused Lloyd loop over the exploded
    * (sub, subvector) stream: per iteration a single job computes every
    * per-(sub, cell, position) mean — 1 + iters corpus scans TOTAL
    * instead of M × (1 + iters) (64 serial scan-jobs at M=16/iters=3,
    * which dominated q97's wall time; at 100 TB the difference is the
    * whole training bill). Per-row assignment dispatches on `sub` via a
    * when-chain of fused [[NearestCentroid]] expressions — equivalent to
    * training each subspace independently because rows of different
    * subs never share a (sub, cell, pos) mean group. */
  private[graft] def pqCodebooks(s: SparkSession, dir: String,
      m: Int, k: Int, iters: Int,
      trainTarget: Long = PqTrainTarget,
      maxVec: Long = Long.MaxValue,
      src: Option[DataFrame] = None, srcTag: String = ""): Seq[Seq[Seq[Double]]] =
    // sliced corpora yield different codebooks (the [[lloydCentroids]]
    // rule); an alternative training source (q132's rotated corpus) is
    // keyed by its tag
    ArtifactCache(s, dir, PqBooks, m, k, iters, trainTarget, maxVec, srcTag) {
      val all0 = src.getOrElse(emb(s, dir))
        .select(col("vec_id"), col("embedding"))
      val all = if (maxVec == Long.MaxValue) all0
                else all0.filter(col("vec_id") < maxVec)
      pqCodebooksFrom(all, m, k, iters, trainTarget)
    }

  /** The uncached PQ training engine behind [[pqCodebooks]] — one fused
    * deterministic-Lloyd run over an explicit (vec_id, embedding) frame;
    * also the retrain path of
    * [[graft.streaming.DriftingVectorStore]] (training from the live
    * store ∪ drifted batch, where dir-keyed caching would be wrong). */
  private[graft] def pqCodebooksFrom(all: DataFrame, m: Int, k: Int,
      iters: Int, trainTarget: Long = PqTrainTarget): Seq[Seq[Seq[Double]]] = {
    {
      val sub = Dim / m
      // DRIVER TIER (r17): the stride bounds the sample at ~trainTarget
      // rows BY CONSTRUCTION, so when that bound fits the LocalQuant
      // contract the whole fused Lloyd runs on the driver over ONE
      // collected sample — 1-2 jobs instead of 2 + iters; arithmetic
      // mirrored bit-for-bit ([[graft.operators.LocalQuant.pqCodebooks]]).
      // Probe-first: when the whole corpus fits trainTarget rows the
      // stride is 1 by definition (mod = ceil(n/T) = 1 for n ≤ T), so the
      // probe IS the sample and the count job is skipped entirely.
      if (trainTarget <= graft.operators.LocalQuant.DriverMax) {
        val probe = all.take(graft.operators.DriverTier.probeLimit(trainTarget))
        val rows =
          if (probe.length <= trainTarget) probe.map(r =>
            (r.getLong(0), r.getSeq[Float](1).toArray))
          else {
            val n = all.count()
            val mod = math.max(1L, (n + trainTarget - 1) / trainTarget)
            all.filter(pmod(col("vec_id"), lit(mod)) === 0).collect()
              .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          }
        require(rows.nonEmpty, "pqCodebooks: no training vectors")
        return graft.operators.LocalQuant.pqCodebooks(rows, m, k, iters)
      }
      // k=1 driver scalar (the q39-centroid precedent): the sample stride
      val n = all.count()
      val mod = math.max(1L, (n + trainTarget - 1) / trainTarget)
      val e = all.filter(pmod(col("vec_id"), lit(mod)) === 0)
      // seeds: the k lowest-vec_id vectors OF THE SAMPLE, sliced driver-side
      val seedRows = e.orderBy("vec_id").limit(k).collect()
        .map(r => r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
      require(seedRows.nonEmpty,
        s"pqCodebooks: no training vectors (stride $mod)")
      // a sample smaller than k trains that many centroids — exactly what
      // the oracle's `rn <= k` seed CTE yields, so the engines stay in
      // lockstep instead of indexing past the seed list here
      val kEff = math.min(k, seedRows.length)
      var cents: IndexedSeq[IndexedSeq[Seq[Double]]] =
        (0 until m).map(i => seedRows
          .map(v => v.slice(i * sub, i * sub + sub): Seq[Double])
          .toIndexedSeq).toIndexedSeq
      for (_ <- 1 to iters) {
        // one narrow pass: pq_encode emits all M codes per row in a single
        // generated loop (a when-chain of M NearestCentroids blew past the
        // JVM method limit and dropped the stage out of codegen); rows
        // explode to (sub, subvector) — M per vector, not Dim — with the
        // per-dimension means as `sub` parallel avg columns
        val means = e
          .select(org.apache.spark.sql.graft.PqExpr
              .encode(col("embedding"), cents.map(_.toSeq)).as("codes"),
            posexplode(array((0 until m).map(i =>
              slice(col("embedding"), i * sub + 1, sub)): _*)))
          .select(col("pos").as("sub"),
            element_at(col("codes"), col("pos") + 1).as("cell"),
            col("col").as("sv"))
          .groupBy("sub", "cell")
          .agg(round(avg(element_at(col("sv"), 1)), 6).as("m0"),
            (1 until sub).map(j =>
              round(avg(element_at(col("sv"), j + 1)), 6).as(s"m$j")): _*)
          .collect()
        val bySubCell = means
          .map(r => (r.getInt(0), r.getInt(1)) ->
            (0 until sub).map(j => r.getDouble(2 + j)))
          .toMap
        cents = (0 until m).map { i =>
          (0 until kEff).map { c =>
            bySubCell.getOrElse((i, c), cents(i)(c)): Seq[Double]
          }.toIndexedSeq
        }.toIndexedSeq
      }
      cents.map(_.toSeq)
    }
  }

  /** q145: anisotropic weight on the PARALLEL residual component (ScaNN,
    * Guo et al. ICML'20 §3: for MIPS, quantization error parallel to the
    * datapoint biases the inner-product estimates of HIGH-scoring pairs,
    * orthogonal error averages out over query directions). A single
    * dataset-level eta — the deployed configuration shape, where one
    * multiplier follows from a relative score threshold t via the
    * paper's closed form eta = (d−1)·t²/(1−t²)
    * ([[anisoEtaForThreshold]]; the paper's theory also derives
    * PER-DATAPOINT-NORM weights — tools/AnisoProbe implements and
    * measures that flavor at equal mean parallel budget: bit-identical
    * to constant eta on the uniform fixture (norms concentrate) and
    * within one probe-hit on the clustered one (0.460 ≡ 0.460 at mean
    * eta 4), so the constant flavor stays the gate — the win the
    * per-norm form is about needs a norm-spread corpus neither fixture
    * has). 4 is the measured clustered-fixture winner (tools/
    * AnisoProbe) and corresponds to t ≈ 0.244 at d = 64 — "preserve
    * scores above relative cosine ~0.24", a sensible MIPS relevance
    * bar. */
  private[graft] val AnisoEta = 4.0

  /** The ICML'20 closed form (Guo et al., Theorem 3.3 as shipped in
    * ScaNN's scann_builder) linking a relative score threshold t = T/‖x‖
    * to the parallel-cost multiplier: eta = (d−1)·t²/(1−t²)
    * (spherical-cap integration of the expected parallel vs orthogonal
    * loss contributions; h_∥/h_⊥ with h_⊥ normalized to 1). At
    * t = 1/√d — the mean |cosine| of a random direction — this reads
    * exactly 1, i.e. plain L2: thresholds below the random-direction bar
    * give eta < 1 and a deployment should clamp to 1. Exposed so a
    * deployment picks eta from the score bar it cares about instead of
    * by sweep; asserted against [[AnisoEta]] in AnnRecallSpec. */
  private[graft] def anisoEtaForThreshold(t: Double, d: Int): Double = {
    require(t >= 0 && t < 1, "relative threshold t must be in [0, 1)")
    (d - 1) * t * t / (1.0 - t * t)
  }

  /** Lexicographic permutations of 0..3 with parity — the ONE canonical
    * Leibniz term order that BOTH the driver solve ([[det4]]) and the
    * generated SQL ([[det4Sql]]) evaluate, left-associated, so identical
    * 6dp-rounded inputs produce bit-identical centroid solutions in both
    * engines (no Gaussian-elimination pivoting to diverge on). */
  private val Perm4: Seq[(IndexedSeq[Int], Int)] =
    (0 to 3).permutations.map { p =>
      val inv = (for (i <- 0 to 3; j <- i + 1 to 3 if p(i) > p(j)) yield 1).sum
      (p, if (inv % 2 == 0) 1 else -1)
    }.toSeq

  private def det4(a: (Int, Int) => Double): Double =
    Perm4.foldLeft(0.0) { case (acc, (p, s)) =>
      val t = a(0, p(0)) * a(1, p(1)) * a(2, p(2)) * a(3, p(3))
      if (s > 0) acc + t else acc - t
    }

  private def det4Sql(a: (Int, Int) => String): String =
    Perm4.zipWithIndex.map { case ((p, s), i) =>
      val t = s"${a(0, p(0))}*${a(1, p(1))}*${a(2, p(2))}*${a(3, p(3))}"
      if (i == 0) { if (s > 0) t else s"-$t" }
      else { if (s > 0) s" + $t" else s" - $t" }
    }.mkString

  private val AnisoBooks = new ArtifactCache.Kind[Seq[Seq[Seq[Double]]]]("anisoCodebooks")

  /** ANISOTROPIC (score-aware) PQ codebooks — the [[pqCodebooks]] fused
    * Lloyd loop with BOTH halves of the ScaNN recipe:
    *
    *  - assignment minimizes ||r||² + (eta−1)·⟨r,x⟩²/||x||² (the fused
    *    [[org.apache.spark.sql.graft.PqExpr.encodeAniso]] codegen — one
    *    generated triple loop, eta = 1 degenerates to the plain expr);
    *  - the centroid update is the CLOSED FORM minimizer of the summed
    *    anisotropic loss (Guo et al. Thm 4.2 at constant eta):
    *    [I + mean(w·x̂x̂ᵀ)]·c = eta·mean(x), w = eta−1 — a SubDim×SubDim
    *    (=4×4) SPD system per (sub, cell), aggregated as 6dp-rounded
    *    per-entry MEANS (one narrow pass, the pqCodebooks shape) and
    *    solved by CRAMER in the canonical [[Perm4]] term order, so the
    *    oracle's generated SQL reproduces every centroid bit-for-bit.
    *    At eta = 1 the matrix is I and the solve returns the plain mean —
    *    asserted equal to [[pqCodebooks]] in AnnRecallSpec.
    *
    * Driver state: M × K × (14 stats + 4 solved dims) doubles — the same
    * bounded artifact shape as pqCodebooks; training rides the same
    * bounded deterministic sample. */
  private[graft] def anisoCodebooks(s: SparkSession, dir: String,
      m: Int, k: Int, iters: Int, eta: Double,
      trainTarget: Long = PqTrainTarget,
      maxVec: Long = Long.MaxValue): Seq[Seq[Seq[Double]]] = {
    val sub = Dim / m
    require(sub == 4, "anisoCodebooks: the Cramer solve is generated for sub=4")
    val w = eta - 1.0
    // trainTarget rides the key (the pqCodebooks rule): a different
    // sample stride is a different quantizer
    ArtifactCache(s, dir, AnisoBooks, m, k, iters, eta, maxVec, trainTarget) {
      val all0 = emb(s, dir).select(col("vec_id"), col("embedding"))
      val all = if (maxVec == Long.MaxValue) all0
                else all0.filter(col("vec_id") < maxVec)
      // DRIVER TIER (r17, the pqCodebooksFrom rule): the stride bounds
      // the sample, so the stats+Cramer iterations run on the driver over
      // ONE collected sample — 1-2 jobs instead of 2 + iters; arithmetic
      // mirrored bit-for-bit (LocalQuant.anisoCodebooks — same encodeAniso
      // eval, same 6dp-rounded means, same canonical-Leibniz solve).
      // Probe-first (the pqCodebooksFrom rule): n ≤ trainTarget ⇒ stride 1
      // ⇒ the probe IS the sample, no count job.
      if (trainTarget <= graft.operators.LocalQuant.DriverMax) {
        val probe = all.take(graft.operators.DriverTier.probeLimit(trainTarget))
        val rows =
          if (probe.length <= trainTarget) probe.map(r =>
            (r.getLong(0), r.getSeq[Float](1).toArray))
          else {
            val n = all.count()
            val mod = math.max(1L, (n + trainTarget - 1) / trainTarget)
            all.filter(pmod(col("vec_id"), lit(mod)) === 0).collect()
              .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          }
        require(rows.nonEmpty,
          s"anisoCodebooks: no training vectors in $dir")
        graft.operators.LocalQuant.anisoCodebooks(rows, m, k, iters, eta)
      } else {
      val n = all.count()
      val mod = math.max(1L, (n + trainTarget - 1) / trainTarget)
      val e = all.filter(pmod(col("vec_id"), lit(mod)) === 0)
      val seedRows = e.orderBy("vec_id").limit(k).collect()
        .map(r => r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
      require(seedRows.nonEmpty,
        s"anisoCodebooks: no training vectors in $dir (stride $mod)")
      val kEff = math.min(k, seedRows.length)
      var cents: IndexedSeq[IndexedSeq[Seq[Double]]] =
        (0 until m).map(i => seedRows
          .map(v => v.slice(i * sub, i * sub + sub): Seq[Double])
          .toIndexedSeq).toIndexedSeq
      for (_ <- 1 to iters) {
        // one narrow pass: per (sub, cell) the 4 coordinate means and the
        // 10 upper-triangle entries of mean(w·x_d·x_e/||x||²), all
        // 6dp-rounded (the cross-engine aggregation discipline)
        val sv = col("sv")
        val xx = aggregate(zip_with(sv, sv,
          (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _)
        val aggs =
          (0 until sub).map(d =>
            round(avg(element_at(sv, d + 1)), 6).as(s"b$d")) ++
          (for (d <- 0 until sub; e2 <- d until sub) yield
            round(avg(lit(w) * element_at(sv, d + 1) * element_at(sv, e2 + 1)
              * col("inv")), 6).as(s"a${d}_$e2"))
        val stats = e
          .select(org.apache.spark.sql.graft.PqExpr
              .encodeAniso(col("embedding"), cents.map(_.toSeq), eta).as("codes"),
            posexplode(array((0 until m).map(i =>
              slice(col("embedding"), i * sub + 1, sub)): _*)))
          .select(col("pos").as("sub"),
            element_at(col("codes"), col("pos") + 1).as("cell"),
            col("col").as("sv"))
          .withColumn("inv",
            when(xx < lit(1e-12), lit(0.0)).otherwise(lit(1.0) / xx))
          .groupBy("sub", "cell")
          .agg(aggs.head, aggs.tail: _*)
          .collect()
        val bySubCell = stats.map { r =>
          val b = (0 until sub).map(d => r.getDouble(2 + d))
          val up = (for (d <- 0 until sub; e2 <- d until sub)
            yield (d, e2)).zipWithIndex.map { case ((d, e2), i) =>
              (d, e2) -> r.getDouble(2 + sub + i) }.toMap
          def aEnt(d: Int, e2: Int): Double = {
            val v = up(if (d <= e2) (d, e2) else (e2, d))
            if (d == e2) 1 + v else v
          }
          val rhs = (0 until sub).map(d => eta * b(d))
          val dA = det4(aEnt)
          val cNew = (0 until sub).map { d =>
            val dd = det4((i, j) => if (j == d) rhs(i) else aEnt(i, j))
            BigDecimal(dd / dA)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          }
          (r.getInt(0), r.getInt(1)) -> (cNew: Seq[Double])
        }.toMap
        cents = (0 until m).map { i =>
          (0 until kEff).map { c =>
            bySubCell.getOrElse((i, c), cents(i)(c))
          }.toIndexedSeq
        }.toIndexedSeq
      }
      cents.map(_.toSeq)
      }
    }
  }

  /** Result of an incremental IVF batch assignment: the batch's cell
    * assignment, the measured drift ratio, and whether the drift hook
    * retrained the quantizer. */
  final case class BatchAssignment(assignment: DataFrame, driftRatio: Double,
      retrained: Boolean)

  /** Per-quantizer drift baseline: mean nearest-centroid squared-L2 of the
    * TRAINING corpus, cached beside the centroids. */
  private val Baseline = new ArtifactCache.Kind[Double]("driftBaseline")

  /** Mean squared-L2 of each vector to its assigned (nearest) centroid:
    * cell via the codegen'd [[NearestCentroid]], distance via ONE zip_with
    * against the broadcast-joined centroid row. One aggregation job. */
  private[graft] def meanCellDist(
      df: DataFrame, cents: Seq[Seq[Double]]): Double = {
    val s = df.sparkSession
    import scala.jdk.CollectionConverters._
    val centDf = s.createDataFrame(
      cents.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i, c)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cent",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
    val r = df.select(col("embedding"),
        NearestCentroid.cell(col("embedding"), cents).as("cell"))
      .join(broadcast(centDf), Seq("cell"))
      .select(aggregate(
        zip_with(col("embedding"), col("cent"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (acc, v) => acc + v).as("d2"))
      .agg(avg(col("d2"))).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Incremental IVF / semantic-dedup ingestion (the embedding mirror of
    * [[graft.operators.ConnectedComponents.incremental]]): assign a NEW
    * batch of vectors against the CACHED quantizer — per-batch cost, no
    * retraining scan — unless the batch has drifted away from the space the
    * quantizer was trained on.
    *
    * Drift = mean nearest-centroid squared-L2 of the batch over the same
    * mean of the training corpus (both one aggregation job; the baseline is
    * cached with the quantizer). A batch drawn from the training
    * distribution scores ≈ 1; `driftFactor` (default 2×) is the retrain
    * trigger. On retrain the quantizer is refit on corpus ∪ batch and the
    * (dir, k, iters) cache entries are REPLACED, so subsequent batches
    * assign against the refreshed artifact.
    *
    * Equivalence (proved in AnnRecallSpec): for a non-drifted batch,
    * assigning the batch incrementally ≡ the batch's rows inside a full
    * recompute over corpus ∪ batch with the same quantizer — assignment is
    * per-row, so batch boundaries cannot change cells. */
  def assignIncremental(s: SparkSession, dir: String, k: Int, iters: Int,
      batch: DataFrame, driftFactor: Double = 2.0): BatchAssignment = {
    val cents = lloydCentroids(s, dir, k, iters)
    val base = ArtifactCache(s, dir, Baseline, k, iters)(
      meanCellDist(emb(s, dir), cents))
    val batchDist = meanCellDist(batch, cents)
    val ratio = if (base > 0.0) batchDist / base else 1.0
    if (ratio > driftFactor) {
      val retrained = lloydFromSeeds(
        emb(s, dir).select(col("vec_id"), col("embedding"))
          .union(batch.select(col("vec_id"), col("embedding"))),
        k, iters)
      ArtifactCache.put(s, dir, Centroids, k, iters, Long.MaxValue)(retrained)
      ArtifactCache.remove(s, dir, Baseline, k, iters)
      BatchAssignment(
        batch.select(col("vec_id"), col("embedding"),
          NearestCentroid.cell(col("embedding"), retrained).as("cell")),
        ratio, retrained = true)
    } else BatchAssignment(
      batch.select(col("vec_id"), col("embedding"),
        NearestCentroid.cell(col("embedding"), cents).as("cell")),
      ratio, retrained = false)
  }

  /** Deterministic pseudo-random hyperplane weights in [-0.5, 0.5): a
    * QUADRATIC integer mix over the flattened (plane, dim) index, computed
    * once on the driver; consumed by the fused
    * [[graft.plans.HyperplaneBucket]] codegen expression and mirrored
    * literally into the DuckDB oracle ([[bucketSqlExpr]]).
    *
    * Why quadratic: the round-6 affine mix (offset(p) + j·B mod M) gave
    * every plane the SAME slope in j — planes were translations of one
    * sawtooth, so sign-patterns concentrated into few hot band buckets and
    * the 10×/30× ScaleStress recall collapsed once bucket caps engaged
    * (measured 1.0 → 0.33). The k² term decorrelates planes (quadratic
    * residues mod the prime spread uniformly) while staying exactly
    * mirrorable in integer SQL. */
  private[graft] def planeWeights(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map { j =>
      val k = p.toLong * dim + j + 1
      val mixed = ((k * k % 1000003L) * 2654435761L + k * 104729L) % 1000003L
      mixed.toDouble / 1000003.0 - 0.5
    }

  /** DuckDB expression computing the same nPlanes-bit hyperplane bucket of
    * DOUBLE[] column `v` as [[HyperplaneBucket.bucket]]: bit p is the sign
    * of v · plane_p, with plane weights generated by the same integer mix
    * as [[planeWeights]]. */
  private def bucketSqlExpr(nPlanes: Int, v: String): String =
    (0 until nPlanes).map { p =>
      val base = p.toLong * Dim
      val k = s"($base + j + 1)"
      s"""(CASE WHEN list_dot_product($v, list_transform(range(0, $Dim),
         |  j -> ((($k * $k % 1000003) * 2654435761 + $k * 104729)
         |        % 1000003) / 1000003.0 - 0.5)) >= 0
         |  THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")

  /** Embedding near-duplicate pairs above a cosine threshold — UNBOUNDED,
    * with PARAMETERIZED geometry (the q38-family knob the r6 verdict asked
    * for). Candidate generation is multi-band hyperplane LSH: a pair is a
    * candidate iff it agrees on all `bandBits` sign bits of ≥1 band;
    * candidates are exactly rescored with cosine, so geometry only moves
    * the recall curve (p_band = (1−θ/π)^bandBits per band). The join is
    * keyed on (band, key) — never an n² cross product. `maxBucket` skips
    * over-populated buckets (the same lossy-but-audited guard as
    * [[DedupOps.lshPairsTuned]]): under a fixed plane count, same-bucket
    * chance collisions are Θ(n²/2^planes), and the levers are MORE planes
    * with WIDER bands plus the cap — recall against planted duplicate
    * embeddings is measured per scale by ScaleStress, not assumed.
    *
    * Defaults (16 planes, 4-bit bands, no cap, cos ≥ 0.3) are EXACTLY the
    * gated q36 (which delegates here); the scale geometry is e.g.
    * (32, 8, 64): 4 bands of 8 bits over 32 planes, 2^8 keys per band. */
  def hyperplanePairsTuned(s: SparkSession, dir: String, nPlanes: Int = 16,
      bandBits: Int = 4, maxBucket: Long = 0L,
      minCosine: Double = 0.3): DataFrame = {
    require(nPlanes % bandBits == 0,
      s"nPlanes $nPlanes must be a multiple of bandBits $bandBits")
    val nBands = nPlanes / bandBits
    val e = emb(s, dir)
    val sig = HyperplaneBucket.bucket(col("embedding"),
      (0 until nPlanes).map(planeWeights(_, Dim)))
    val banded = e.select(col("vec_id"), col("embedding"), sig.as("sig"))
      .select(col("vec_id"), col("embedding"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1)).as("key"))
        }: _*)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val within = if (maxBucket > 0L) {
      // the bucket-size aggregate shuffles on the same (band, key) as the
      // pair join — shared exchange, one co-partitioned agg
      val ok = banded.groupBy("band", "key")
        .agg(count(lit(1)).as("bcnt"))
        .filter(col("bcnt") <= maxBucket)
        .select("band", "key")
      banded.join(ok, Seq("band", "key"))
    } else banded
    val a = within.select(col("band"), col("key"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = within.select(col("band"), col("key"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(b, Seq("band", "key")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineSim(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= minCosine)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cosine"))
      .distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-k: fixed 10-query probe set × all candidates.
    // The probe set is broadcast; candidates stream — one pass over the
    // corpus per probe batch. Ranking is the k-bounded TopKByScore heap
    // (map-side: ≤5 entries per probe cross the shuffle), NOT a window —
    // a window sort per probe would buffer the whole corpus × probes.
    // Ties break toward the lower cid in both the heap and the oracle.
    "q35_ann_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 10)
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      c.join(broadcast(q), col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          cosineSim(col("qe"), col("ce")).as("cos"))
        .transform(ranked(_, col("cos"), 5, "cosine"))
    }),

    // Random-projection-tree FOREST ANN (Dasgupta & Freund STOC'08
    // mean-split RP-trees with Annoy-style margin spill at query time —
    // the partition-tree family; see operators/RpForest for the
    // distributed shape): data-DEPENDENT splits balance the leaves
    // where LSH's data-independent buckets skew, with no Lloyd training
    // loop and no cap knobs. Build = depth shuffle-bounded passes
    // (fused zip_with dot products, groupBy-mean thresholds — never a
    // window); probes descend through broadcast threshold metadata,
    // spilling to the far child at knife-edge splits; candidates =
    // corpus rows in any reached leaf of any tree; emitted scores are
    // the exact q35 kernel over the candidate cut (the q123 rerank
    // discipline). The whole chain — LCG hyperplanes, micro-unit LONG
    // projections, floor(sum/cnt) thresholds, spill descent, forest-
    // union candidates — unrolls into DuckDB CTEs.
    "q133_rptree_forest_ann" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (leaves, thrs) = graft.operators.RpForest
        .build(s, e, RpTrees, RpDepth, Dim)
      val probeLeaves = graft.operators.RpForest.probeRoute(
        s, e.filter(col("vec_id") < 10), thrs,
        RpTrees, RpDepth, Dim, RpMargin)
      val cand = graft.operators.RpForest
        .forestCandidates(leaves, probeLeaves)
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      cand.join(broadcast(q.filter(col("qid") < 10)), Seq("qid"))
        .join(c, Seq("cid"))
        .select(col("qid"), col("cid"),
          cosineSim(col("qe"), col("ce")).as("cos"))
        .transform(ranked(_, col("cos"), 5, "cosine"))
    }),

    // RP-forest INCREMENTAL INGEST end state (the q131 recipe on the
    // partition-tree rung — the forest was the one index-family member
    // without an ingest path; postings/IVF/PQ/MinHash/graph/PCA all have
    // one): build the forest on the store slice (vec_id < RpIngestSplit),
    // route the batch down the FROZEN threshold metadata at per-batch
    // cost (near child only — the build rule; a node empty at build time
    // descends left), and gate the COMPLETE resulting leaf store, row for
    // row. The oracle re-derives the identical split: thresholds from the
    // store rows only, then a frozen near-child route of the batch with a
    // LEFT threshold join. Batch ⊎ store ≡ full re-route and batch
    // composition are proved in AnnRecallSpec (the lshPairsIncremental
    // contract).
    "q140_rpforest_ingest_endstate" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < GraphGateSlice)
        .select(col("vec_id"), col("embedding"))
      val store = e.filter(col("vec_id") < RpIngestSplit)
      val batch = e.filter(col("vec_id") >= RpIngestSplit)
      val (leaves, thrs) = graft.operators.RpForest
        .build(s, store, RpTrees, RpDepth, Dim)
      val ins = graft.operators.RpForest
        .insertBatch(s, batch, thrs, RpTrees, RpDepth, Dim)
      leaves.unionByName(ins)
        .select(col("t").cast("long").as("t"), col("vec_id"),
          col("node").cast("long").as("node"))
    }),

    // INT8-quantized brute-force ANN — q35's kernel on q54's SQ8 vectors
    // (FAISS's SQ8 storage tier: 4× less memory bandwidth per scored
    // pair, the knob that matters when brute-force rescoring is
    // memory-bound at corpus scale). Per-vector symmetric quantization
    // (scale = max|x|/127) then the SAME proven-parity cosine kernel
    // pair as q35 (CosineSimilarityExpr vs list_cosine_similarity) over
    // the integral-valued arrays — products and sums are exact in
    // double (≤127²·dims ≪ 2⁵³), so quantized cosines are
    // order-independent by construction, stronger than q35's float
    // parity. Output ranks the quantized scores; comparing them to
    // q35's fp ranks IS the recall-vs-compression measurement.
    "q105_ann_int8" -> ((s, dir) => {
      val e = emb(s, dir)
      def quantD(c: Column): Column = {
        val xs = transform(c, x => x.cast("double"))
        val scale = greatest(
          array_max(transform(xs, x => abs(x))) / lit(127.0), lit(1e-12))
        transform(xs, x =>
          least(greatest(round(x / scale), lit(-127.0)), lit(127.0)))
      }
      val q = e.select(col("vec_id").as("qid"),
          quantD(col("embedding")).as("qe"))
        .filter(col("qid") < 10)
      val c = e.select(col("vec_id").as("cid"),
        quantD(col("embedding")).as("ce"))
      c.join(broadcast(q), col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          cosineSim(col("qe"), col("ce")).as("cosq"))
        .transform(ranked(_, col("cosq"), 5, "cosine_q"))
    }),

    // Chunk→document embedding MEAN-POOLING — the aggregation step of a
    // RAG / long-document pipeline (chunk embeddings pooled into one
    // doc vector before indexing). Scale shape: groups are
    // chunk-bounded (a doc has tens of chunks), so the right plan is
    // ONE hash shuffle on the group id + an in-row array fold — NOT a
    // 64× posexplode to (group, dim) rows. Determinism: collect_list
    // order is partition-order-dependent, so the fold is pinned by
    // sorting the collected (vec_id, v) structs first; both engines
    // then sum in ascending-vec_id order — identical doubles, so the
    // 6dp rounding cannot straddle. The leading 0.0 in the fold's zero
    // vector is an exact identity (adding 0.0 never changes a double).
    // Output shape (r9 verdict): the pooled vector crosses the gate as
    // ONE scalar string of exact integer micro-units (round to 6dp,
    // ×1e6, long, comma-join) — the driver's pandas canonicalizer
    // cannot sort top-level array cells, and micro-unit longs stringify
    // identically in both engines (no double formatting in play).
    "q106_embed_pool" -> ((s, dir) => {
      val e = emb(s, dir).select(
        (col("vec_id") / 8).cast("long").as("gid"),
        struct(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v")).as("c"))
      e.groupBy("gid").agg(
          count(lit(1)).as("n_chunks"),
          array_sort(collect_list(col("c"))).as("cs"))
        .select(col("gid"), col("n_chunks"),
          array_join(transform(
            aggregate(col("cs"),
              transform(element_at(col("cs"), 1).getField("v"),
                _ => lit(0.0)),
              (acc, c) => zip_with(acc, c.getField("v"), (a, b) => a + b)),
            x => round(round(x / col("n_chunks"), 6) * lit(1e6))
              .cast("long").cast("string")), ",").as("pooled_micro"))
    }),

    // Embedding near-duplicate pairs above a cosine threshold — UNBOUNDED.
    // Candidate generation is multi-band hyperplane LSH (16 planes = 4
    // bands × 4 planes; a pair is a candidate iff it agrees on all 4 bits
    // of ≥1 band), then candidates are exactly rescored with cosine. The
    // join is keyed on (band, 4-bit key) — never an n² cross product; the
    // OR-over-bands construction is the standard recall amplifier
    // (p_band = (1-θ/π)^4 per band, ~42% recall at cos=0.3 rising steeply
    // with similarity). Both sides of the oracle compute the identical
    // banding, so the comparison is exact. Delegates to
    // [[hyperplanePairsTuned]] at the default geometry — the scale knobs
    // (more planes, wider bands, bucket cap) live there.
    "q36_embed_neardup" -> ((s, dir) => hyperplanePairsTuned(s, dir)),

    // EMBEDDING-based eval DECONTAMINATION — the semantic twin of q58's
    // n-gram contamination check, run before training: holdout docs
    // (q48's hash-split rule applied to vec_id: bucket ≥ 90 = the test
    // split) that are suspiciously cosine-close to any TRAIN doc
    // (bucket < 80 — val is neither side) leak eval signal; the report
    // lists every (eval, train, cosine ≥ 0.3) pair. Candidates come from
    // the same multi-band hyperplane LSH as q36 — the join is keyed on
    // (band, key), never |eval| × |train| — then exact cosine rescoring.
    // Both join inputs are spelled as projections of one banded subtree
    // with the split predicate after the join (the q36 self-join shape);
    // Catalyst then pushes each single-sided bucket predicate below the
    // join, which is the RIGHT outcome at scale — the eval side prunes
    // to ≤10% of the corpus before its exchange (and is typically a
    // fixed benchmark suite → broadcastable); each side is scanned once
    // and shuffles once on (band, key). Threshold/geometry knobs are
    // hyperplanePairsTuned's.
    "q93_embedding_contamination" -> ((s, dir) => {
      val nPlanes = 16
      val bandBits = 4
      val nBands = nPlanes / bandBits
      val bucket = pmod(graft.functions.TextFunctions.stableHash(
        col("vec_id").cast("string")), lit(100))
      val sig = HyperplaneBucket.bucket(col("embedding"),
        (0 until nPlanes).map(planeWeights(_, Dim)))
      val banded = emb(s, dir)
        .select(col("vec_id"), col("embedding"), bucket.as("bucket"),
          sig.as("sig"))
        .select(col("vec_id"), col("embedding"), col("bucket"),
          explode(array((0 until nBands).map { b =>
            struct(lit(b).as("band"),
              shiftright(col("sig"), b * bandBits)
                .bitwiseAND(lit((1L << bandBits) - 1)).as("key"))
          }: _*)).as("bk"))
        .select(col("vec_id"), col("embedding"), col("bucket"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      val ev = banded.select(col("band"), col("key"),
        col("vec_id").as("eval_id"), col("embedding").as("ee"),
        col("bucket").as("eb"))
      val tr = banded.select(col("band"), col("key"),
        col("vec_id").as("train_id"), col("embedding").as("te"),
        col("bucket").as("tb"))
      ev.join(tr, Seq("band", "key"))
        .filter(col("eb") >= 90 && col("tb") < 80)
        .select(col("eval_id"), col("train_id"),
          cosineSim(col("ee"), col("te")).as("cos"))
        .filter(col("cos") >= 0.3)
        .select(col("eval_id"), col("train_id"),
          round(col("cos"), 4).as("cosine"))
        .distinct()
    }),

    // LSH-bucketed ANN (scale path): 12 deterministic random hyperplanes →
    // 12-bit bucket signature; same-bucket collisions are the candidate
    // pairs. Oracle: the identical integer-mix plane weights + sign-bit
    // bucket re-expressed in DuckDB SQL (regression-protects the
    // HyperplaneBucketExpr codegen).
    "q37_ann_lsh_buckets" -> ((s, dir) => {
      val nPlanes = 12
      val e = emb(s, dir)
      val sig = HyperplaneBucket.bucket(col("embedding"),
        (0 until nPlanes).map(planeWeights(_, Dim)))
      val bucketed = e.select(col("vec_id"), col("embedding"),
        sig.as("bucket"))
      val a = bucketed.select(col("bucket"), col("vec_id").as("vec_a"),
        col("embedding").as("ea"))
      val b = bucketed.select(col("bucket"), col("vec_id").as("vec_b"),
        col("embedding").as("eb"))
      a.join(b, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
        .select(col("bucket"), col("vec_a"), col("vec_b"),
          round(cosineSim(col("ea"), col("eb")), 4).as("cosine"))
    }),

    // IVF ANN (the other scale path): deterministic coarse quantizer —
    // seeds are the k lowest-vec_id vectors, refined by 3 Lloyd iterations
    // (assignment via the fused NearestCentroid codegen expression; the
    // element-wise means are rounded to 6 decimals on BOTH engines so
    // float-summation order can't perturb the centroids). Probes search
    // only their own cell. At 100 TB the centroid matrix is tiny driver
    // state (k × dim doubles), assignment is one narrow codegen'd pass,
    // and candidate generation shuffles on cell id instead of exploding n².
    "q39_ann_ivf" -> ((s, dir) => {
      val k = 8
      val iters = 3
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = lloydCentroids(s, dir, k, iters)
      val assigned = e.select(col("vec_id"), col("embedding"),
        NearestCentroid.cell(col("embedding"), cents).as("cell"))
      val probes = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("cell"))
      val cands = assigned.select(col("vec_id").as("cid"),
        col("embedding").as("ce"), col("cell"))
      // k-bounded heap instead of a per-probe window sort: ≤5 entries per
      // probe cross the shuffle regardless of cell population
      cands.join(broadcast(probes), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          cosineSim(col("qe"), col("ce")).as("cos"))
        .transform(ranked(_, col("cos"), 5, "cosine"))
    }),

    // Metadata-FILTERED ANN — the production vector-search shape: every
    // retrieval carries a predicate (tenant, language, license, label;
    // cf. FAISS IDSelector, Milvus/Vespa filtered search), here "retrieve
    // within the probe's own label class". The filter composes into the
    // INDEX probe as an extra equi-join key beside the cell, so filtered
    // candidates are cut on the shuffle key BEFORE any distance math —
    // never scored-then-discarded. Because a selective predicate thins
    // every cell (~1/8 here: 8 uniform labels), single-cell probing
    // starves recall; the standard remedy is a larger nprobe (=3, ranked
    // by the q97 cell-ranking spelling — the ranking struct lives in the
    // generator, per probe, lint-clean). Cells come from the SHARED
    // coarse quantizer artifact (q39/q79/q97 — zero extra training).
    // AnnRecallSpec measures recall@5 against label-filtered brute force.
    "q134_ann_filtered" -> ((s, dir) => {
      val k = 8
      val iters = 3
      val nprobe = 3
      val e = emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
      val cents = lloydCentroids(s, dir, k, iters)
      val assigned = e.select(col("vec_id"), col("embedding"), col("label"),
        NearestCentroid.cell(col("embedding"), cents).as("cell"))
      // DRIVER TIER (r18, q97-family precedent): the nprobe cell ranking
      // is a pure function of the ≤10 collected probes (vec_id < 10 —
      // bounded by contract at any scale) and the driver-resident
      // centroids; [[nearestCellsLocal]] mirrors the retired
      // array_sort(struct(d, cell)) spelling bit-for-bit (AnnRecallSpec),
      // replacing a second corpus scan + a k×Dim literal expression tree
      // with one tiny collect and a local relation.
      val probeRows = collectProbesWithLabel(e)
      import s.implicits._
      val probes = probeRows.toSeq.flatMap { case (qid, qe, lbl) =>
        nearestCellsLocal(qe, cents, nprobe).map(cell => (qid, qe, lbl, cell))
      }.toDF("qid", "qe", "label", "cell")
      val cands = assigned.select(col("vec_id").as("cid"),
        col("embedding").as("ce"), col("label"), col("cell"))
      cands.join(broadcast(probes), Seq("cell", "label"))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          cosineSim(col("qe"), col("ce")).as("cos"))
        .transform(ranked(_, col("cos"), 5, "cosine"))
    }),

    // Hard-negative mining — the contrastive-training prep step
    // (embedding-model / retriever training wants, per anchor, the MOST
    // similar items that are NOT duplicates; random negatives — q115 —
    // are too easy, cf. DPR/ANCE hard-negative sampling): candidates
    // come from the SHARED IVF artifact at nprobe=3 (per-anchor cost ∝
    // probed-cell population, never the corpus), near-duplicates are
    // excluded by q36's corpus-calibrated threshold (cos ≥ 0.3 = the
    // gated near-dup semantics — a "negative" that's secretly a positive
    // poisons the loss), and the top-8 survivors per anchor cross the
    // shuffle through the k-bounded heap. The raw-cosine threshold cut
    // is engine-stable because both kernels are bit-identical (q35
    // parity); output rounds once at the gate boundary.
    "q135_hard_negatives" -> ((s, dir) => {
      val k = 8
      val iters = 3
      val nprobe = 3
      val negK = 8
      val posThr = 0.3
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val cents = lloydCentroids(s, dir, k, iters)
      val assigned = e.select(col("vec_id"), col("embedding"),
        NearestCentroid.cell(col("embedding"), cents).as("cell"))
      // DRIVER TIER (r18, q97-family precedent): nprobe cell ranking over
      // the ≤10 collected probes — see q134's comment.
      import s.implicits._
      val probes = collectProbes(e).toSeq.flatMap { case (qid, qe) =>
        nearestCellsLocal(qe, cents, nprobe).map(cell => (qid, qe, cell))
      }.toDF("qid", "qe", "cell")
      val cands = assigned.select(col("vec_id").as("cid"),
        col("embedding").as("ce"), col("cell"))
      cands.join(broadcast(probes), Seq("cell"))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          cosineSim(col("qe"), col("ce")).as("cos"))
        .filter(col("cos") < lit(posThr))
        .transform(ranked(_, col("cos"), negK, "cosine"))
    }),

    // IVF-PQ (Jégou, Douze, Schmid 2011, "Product Quantization for
    // Nearest Neighbor Search" — the IVFADC structure, by_residual
    // disabled): the coarse IVF quantizer (SHARED artifact with q39/q79)
    // restricts candidates to the probe's nprobe=2 nearest cells; within
    // them, candidates are scored from their PQ codes alone via
    // asymmetric distance computation. Each vector is encoded ONCE as
    // M=16 4-bit codes (one narrow codegen'd pass — 256 B of floats
    // become one 64-bit word, the compression that lets a 100 TB
    // corpus's index fit in executor memory); each probe precomputes its
    // M×K lookup table of subspace distances (one 256-entry LUT per
    // probe, built in the broadcast-side projection, never per pair);
    // per-pair work is then 16 array lookups + 15 adds in FIXED
    // association order — no
    // aggregation, no 64-dim arithmetic on the hot path. Codebooks are
    // per-subspace deterministic Lloyd (identical seed/round rules to
    // q39's quantizer) so DuckDB re-derives them exactly.
    // GATE is slice-bounded to [[IvfPqGateSlice]] vectors (the q121/q122
    // Slice=600 precedent): the machinery under test — bounded-sample
    // training, fused encode, LUT probing — is scale-invariant, and the
    // slice keeps BOTH engines' gate cost flat at any SF (the oracle
    // replays the full Lloyd chain in SQL; unsliced it retrains over the
    // whole corpus and dominates the DuckDB suite, r12 verdict item 5).
    // Full-corpus scaling stays measured: ScaleStress drives
    // [[ivfPqTop5]]/[[ivfPqRerank]] with maxVec = MaxValue.
    "q97_ann_ivfpq" -> ((s, dir) => ivfPqTop5(s, dir, IvfPqGateSlice)),

    // IVF-PQ with RESIDUAL encoding (Jégou et al. 2011 §IV.B — FAISS's
    // by_residual=true DEFAULT, the one rung q97 left out): each vector
    // is PQ-encoded as (x − centroid(cell)) instead of raw x, so the
    // codebooks spend their 2^bits resolution on the WITHIN-cell spread
    // rather than re-describing the coarse structure the cell id already
    // carries; at query time the LUT becomes per (probe, PROBED CELL) —
    // ||(q − c_cell)_sub − codebook[sub][code]||² — which is why the LUT
    // projection sits ABOVE the nprobe explode here (it genuinely depends
    // on the generator output; the lint's carried-column test stays
    // clean). Residuals are float-cast in BOTH engines (the q132 rotated-
    // corpus precedent), training/encoding rides the standing pqCodebooks
    // / PqExpr machinery via the src override, and the coarse artifact is
    // SHARED with q39/q97. AnnRecallSpec measures the by_residual claim
    // where it matters — on the planted-cluster fixture (8 Gaussian
    // clusters, center scale ≫ σ) residual ADC recall@5 = 0.42 vs plain
    // ADC 0.28 (and the gap widens with center scale: plain quantizes at
    // the center scale, residual at σ); on the near-uniform corpus the
    // two coincide (0.38), as the theory predicts.
    "q136_ann_ivfpq_residual" -> ((s, dir) =>
      ivfPqResidualTop5(s, dir, IvfPqGateSlice)),

    // Sharded ANN store (the q125 postings-store recipe on the vector
    // index): IVF-PQ codes round-trip through a CELL-partitioned parquet
    // store; serving reads ONLY the probed cells' directories — the
    // partition-pruned-serve property a 100 TB vector index lives on.
    // Output ≡ q97 (integers round-trip exactly; same ADC arithmetic),
    // and the oracle IS q97's SQL — the store moves bytes, not answers.
    "q137_ann_sharded_store" -> ((s, dir) => annShardedStoreServe(s, dir)),

    // STREAMING vector-store ingest end state (the vector-index twin of
    // the q100 streaming dedup gate — the one index family whose store
    // had only a batch path): Structured Streaming AvailableNow
    // micro-batches assign+encode against FROZEN artifacts trained on
    // the standing slice and append `batch=<id>/cell=<c>/` store dirs
    // (deterministic subdir + overwrite ⇒ replay-idempotent under
    // foreachBatch's at-least-once contract); the gate serves the q137
    // probe over the multi-batch end state, partition-pruned and
    // self-verified. Assignment and encoding are per-row, so the end
    // state ≡ one-shot encode with the same frozen artifacts — the
    // oracle replays the chain with training CTEs restricted to the
    // standing slice (trainWhere) and encode/serve over the full slice.
    "q144_vector_store_ingest_endstate" -> ((s, dir) =>
      vectorStoreIngestServe(s, dir)),

    // DRIFT-RETRAIN lifecycle end state — the deployment half q144
    // deliberately freezes: streaming micro-batches are SCORED for
    // distribution drift on arrival; an in-distribution batch appends
    // under the frozen artifacts, a drifted one (planted: corpus
    // vectors ×3) retrains quantizer + codebooks on store ∪ batch and
    // re-encodes the store into a new epoch, which then serves. Output
    // carries the per-batch ratios and retrain flags alongside the
    // final-epoch ADC serve; the oracle replays all three candidate
    // chains and DERIVES both decisions, so wrong-time retraining
    // hash-mismatches rather than just flipping a flag.
    "q150_drift_retrain_endstate" -> ((s, dir) => driftRetrainServe(s, dir)),

    // ANISOTROPIC (score-aware) product quantization for MIPS — ScaNN's
    // quantizer rung (Guo et al. ICML'20), the last named member of the
    // ANN ladder: codeword assignment AND the closed-form centroid
    // update weight the residual component PARALLEL to the datapoint by
    // eta (parallel error biases inner-product estimates of high-scoring
    // pairs; orthogonal error averages out over query directions).
    // Serve = inner-product ADC (lut[m][c] = ⟨q_m, cent⟩), top-5 by
    // score. The oracle replays the ENTIRE chain — anisotropic-loss
    // assignments and the per-(sub, cell) 4×4 Cramer solves, generated
    // in the same canonical Leibniz term order the driver evaluates, so
    // every centroid is bit-identical. Recall claim measured where it
    // matters (AnnRecallSpec clustered fixture: eta=4 beats plain-PQ
    // MIPS recall; on the isotropic corpus anisotropy trades recall
    // away — the published theory's premise, documented, eta=1 IS plain).
    "q145_ann_pq_anisotropic" -> ((s, dir) =>
      anisoPqTop5(s, dir, AnisoEta)),

    // The FULL ScaNN stack (Guo et al. §5): IVF partition (nprobe
    // cells, q97's quantizer artifact shared) → anisotropic-PQ IP-ADC
    // over the probed cells (q145's codebooks shared) → exact
    // inner-product re-rank of the ADC top-R (the q123 discipline at
    // MIPS scoring). Proves the "composes with the IVF machinery" claim
    // the q145 docs make — partition, score-aware quantize, rescore,
    // end to end in one gated plan; the oracle replays coarse chain +
    // aniso chain + restricted ADC + rerank in CTEs.
    "q146_ann_scann_stack" -> ((s, dir) => scannStackTop5(s, dir)),

    // SOAR spill-2 indexing (Sun et al. NeurIPS'23 — ScaNN's follow-up;
    // r15 verdict item 7): the q146 stack with every vector ALSO
    // assigned to the spill cell minimizing the orthogonality-amplified
    // loss ‖r'‖² + λ·(r'·r̂₁)², so a query aligned with the first
    // residual (the worst case for the first copy's quantized score)
    // finds the point through the decorrelated second copy. Probe cost
    // unchanged (same nprobe cells); AnnRecallSpec measures the recall
    // delta vs single assignment at equal probe cost.
    "q159_ann_soar" -> ((s, dir) => soarStackTop5(s, dir)),

    // RaBitQ-style BINARY quantization with an exact re-rank tail (Gao
    // & Long, SIGMOD'24 — r16 verdict item 8: the 1-bit/dim quantization
    // tier production serving stacks are moving to, beside SQ8 (8
    // bit/dim, q105/q152) and PQ (2 bit/dim here, q97)). Vectors are
    // CENTERED on the corpus centroid and the residual's SIGN BITS are
    // the whole code — 64 bits/vector, 32× less than raw float — plus
    // two scalars (residual norm, ⟨ō, x̄⟩ = Σ|ō_i|/√D). The paper's
    // UNBIASED estimator ⟨ō, q̄⟩ ≈ ⟨x̄, q̄⟩ / ⟨ō, x̄⟩ ranks the corpus
    // per probe (this is the deterministic rotation-free variant: the
    // paper's random rotation sharpens worst-case bounds but the
    // estimator algebra is unchanged, and determinism is what makes the
    // gate oracle-replayable); the top-R survivors re-rank on raw
    // cosine (the q123 discipline). AnnRecallSpec measures recall per
    // code byte against SQ8 — the recall-vs-bytes trade this tier
    // exists for. Scale shape: the estimator pass is one broadcast
    // probe join over sign arrays (bit-parallel on a real serving tier;
    // bounded candidate heap per probe), the re-rank touches R·|probes|
    // raw rows — never n² and never a second corpus shuffle.
    "q163_ann_rabitq" -> ((s, dir) => rabitqRerank(s, dir)),

    // MATRYOSHKA adaptive retrieval (Kusupati et al. NeurIPS'22): score
    // on the first 16 dims (25% of the bandwidth — what truncatable
    // embeddings are FOR), exact-rerank the top-R funnel at full dimension.
    // UNBOUNDED like q35 (no id-range crutch); both stages are the
    // proven cosine kernel pair, so the whole chain is oracle-replayed.
    "q147_ann_matryoshka" -> ((s, dir) => matryoshkaTop5(s, dir)),

    // MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein
    // SIGIR'98 — diversity-aware picking for few-shot example selection
    // and dataset-diversity curation): greedily select k items
    // maximizing λ·rel − (1−λ)·max-sim-to-selected; the q116 FPS greedy
    // discipline (k driver argmax steps, selected set as broadcast
    // literals, strict (score DESC, vec_id) tie rule), exactly unrolled
    // in the oracle's CTE chain. λ=1 degenerates to relevance top-k —
    // asserted in-spec; the diversity property (selections spread across
    // planted clusters where pure relevance stays in the query's own) is
    // pinned on the clustered fixture.
    "q148_mmr_select" -> ((s, dir) => mmrSelect(s, dir)),

    // FUNNEL-COMPOSED MMR (the serving shape): q147's truncated-dim
    // first stage cuts the corpus to the query's top-R, q148's greedy
    // reranks only the funnel — per-step cost O(R) driver flops, zero
    // jobs; the sole corpus-sized pass is the 16-dim stage-1 scan. The
    // corpus-wide q148 (curation shape) stays gated unchanged.
    "q151_mmr_funnel" -> ((s, dir) => mmrFunnelSelect(s, dir)),

    // INT8 (SQ8) storage tier in the cell-partitioned store: codes +
    // per-vector scale under cell= dirs (4× fewer serve bytes/candidate),
    // partition-pruned int8-cosine top-R, exact fp re-rank of the R
    // survivors from the raw tier. Touched-vs-total bytes measured.
    "q152_ann_sq8_store" -> ((s, dir) => sq8StoreServe(s, dir)),

    // FILTERED serving through the store: label + cell as partition
    // columns — the metadata predicate cuts at the FILE level before any
    // distance math; filtered-search cost tracks the label's population,
    // not the corpus. Exact cosine over the doubly-pruned candidates.
    "q153_ann_filtered_store" -> ((s, dir) => filteredStoreServe(s, dir)),

    // DiskANN/Vamana ROBUST PRUNE (r15 verdict item 2 — §4 Algorithm 2,
    // the α-RNG edge selection): candidate lists (top-NnBuildK of the
    // q126 build recipe) pruned to NnK edges per node by the greedy
    // take-closest-then-discard-dominated rule (c dominated by selected
    // s when α·(1−cos(s,c)) ≤ (1−cos(u,c)), α = 1.25 exact-binary). At
    // EQUAL degree the α-diverse edges hold beam recall where the plain
    // k-cut's redundant short edges decay it as n grows —
    // GraphBuildProbe measures exactly that (0.400 vs 0.345 at 100×).
    // The gate corpus PLANTS exact twins (ids < TwinCount re-keyed past
    // GraphGateSlice, identical float vectors — the q103
    // make-it-load-bearing rule): the lake's near-uniform 64-dim salad
    // never fires the domination test (every inter-candidate distance ≈
    // every query distance), so without the twins the oracle would only
    // pin the degenerate top-R path; with them, a node whose list holds
    // both members of a twin pair MUST drop the second (d(s, twin) = 0),
    // and the output degree distribution proves domination ran. rnk is
    // the greedy selection order. The prune is one candidate-pair kernel
    // pass + NnK unrolled argmax/anti-join rounds, all keyed on vec_id —
    // no driver state. Oracle: the same planted chain + the same greedy,
    // unrolled in CTEs.
    "q157_graph_alpha_prune" -> ((s, dir) => {
      val eP = pruneGateCorpus(s, dir)
      val cand = graft.operators.NnDescent.knnGraph(eP, NnBuildK, NnIters)
      graft.operators.NnDescent
        .robustPrune(cand, eP, NnK, PruneAlpha)
        .select(col("vec_id"), col("nid"),
          round(col("cos"), 4).as("cosine"), col("rnk"))
    }),

    // DiskANN/Vamana-shape SHARDED GRAPH STORE (the r13 stretch item):
    // q131's incremental ingest composed with q137's partitioned
    // persistence — the END-STATE graph's adjacency AND vectors
    // round-trip through id-range-sharded parquet, and beam search runs
    // FROM THE FILES, each hop reading only the shards the frontier
    // names (floor(id/W) — DiskANN's id→block address step, pure driver
    // arithmetic over bounded navigation state). Serving ≡ in-memory
    // graphSearch over the same graph (AnnRecallSpec asserts in-engine);
    // the oracle replays ingest chain + beam descent in CTEs — the
    // store round-trip changes WHERE bytes live, never what they say
    // (the q137 argument, now for the graph tier). Serve-bytes fraction
    // recorded per serve in [[lastGraphServeBytes]].
    "q141_graph_sharded_store" -> ((s, dir) =>
      graphShardedStoreServe(s, dir)),

    // DISTRIBUTED BATCH SERVE over the q141 graph store (r15 verdict
    // item 3 — the driver-tier GraphServeSession is the interactive
    // frontend; a 10³-probe batch belongs on executors): the same
    // store, the same navigation, but the probe wave is 1024 queries
    // through the forced-distributed loop — one probe broadcast,
    // Θ(probes·hops·beam·degree) kernel work on executors, every hop's
    // reads partition-pruned to the frontier's shards (self-verified).
    // At the gate SF the wave is corpus-bounded (500 probes — 50× the
    // q141 wave); GraphServeProbe runs the full 10³+ waves at scale and
    // pins wall ∝ probes, flat in corpus size.
    "q158_graph_batch_serve" -> ((s, dir) => graphBatchServe(s, dir)),

    // ENTRY-DISCIPLINED batch graph serve (the r16 item-3 arc, closed
    // with measurements): q158's store and per-hop navigation, but
    // each probe's descent starts from its SINGLE best entry seed
    // (DiskANN's shape, bm0 cut = 1) and the wave serves as
    // cell-grouped concurrent sub-waves. GraphServeProbe measures the
    // trade: per-group touched-shard fraction STAYS ~100% even
    // entry-disciplined (degree-8 × NnHops fan-out covers every cell
    // of these stores within two hops — locality needs graph-aware
    // sharding, not entry discipline), while top-5 agreement with the
    // all-seed navigation reads 0.88/0.70/0.61 at 1×/10×/30× — the
    // recall cost of the cheaper descent, which is why this ships as
    // its own gate beside q158 rather than replacing it. Oracle:
    // q158's chain with the descent's bm0 cut at 1.
    "q165_graph_entry_serve" -> ((s, dir) => graphEntryServe(s, dir)),

    // RECIPROCAL-RANK-FUSION hybrid retrieval (Cormack, Clarke &
    // Büttcher SIGIR'09 — the fusion production RAG/retrieval stacks
    // run between a lexical and a vector index; rank-only, so no score
    // calibration between BM25 micro-units and cosines is needed):
    // lexical arm = the gated q119 BM25 ranking itself
    // (IndexOps.bm25TopK — same probes, same top-10), semantic arm =
    // the q39 IVF cell search restricted to the SAME probe set, fused
    // as rrf = 1/(60+r_lex) + 1/(60+r_sem) with an absent arm
    // contributing 0 (the paper's k=60). Cross-engine exact: ranks are
    // integers, each term is one correctly-rounded IEEE division, the
    // sum is two terms in fixed lex+sem order. Scale: both arms are
    // already-gated scale paths; fusion itself joins two
    // ≤ probes·10-row relations — bounded at any corpus size.
    "q167_hybrid_rrf" -> ((s, dir) => hybridRrf(s, dir)),

    // IVF-PQ with an exact RE-RANK tail (r9 verdict item 8 — the
    // standard production shape: ADC is a cheap, lossy filter whose
    // top-R survivors are re-scored against the RAW vectors, recovering
    // near-exact top-k at R·d instead of n·d exact work per probe). The
    // candidate cut rides the k-bounded heap (≤ R rows per probe cross
    // the shuffle); the re-score joins the R·|probes| broadcast
    // candidate list back to the corpus — ONE narrow pass, no n² —
    // then a second heap takes the exact-cosine top-5. Recall vs brute
    // force is the measured property (AnnRecallSpec: ≥ 0.9 floor;
    // measured 0.96 at sf0.001 AND sf0.01 at nprobe=6, vs 0.34–0.42 for
    // raw ADC@5 — tools/RecallProbe). The OUTPUT is nonetheless fully
    // deterministic given the chain, so it IS oracle-gated (r10 verdict
    // item 1): the DuckDB side replays the whole chain — q97's
    // codebook/ADC CTEs at nprobe=6, the adc-asc/cid top-64 cut, then
    // the exact-cosine top-5 over the raw vectors
    // ([[ivfPqRerankOracleSql]]). The re-rank heap scores RAW cosine
    // (the q35 spelling — CosineSimilarityExpr ≡ list_cosine_similarity
    // is the proven kernel pair) rounded ONCE at emission; round-6 into
    // the heap then round-4 out would park values on the round-4 half
    // boundary where the engines' rounding disagrees (the q79 lesson).
    // Slice-bounded gate like q97 (see there); full-corpus scaling is
    // measured through [[ivfPqRerank]] at maxVec = MaxValue.
    "q123_ann_ivfpq_rerank" ->
      ((s, dir) => ivfPqRerank(s, dir, IvfPqGateSlice)),

    // Approximate k-NN GRAPH via NN-Descent (Dong et al. WWW'11 — the
    // r10 stretch item's graph-index tier: the base layer every
    // HNSW/NSG-family search walks IS a k-NN graph, and NN-Descent is
    // its standard distributed construction — the paper's local join is
    // a self-join, MapReduce-shaped). Slice-bounded gate (the q121
    // precedent): the machinery — LCG-deterministic init, capped reverse
    // sampling, local-join candidates, kernel scoring, k-heap — is
    // scale-invariant; build cost Θ(iters·n·k²), never all-pairs. The
    // whole 3-iteration chain is a pure integer+IEEE function, so the
    // oracle unrolls it into DuckDB CTEs (the q97 PQ-chain recipe);
    // graph QUALITY (recall of true neighbors) is AnnRecallSpec's gate.
    "q126_knn_graph_nndescent" -> ((s, dir) => {
      cachedNnGraph(s, dir)
        .transform(ranked(_, col("cos"), NnK, "cosine",
          key = Seq("vec_id"), payload = "nid"))
    }),

    // Greedy beam SEARCH over the q126 graph — the serving tier the
    // graph exists for (HNSW/NSG-style navigation as bounded
    // breadth-first expansion): fixed seeds, `hops` rounds of
    // adjacency-expand → kernel-score → beam cut, then top-5. Per-query
    // cost Θ(hops·beam·degree), INDEPENDENT of corpus size — that is
    // the graph-search contract (brute force pays n·d per query; IVF
    // pays cell sizes). Same probes as q35, so AnnRecallSpec measures
    // search recall against the brute-force truth directly; the oracle
    // unrolls build chain + all hops (MATERIALIZED CTEs).
    "q127_graph_ann_search" -> ((s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < GraphGateSlice)
        .select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.operators.NnDescent.graphSearch(cachedNnGraph(s, dir), e, qs,
        beam = NnBeam, hops = NnHops, seeds = NnSeeds, topk = 5)
    }),

    // HNSW-style LAYERED graph search (Malkov & Yashunin 2016 — the
    // full hierarchy over q126/q127's flat tier): deterministic LCG
    // level draw (p = 1/4, nested), a lean NN-Descent graph per upper
    // layer (build-once artifacts like the layer-0 graph), search
    // descends top layer → exits seed the next layer → layer-0 beam.
    // The WIN over q127: entry points are query-aware, so the layer-0
    // walk runs one hop SHORTER (3 vs 4) at the same measured 1.000
    // recall@5 — and the hop count a big corpus needs stays bounded by
    // the log-depth hierarchy instead of growing with graph diameter.
    // Every stage is the proven deterministic machinery (LCG keys,
    // kernel cosines, (cos desc, id asc) cuts), so the WHOLE descent
    // unrolls into DuckDB CTEs ([[hnswOracleSql]]) — three prefixed
    // build chains + three beam descents, the q127 recipe iterated.
    "q130_hnsw_layered_search" -> ((s, dir) => hnswLayeredSearch(s, dir, GraphGateSlice)),

    // INCREMENTAL graph maintenance (the graph tier's ingest twin —
    // postings, IVF assignments, MinHash signatures, and PCA moments all
    // have batch-append paths; the k-NN graph now does too): build the
    // standing graph on the store slice, then INSERT the batch via
    // HNSW-style search-based linking ([[graft.operators.NnDescent
    // .insertBatch]]): per-batch cost independent of store size. The
    // gate checks the END-STATE adjacency of store ∪ batch (the q121/q89
    // lifecycle recipe); the oracle unrolls build chain + batch descent
    // + back-link fold in DuckDB CTEs.
    "q131_graph_ingest_endstate" -> ((s, dir) => {
      cachedEndStateGraph(s, dir, GraphGateSlice, 450L)
        .transform(ranked(_, col("cos"), NnK, "cosine",
          key = Seq("vec_id"), payload = "nid"))
    }),

    // OPQ-style ROTATED product quantization (Ge et al. CVPR'13 /
    // Jégou's FAISS OPQ matrix, PCA flavor — the last rung of the ANN
    // ladder: decorrelate the space before splitting it into PQ
    // subspaces): rotate by the full-rank PCA basis (an ORTHOGONAL
    // transform — L2 distances are preserved exactly, so rotated-space
    // PQ approximates the same nearest neighbors), train codebooks and
    // encode IN the rotated space with the standing PQ machinery
    // (pqCodebooks src override + the codegen'd PqExpr, unchanged),
    // full-scan ADC → top-64 → exact-L2 re-rank in the ORIGINAL space.
    // Gate = verification device (the q108 precedent — the driver
    // eigensolve is not SQL-expressible): the Spark side COMPUTES
    // rotation isometry (Σ p_j² ≡ ‖v−μ‖², the full-rank capture
    // identity) and per-probe recall vs the exact-L2 top-5, and emits
    // them as booleans the oracle pins to true; the quantitative claims
    // (recall floor, rotated-MSE ≤ plain-PQ MSE) live in AnnRecallSpec.
    // Scale shape: rotation is one codegen'd linear pass (the q108
    // expression), training is bounded-sample, encode is the same
    // narrow pass q97 runs; IVF composition for corpus-scale search is
    // exactly q97's dimension and composes unchanged.
    "q132_opq_rotated_pq" -> ((s, dir) => {
      val sliceMax = GraphGateSlice
      val e = emb(s, dir).filter(col("vec_id") < sliceMax)
        .select(col("vec_id"), col("embedding"))
      val rot = opqRotatedCorpus(s, dir, sliceMax)
      val isoOk = rot.agg(bool_and(
        abs(col("p_sq") - col("c_sq")) <= lit(1e-9) * (col("c_sq") + lit(1.0)))
        .as("iso_ok"))
      val pq = pqCodebooks(s, dir, PqM, PqK, PqIters, maxVec = sliceMax,
        src = Some(rot.select(col("vec_id"), col("embedding"))),
        srcTag = "opq")
      val enc = rot.select(col("vec_id"),
        org.apache.spark.sql.graft.PqExpr.encode(col("embedding"), pq)
          .as("codes"))
      // the ADC LUT over the ROTATED probes ([[probeLuts]])
      val lut = probeLuts(s, collectProbes(rot.select(col("vec_id"),
        col("embedding"))))((qe, _) => pqLutLocal(qe, pq))
      val adcTop = enc.crossJoin(broadcast(lut))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          org.apache.spark.sql.graft.PqExpr.adc(col("codes"), col("lut"))
            .as("adc"))
        .transform(topIds(_, negate(col("adc")) + lit(0.0), 64))
      // the truth-side probes as a ≤10-row local relation (one collect,
      // pushed-filter scan) instead of a second scan + broadcast build
      import s.implicits._
      val probes0 = collectProbes(e).toSeq.toDF("qid", "qe0")
      // ONE exact-L2 pass serves BOTH the ground truth and the re-rank
      // (r18, guide §1.2.1): d2 is computed once per (probe, corpus) pair;
      // the ADC-candidate re-rank is the SAME top-5 restricted to adcTop
      // rows (TopKByScore skips null scores, so the when() restriction is
      // exactly the old candidate-only aggregation — same tie-break, same
      // -0.0 normalization), and the recall overlap is an array_intersect
      // per probe instead of a join of two separately aggregated branches.
      // The r17 spelling ran rr5/truth5/hits as three branch subtrees:
      // two d2 evaluations per candidate pair and ~5 extra dispatch jobs.
      val tops = e.crossJoin(broadcast(probes0))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          sqL2(col("qe0"), col("embedding")).as("d2"))
        .join(broadcast(adcTop.withColumn("in_cand", lit(true))),
          Seq("qid", "cid"), "left")
        .groupBy("qid")
        .agg(
          org.apache.spark.sql.graft.TopKByScore
            .columnFor(negate(col("d2")) + lit(0.0), col("cid"), 5)
            .as("truth"),
          org.apache.spark.sql.graft.TopKByScore
            .columnFor(when(col("in_cand"), negate(col("d2")) + lit(0.0)),
              col("cid"), 5).as("rr"))
      val hits = tops.select(col("qid"),
        size(array_intersect(
          transform(col("truth"), t => t.getField("payload")),
          transform(col("rr"), t => t.getField("payload"))))
          .cast("long").as("nhit"))
      probes0.select(col("qid"))
        .join(hits, Seq("qid"), "left")
        .crossJoin(broadcast(isoOk))
        .select(col("qid"), lit(5).as("k"),
          (coalesce(col("nhit"), lit(0L)) >= 3).as("recall_ok"),
          col("iso_ok"))
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    // space with the IVF coarse quantizer, then within each cluster keep
    // only the vector closest to its centroid (max cosine, ties to the
    // lowest vec_id) — the cluster's semantic representative; everything
    // else in the cell is a semantic duplicate candidate. Keeper selection
    // is a map-side-combinable groupBy(cell).min(struct(-cos, vec_id)) —
    // NOT a window over the k-valued cell key, which would sort each
    // cluster's full population in one task (the exact low-cardinality
    // scale-killer q49 r4 had). Cosine runs in full double precision (the
    // centroid side is array<double>); selection compares the 6-decimal
    // rounding so libm ulp drift can't flip keepers across engines.
    "q79_semantic_dedup" -> ((s, dir) => {
      // cos is rounded ONCE per use site — round(round(x, 6), 4) would park
      // values exactly on the round-4 half boundary, where Spark's decimal
      // HALF_UP and DuckDB's scaled-FP rounding disagree (measured: vec 75,
      // cos6 = 0.29205 → 0.2921 vs 0.292)
      val scored = centroidCosines(s, dir, 8, 3)
      // `+ 0.0` normalizes a negated zero: Spark's total double ordering has
      // -0.0 < 0.0 while the DuckDB oracle's ORDER BY treats them equal, so
      // a cell whose max rounded cosine straddles ±0.0 could otherwise pick
      // different keepers across engines
      val keepers = scored.groupBy("cell")
        .agg(min(struct((negate(round(col("cos"), 6)) + lit(0.0)).as("nc"),
          col("vec_id").as("vid"))).as("kk"))
        .select(col("cell"), col("kk.vid").as("keep_id"))
      scored.join(broadcast(keepers), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          round(col("cos"), 4).as("cos_centroid"),
          (col("vec_id") === col("keep_id")).as("keep"))
    }),

    // PCA projection of the embedding corpus (the standard pre-ANN
    // decorrelation/reduction step — PCA before IVF/PQ, cf. OPQ). The
    // basis is fitted by graft.operators.Pca: ONE aggregation pass over
    // exact DECIMAL moments (bit-stable under any partitioning — the
    // mean4of6 discipline applied to linear algebra) + a deterministic
    // driver-side Jacobi eigensolve of the 64×64 covariance (4 KB of
    // state, the IVF-codebook tier), cached per (session, dir) as the
    // persisted artifact a deployment trains once. The per-row projection
    // is a literal-coefficient linear form (codegen'd, zero shuffles).
    // The gate emits invariants that hold by CONSTRUCTION with wide
    // margins — Bessel's inequality per row (||P(x−μ)||² ≤ ||x−μ||²) and
    // the sorted-spectrum share (top-k eigenvalues capture ≥ k/d of the
    // trace) — so the oracle is the verification device (q44 precedent);
    // the real numerics (orthonormality, spectrum ordering, planted-
    // direction recovery, reference-eigensolve agreement) live in PcaSpec.
    "q108_pca_project" -> ((s, dir) => {
      val k = 16
      val basis = pcaBasis(s, dir, k)
      // one fused pass: [p_0..p_{k-1}, cSq] per row (PcaProjectExpr; the
      // literal-tree spelling recompiled ~2100 codegen nodes per fit —
      // r9 verdict item 3's measured gap); values are bit-identical
      val pc = emb(s, dir).select(col("vec_id"), col("label"),
        graft.operators.Pca.projectAll(basis, "embedding").as("pc"))
      val projSq = (0 until k).map(j => col("pc")(j) * col("pc")(j))
        .reduceLeft(_ + _)
      pc.select(
        col("vec_id"), col("label"), lit(k).as("k"),
        (projSq <= col("pc")(k) * lit(1.0 + 1e-9) + lit(1e-9)).as("norm_ok"),
        lit(basis.captured >= k.toDouble / Dim - 1e-12).as("capture_ok"))
    }),

    // Incremental PCA — the moment store (q108's artifact made
    // incremental, the signature-store pattern applied to linear
    // algebra): per-batch exact-DECIMAL sufficient statistics merge
    // associatively, so refreshing the basis after an ingest batch needs
    // ONE pass over the new batch plus a 35 KB driver merge — never a
    // rescan of history — and the merged fit is BIT-IDENTICAL to a full
    // recompute (decimal adds are exact; asserted here, not argued: the
    // gate computes both and compares every mean/eigenvalue/component
    // bitwise). Batches are vec_id mod 3 slices of one lake here; a
    // deployment persists each batch's Moments beside its parquet. The
    // builder runs 4 bounded moment aggregations (the lifecycle under
    // test — q89 precedent); the emitted frame is one tiny group-by.
    "q112_pca_incremental" -> ((s, dir) => {
      import graft.operators.Pca
      val k = 16
      val e = emb(s, dir)
      // all 3 batch moment states from ONE grouped aggregation (was 3
      // separate scans; the dispatch floor dominated them — r10 verdict
      // item 5). The artifacts are unchanged: groupBy(pmod 3) partitions
      // the corpus into exactly the batch slices, and per-group decimal
      // sums are the same per-value-rounded adds, bit for bit.
      val byBatch = Pca.momentsBy(e, "embedding", Dim,
        pmod(col("vec_id"), lit(3)))
      val batchMoments = (0 until 3).map(byBatch)
      val merged = batchMoments.reduce(Pca.merge)
      val full = Pca.moments(e, "embedding", Dim)
      val momEq = merged.n == full.n &&
        merged.s.zip(full.s).forall { case (a, b) => a.compareTo(b) == 0 } &&
        merged.m.zip(full.m).forall { case (a, b) => a.compareTo(b) == 0 }
      val bm = Pca.basisFrom(merged, k)
      val bf = Pca.basisFrom(full, k)
      val basisEq = bm.mu.sameElements(bf.mu) &&
        bm.eigvals.sameElements(bf.eigvals) &&
        bm.comps.zip(bf.comps).forall { case (x, y) => x.sameElements(y) }
      e.groupBy(pmod(col("vec_id"), lit(3)).cast("int").as("batch"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("moments_mergeable", lit(momEq))
        .withColumn("basis_identical", lit(basisEq))
    }),

    // Cluster-balanced subset selection (the topic-balancing curation
    // step: cap any one semantic region's share of a training subset —
    // cf. cluster-based selection in SemDeDup-adjacent pipelines). Rank
    // vectors WITHIN each coarse cell by centrality (round(cos,6) desc,
    // ties to the lower vec_id — q79's keeper discipline; `+ 0.0`
    // normalizes a negated zero so Spark's total double order and the
    // oracle's ORDER BY agree at ±0.0), then interleave cells
    // round-robin — global pick order = (rank−1)·C + cell — and keep the
    // first B. Per-cell ranking is the k-bounded TopKByScore heap: the
    // shuffle carries ≤ ceil(B/C) entries per cell, NEVER a window sort
    // of the cell population (the low-cardinality-partition scale-killer
    // q79's keeper rule also avoids); the final cut is a TakeOrdered of
    // ≤ C·ceil(B/C) rows — driver state bounded by the budget, at any
    // corpus size. The interleave is load-bearing: 8·13 = 104 candidates
    // > B = 100, so the last picks are decided by round-robin order, not
    // by the per-cell cut alone.
    "q114_balanced_select" -> ((s, dir) => {
      val (k, iters) = (8, 3)
      val budget = 100
      val perCell = (budget + k - 1) / k // 13
      ranked(centroidCosines(s, dir, k, iters),
          round(col("cos"), 6) + lit(0.0), perCell, "cos6", identity,
          key = Seq("cell"), payload = "vec_id")
        .select(col("vec_id"), col("cell"), col("rnk"),
          ((col("rnk") - 1) * k + col("cell")).as("pick_order"),
          col("cos6"))
        .orderBy("pick_order").limit(budget)
    }),

    // Farthest-point-sampling coreset (greedy k-center, Gonzalez 1985 —
    // the 2-approximation behind diversity-pruning and active-learning
    // coresets, cf. Sener & Savarese ICLR 2018): grow the center set by
    // repeatedly taking the vector FARTHEST from it (max over the corpus
    // of min squared-L2 to the centers so far; ties to the lower vec_id).
    // Each round is ONE narrow pass — the fused MinCentroidDistExpr
    // codegen loop over the centers-so-far literal matrix — feeding a
    // TakeOrdered(1): k bounded driver jobs of one row each (the BPE/CC
    // driver-loop tier; centers are k × dim doubles of driver state,
    // cached per session like the Lloyd quantizer). The emitted frame is
    // the corpus coverage report: every vector's nearest center (ties to
    // the EARLIER pick — NearestCentroidExpr's strict-< rule over centers
    // in pick order) and its squared distance; max(d4) is the k-center
    // covering radius. Distances accumulate in ascending element order on
    // both engines (the q39 bitwise-portability precedent).
    "q116_fps_coreset" -> ((s, dir) => {
      val kC = 8
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val centers = fpsCenters(s, dir, kC)
      val cents = centers.map(_._2)
      val ids = centers.map(_._1)
      val cell = NearestCentroid.cell(col("embedding"), cents)
      e.select(col("vec_id"),
        (cell + 1).as("center_ord"),
        element_at(array(ids.map(lit): _*), cell + 1).as("center_id"),
        round(NearestCentroid.minDist(col("embedding"), cents), 4).as("d4"))
    }),

    // Robust per-dimension outlier scoring (the embedding-space data-quality
    // filter: corrupt/degenerate vectors before they poison ANN indexes or
    // dedup thresholds — cf. Iglewicz & Hoaglin's robust outlier labeling).
    // Each element is quantized ONCE to exact integer micro-units, per-dim
    // median and IQR come from exact interpolated percentiles over those
    // integers — quartile interpolation over ≤2^51 integers is EXACT double
    // arithmetic, so the stats are bit-identical on both engines regardless
    // of quantile formula spelling — and the per-row score
    // Σ_d ((m6_d − med_d)/IQR_d)² carries each dim's term as 6dp-exact
    // micro-units summed as LONGs (associative, partition-order-free: the
    // mean4of6 discipline). Squares are spelled d·d, never pow(d, 2) —
    // libm pow is not correctly-rounded-guaranteed across engines. Scale
    // shape: one narrow quantize pass → a 64-group percentile aggregate
    // (exact counts-map here; approx_percentile is the documented 100 TB
    // path, the q49/q67 split), stats broadcast as one row, scoring is
    // row-local, and the final cut is the k-bounded global TopKByScore
    // heap — ≤ 32 rows cross the last shuffle.
    "q120_embed_outliers" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val m6 = transform(col("embedding"),
        x => round(x.cast("double") * lit(1e6)).cast("long"))
      val exploded = e.select(col("vec_id"), posexplode(m6).as(Seq("dim", "m6")))
      val stats = exploded.groupBy("dim").agg(
        percentile(col("m6"), lit(0.5)).as("med"),
        (percentile(col("m6"), lit(0.75)) -
          percentile(col("m6"), lit(0.25))).as("iqr"))
        .withColumn("sc", when(col("iqr") === 0.0, lit(1.0)).otherwise(col("iqr")))
      val statsArr = stats.agg(
        sort_array(collect_list(struct(col("dim"), col("med"), col("sc"))))
          .as("st"))
        .select(transform(col("st"), t => t.getField("med")).as("meds"),
          transform(col("st"), t => t.getField("sc")).as("scs"))
      val scored = e.crossJoin(broadcast(statsArr))
        .withColumn("terms",
          zip_with(
            zip_with(m6, col("meds"), (x, m) => x.cast("double") - m),
            col("scs"), (c, s0) => {
              val d = c / s0
              round(d * d * lit(1e6)).cast("long")
            }))
        .select(col("vec_id"),
          aggregate(col("terms"), lit(0L), (acc, t) => acc + t).as("score_micro"))
      ranked(scored, col("score_micro").cast("double"), 32, "score_micro",
          _.cast("long"), key = Nil, payload = "vec_id")
        .select(col("rnk"), col("vec_id"), col("score_micro"))
    })
  )

  /** The FPS center chain as an artifact: (vec_id, vector) in pick order
    * — the greedy loop runs once per session, like [[lloydCentroids]]. */
  private val FpsCenters = new ArtifactCache.Kind[Seq[(Long, Seq[Double])]]("fpsCenters")

  private[graft] def fpsCenters(s: SparkSession, dir: String,
      k: Int): Seq[(Long, Seq[Double])] =
    ArtifactCache(s, dir, FpsCenters, k) {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val first = e.orderBy("vec_id").limit(1).collect()(0)
      var centers = Vector(
        (first.getLong(0), first.getSeq[Float](1).map(_.toDouble): Seq[Double]))
      for (_ <- 2 to k) {
        val next = e.select(col("vec_id"), col("embedding"),
          NearestCentroid.minDist(col("embedding"),
            centers.map(_._2)).as("dm"))
          .orderBy(desc("dm"), asc("vec_id")).limit(1).collect()(0)
        centers = centers :+
          ((next.getLong(0), next.getSeq[Float](1).map(_.toDouble): Seq[Double]))
      }
      centers
    }

  /** q148: MMR balance knob (0.25 ⇒ 1−λ = 0.75, both exact in binary —
    * no ugly cross-engine literal). On the planted-cluster geometry
    * λ=0.5 is the knife edge (penalty ≈ relevance for every cross-
    * cluster candidate, scores all ≈ 0); 0.25 weights diversity
    * decisively — measured spread 8/8 distinct clusters vs 1/8 for pure
    * relevance (AnnRecallSpec). */
  private[graft] val MmrLambda = 0.25
  private[graft] val MmrK = 8

  /** q148's body: MAXIMAL MARGINAL RELEVANCE selection (Carbonell &
    * Goldstein SIGIR'98 — the diversity-aware selection rule few-shot
    * example pickers and dataset-diversity curation use): greedily pick
    * k items maximizing λ·rel(i) − (1−λ)·max_{s∈S} sim(i, s), rel =
    * cosine to the query (vec 0). The [[fpsCenters]] greedy discipline:
    * k driver-side argmax steps (ORDER BY score DESC, vec_id LIMIT 1 —
    * the strict tie rule), each ONE aggregation pass over candidates
    * with the ≤k selected vectors as broadcast literals; driver state is
    * k vectors. max-sim is an exact max (no fp accumulation), cosines
    * are the proven q35 kernel pair, λ/1−λ are exact binary halves — so
    * the whole greedy trajectory replays bit-for-bit in the oracle's
    * unrolled CTEs. */
  private[graft] def mmrSelect(s: SparkSession, dir: String,
      lambda: Double = MmrLambda, k: Int = MmrK): DataFrame = {
    val mu = 1.0 - lambda
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).map(x => lit(x.toDouble))
    val cand = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        cosineSim(col("embedding"), array(qv: _*)).as("rel"))
    var selected = Vector.empty[(Long, Seq[Double], Double, Int)]
    for (ord <- 1 to k) {
      val sims = selected.map { case (_, v, _, _) =>
        cosineSim(col("embedding"), array(v.map(lit): _*))
      }
      val ms = sims.size match {
        case 0 => lit(0.0)
        case 1 => sims.head // greatest() requires >= 2 args
        case _ => greatest(sims: _*)
      }
      val pick = cand
        .filter(!col("vec_id").isin(selected.map(_._1): _*))
        .select(col("vec_id"), col("embedding"), col("rel"),
          (lit(lambda) * col("rel") - lit(mu) * ms).as("mmr"))
        .orderBy(desc("mmr"), asc("vec_id")).limit(1).collect()(0)
      selected = selected :+ ((pick.getLong(0),
        pick.getSeq[Float](1).map(_.toDouble): Seq[Double],
        pick.getDouble(3), ord))
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      selected.map { case (id, _, mmr, ord) =>
        org.apache.spark.sql.Row(ord, id,
          BigDecimal(mmr).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sel_ord",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("mmr",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  /** q151's funnel width: the q147 rerank budget — the serving
    * convention (retrieve top-R cheaply, rerank R exactly). */
  private[graft] val FunnelR = 64

  /** q163's estimator-stage candidate cut — the survivors re-ranked on
    * raw cosine. 32 = the q123/q152 rerank budget, for a like-for-like
    * recall-vs-bytes comparison across the quantization tiers. */
  private[graft] val RabitqRerankR = 32

  /** q163's body — RaBitQ-style binary quantization + exact re-rank
    * (see the `queries` entry for the story). Everything is
    * oracle-congruent by construction: the centroid is the k=1 Lloyd
    * mean (round(avg,6) both engines), the fold sums run in ascending
    * index order (aggregate(zip_with) ≡ list_sum of a comprehension —
    * the proven recipe), √D is spelled as the exact binary 8.0, sqrt is
    * IEEE-correctly-rounded in both engines, and every cut ties
    * (score desc, id asc). Stages are SEPARATE selects so the sign/norm
    * arrays materialize once per row (the q159 staged-projection
    * lesson: inlined HOF trees re-evaluate ~20× per row). */
  private[graft] def rabitqRerank(s: SparkSession, dir: String,
      rerankR: Int = RabitqRerankR): DataFrame = {
    val cent = lloydCentroids(s, dir, 1, 1).head
    val cLit = array(cent.map(lit): _*)
    val e = emb(s, dir)
    def resid(c: Column): Column =
      zip_with(transform(c, x => x.cast("double")), cLit, (x, m) => x - m)
    val enc = e
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        resid(col("embedding")).as("r"))
      .select(col("cid"), col("ce"),
        transform(col("r"),
          x => when(x >= 0, lit(1.0)).otherwise(lit(-1.0))).as("sgn"),
        sqrt(greatest(aggregate(col("r"), lit(0.0),
          (a, x) => a + x * x), lit(1e-24))).as("norm_o"),
        aggregate(col("r"), lit(0.0), (a, x) => a + abs(x)).as("abs_sum"))
      // ⟨ō, x̄⟩ = Σ|ō_i|/√D — √64 = 8.0, exact in binary
      .select(col("cid"), col("ce"), col("sgn"),
        (col("abs_sum") / (lit(8.0) * col("norm_o"))).as("sdot"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        resid(col("embedding")).as("qr"))
      .select(col("qid"), col("qe"), col("qr"),
        sqrt(greatest(aggregate(col("qr"), lit(0.0),
          (a, x) => a + x * x), lit(1e-24))).as("norm_q"))
    // the unbiased estimator: ⟨ō, q̄⟩ ≈ ⟨x̄, q̄⟩ / ⟨ō, x̄⟩ with
    // ⟨x̄, q̄⟩ = (1/√D)·Σ sgn_i·qr_i / ‖qr‖ — one broadcast probe join,
    // candidate heap bounded at R per probe
    val est = enc.join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        (aggregate(zip_with(col("sgn"), col("qr"), (g, y) => g * y),
          lit(0.0), (a, x) => a + x)
          / lit(8.0) / col("norm_q") / greatest(col("sdot"), lit(1e-12)))
          .as("est"))
    val cand = est.transform(topIds(_, col("est"), rerankR))
    cand.join(broadcast(q.select(col("qid"), col("qe"))), "qid")
      .join(e.select(col("vec_id").as("cid"), col("embedding").as("ce")),
        "cid")
      .select(col("qid"), col("cid"),
        cosineSim(col("qe"), col("ce")).as("cos"))
      .transform(ranked(_, col("cos"), 5, "cosine"))
  }

  private[graft] val Sq8Serve = new ArtifactCache.Kind[DataFrame]("sq8Serve")

  /** (touched store bytes, total store bytes) of the last q152 serve —
    * the int8 tier's bandwidth claim, measured. */
  private[graft] val lastSq8ServeBytes =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))

  /** q152's body: the INT8 (SQ8) STORAGE TIER composed into the
    * cell-partitioned vector store (r14 verdict item 7 — FAISS's
    * ScalarQuantizer tier in the q137 layout): store rows are
    * (vec_id, scale, q8 tinyint[64]) under `cell=` dirs — codes + the
    * per-vector symmetric scale ARE the full record (scale reconstructs
    * dot products and L2; cosine is scale-free), 4× fewer bytes per
    * scored candidate than float vectors, which is the knob that
    * matters when candidate scanning is bandwidth-bound at 100 TB.
    * Serve: partition-pruned nprobe cells (self-verified), int8 cosine
    * (q105's exact-in-double kernel — products ≤ 127²·64 ≪ 2⁵³, so
    * quantized scores are order-independent by construction) cuts to
    * top-R, then the optional exact fp re-rank reads ONLY the R
    * survivors from the raw tier (the q123 shape). Serve bytes touched
    * vs store total land in [[lastSq8ServeBytes]]. */
  private[graft] def sq8StoreServe(s: SparkSession, dir: String): DataFrame =
    ArtifactCache(s, dir, Sq8Serve)(sq8StoreServeUncached(s, dir))

  private def sq8StoreServeUncached(s: SparkSession,
      dir: String): DataFrame = {
    val (k, iters, nprobe, rerankR) = (8, 3, 2, 32)
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val cents = lloydCentroids(s, dir, k, iters)
    def quantD(c: Column): Column = {
      val xs = transform(c, x => x.cast("double"))
      val scale = greatest(
        array_max(transform(xs, x => abs(x))) / lit(127.0), lit(1e-12))
      transform(xs, x =>
        least(greatest(round(x / scale), lit(-127.0)), lit(127.0)))
    }
    val base = java.nio.file.Files.createTempDirectory("q152_store").toString
    try {
      val xs = transform(col("embedding"), x => x.cast("double"))
      e.select(col("vec_id"),
          NearestCentroid.cell(col("embedding"), cents).as("cell"),
          greatest(array_max(transform(xs, x => abs(x))) / lit(127.0),
            lit(1e-12)).as("scale"),
          col("embedding"))
        .select(col("vec_id"), col("cell"), col("scale"),
          transform(col("embedding"), x =>
            least(greatest(round(x.cast("double") / col("scale")),
              lit(-127.0)), lit(127.0)).cast("tinyint")).as("q8"))
        .repartition(col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$base/store")
      val store = s.read.parquet(s"$base/store")
      // driver tier: each collected probe's nprobe nearest cells, shipped
      // as a local (qid, qe, cell) relation
      import s.implicits._
      val probeCells = collectProbes(e).toSeq.flatMap { case (qid, qe) =>
        nearestCellsLocal(qe, cents, nprobe).map(cell => (qid, qe, cell))
      }
      val cells = probeCells.map(_._3).distinct.sorted
      val probes = probeCells.toDF("qid", "qe", "cell")
        .select(col("qid"), quantD(col("qe")).as("qq"), col("cell"))
      val pruned = store.filter(col("cell").isin(cells: _*))
      requirePartFilter(pruned, "cell", "q152 serve")
      val stage1 = pruned.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          cosineSim(col("qq"),
            transform(col("q8"), x => x.cast("double"))).as("cosq"))
        .transform(topIds(_, col("cosq"), rerankR))
        .localCheckpoint(eager = true)
      // bandwidth accounting: bytes under the probed cell dirs vs total
      val storeP = java.nio.file.Paths.get(s"$base/store")
      lastSq8ServeBytes.set((
        cells.map(c => dirBytes(storeP.resolve(s"cell=$c"))).sum,
        dirBytes(storeP)))
      // exact fp re-rank of the R survivors from the raw tier
      val qRaw = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        .join(broadcast(stage1), "cid")
        .join(broadcast(qRaw), "qid")
        .select(col("qid"), col("cid"),
          cosineSim(col("qe"), col("ce")).as("cos"))
        .transform(ranked(_, col("cos"), 5, "cosine"))
        .localCheckpoint(eager = true)
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  /** q151's body: FUNNEL-COMPOSED MMR — the serving shape the
    * few-shot-selection literature actually runs (r14 verdict item 4):
    * q147's cheap truncated-dim stage cuts the corpus to the top-R
    * candidates of THE query, and the q148 greedy reranks ONLY the
    * funnel. The only corpus-sized work is the 16-dim first-stage scan
    * into a bounded top-R heap; the funnel (R rows) is bounded driver
    * state by construction, so the greedy runs in driver arithmetic —
    * per step O(R) kernel flops and ZERO jobs, vs q148's k corpus-wide
    * aggregation passes. Bit-congruent with the oracle because the
    * driver cosine ([[graft.operators.NnDescent.cosLocal]]) is the
    * kernel's exact double chain (the AnnRecallSpec local≡distributed
    * argument), λ/1−λ are exact binary quarters, ties scan ascending
    * ids under strict >, and the output rounds through the same
    * BigDecimal HALF_UP as q148. */
  private[graft] def mmrFunnelSelect(s: SparkSession, dir: String,
      lambda: Double = MmrLambda, k: Int = MmrK,
      dPrime: Int = MrlDims, r: Int = FunnelR): DataFrame = {
    val mu = 1.0 - lambda
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
      .collect()(0).getSeq[Float](0).toArray
    val qPrime = qv.take(dPrime).map(x => lit(x.toDouble))
    val topR = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        cosineSim(slice(col("embedding"), 1, dPrime),
          array(qPrime: _*)).as("cosd"))
      .transform(topIds(_, col("cosd"), r, key = Nil, payload = "vec_id"))
    val cand = e.join(broadcast(topR), "vec_id")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(row => (row.getLong(0), row.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double =
      graft.operators.NnDescent.cosLocal(a, b)
    val rels = cand.map { case (id, v) => (id, v, cos(v, qv)) }
    var selected = Vector.empty[(Long, Array[Float], Double, Int)]
    for (ord <- 1 to k) {
      var bestId = -1L
      var bestVec: Array[Float] = null
      var bestMmr = Double.NegativeInfinity
      rels.foreach { case (id, v, rel) =>
        if (!selected.exists(_._1 == id)) {
          // ms = max cosine to the selected set (CAN be negative — the
          // q148 greatest() semantics); 0.0 only for the first pick
          val ms = if (selected.isEmpty) 0.0
                   else selected.iterator.map(sel => cos(v, sel._2)).max
          val mmr = lambda * rel - mu * ms
          // strict > over the ascending-id scan ≡ ORDER BY mmr DESC, id
          if (mmr > bestMmr) { bestMmr = mmr; bestId = id; bestVec = v }
        }
      }
      selected = selected :+ ((bestId, bestVec, bestMmr, ord))
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      selected.map { case (id, _, mmr, ord) =>
        org.apache.spark.sql.Row(ord, id,
          BigDecimal(mmr).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sel_ord",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("mmr",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
  }

  private val FilteredServe = new ArtifactCache.Kind[DataFrame]("filteredServe")

  /** (touched store bytes, total store bytes) of the last q153 serve. */
  private[graft] val lastFilteredServeBytes =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))

  /** q153's body: FILTERED SERVING through the partitioned store (r14
    * verdict item 8 — q134's metadata predicate composed into the q137
    * persistence): vectors land under `label=<l>/cell=<c>/` directories,
    * so a filtered probe's predicate cuts at the FILE level — directories
    * whose label can't match are never opened, before any distance math —
    * and the within-label nprobe cells prune a second time inside each
    * label dir. That is the 100 TB property: filtered-search cost tracks
    * the SELECTED label's population, not the corpus. Scoring is exact
    * cosine over the pruned candidates (the store carries the raw
    * vectors; q134's semantics round-trip unchanged, so the oracle IS
    * q134's). Both partition columns are self-verified on the physical
    * scan; touched vs total bytes land in [[lastFilteredServeBytes]]. */
  private[graft] def filteredStoreServe(s: SparkSession,
      dir: String): DataFrame =
    ArtifactCache(s, dir, FilteredServe)(filteredStoreServeUncached(s, dir))

  private def filteredStoreServeUncached(s: SparkSession,
      dir: String): DataFrame = {
    val (k, iters, nprobe) = (8, 3, 3)
    val e = emb(s, dir).select(col("vec_id"), col("embedding"), col("label"))
    val cents = lloydCentroids(s, dir, k, iters)
    val base = java.nio.file.Files.createTempDirectory("q153_store").toString
    try {
      e.select(col("vec_id"), col("embedding"), col("label"),
          NearestCentroid.cell(col("embedding"), cents).as("cell"))
        .repartition(col("label"), col("cell"))
        .sortWithinPartitions("label", "cell", "vec_id")
        .write.mode("overwrite").partitionBy("label", "cell")
        .parquet(s"$base/store")
      val store = s.read.parquet(s"$base/store")
      // DRIVER TIER (r18, q97-family precedent): same probe spelling as
      // q134 — ≤10 collected probes, [[nearestCellsLocal]] ranking, local
      // relation. The (label, cell) pair set falls out driver-side too,
      // so the old probe checkpoint + distinct().collect() jobs vanish.
      val probeSeq = collectProbesWithLabel(e).toSeq
        .flatMap { case (qid, qe, lbl) =>
          nearestCellsLocal(qe, cents, nprobe)
            .map(cell => (qid, qe, lbl, cell))
        }
      import s.implicits._
      val probes = probeSeq.toDF("qid", "qe", "label", "cell")
      val pairs = probeSeq.map { case (_, _, l, c) => (l, c) }.distinct
      // prune on the EXACT (label, cell) pair disjunction, not the
      // labels × cells cross product: the join below only consumes the
      // probed pairs anyway, and the pair filter makes the scan read
      // precisely the directories [[lastFilteredServeBytes]] accounts —
      // the cross-product spelling touched extra label×cell dirs the
      // accounting never summed (r15 advice)
      val pruned = store.filter(pairs.map { case (l, c) =>
        col("label") === l && col("cell") === c }.reduce(_ || _))
      for (c <- Seq("label", "cell")) requirePartFilter(pruned, c, "q153 serve")
      val storeP = java.nio.file.Paths.get(s"$base/store")
      lastFilteredServeBytes.set((
        pairs.map { case (l, c) =>
          val d = storeP.resolve(s"label=$l").resolve(s"cell=$c")
          if (java.nio.file.Files.exists(d)) dirBytes(d) else 0L
        }.sum,
        dirBytes(storeP)))
      pruned.join(broadcast(probes), Seq("cell", "label"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          cosineSim(col("qe"), col("embedding")).as("cos"))
        .transform(ranked(_, col("cos"), 5, "cosine"))
        .localCheckpoint(eager = true)
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  /** (vec_id, cell, cos) — every vector with its coarse cell and its
    * full-double cosine to that cell's final centroid: the shared frame
    * behind q79's keeper rule and q114's balanced selection. One narrow
    * codegen'd assignment pass + a broadcast join against the k-row
    * centroid table (driver state k × dim doubles at any corpus size). */
  private def centroidCosines(s: SparkSession, dir: String, k: Int,
      iters: Int): DataFrame = {
    val cents = lloydCentroids(s, dir, k, iters)
    import scala.jdk.CollectionConverters._
    val centDf = s.createDataFrame(
      cents.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.Row(i, c)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cent",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
    emb(s, dir)
      .select(col("vec_id"), col("embedding"),
        NearestCentroid.cell(col("embedding"), cents).as("cell"))
      .join(broadcast(centDf), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        cosineSim(col("embedding"), col("cent")).as("cos"))
  }

  /** The ≤10 probe vectors (vec_id < 10 — bounded by contract at ANY
    * scale; the predicate pushes to the parquet scan), collected once and
    * shared by the driver-side LUT build and the rerank's probe side.
    * Sorted by vec_id so the emitted local relations are deterministic. */
  private[graft] def collectProbes(e: DataFrame): Array[(Long, Array[Float])] =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** [[collectProbes]] variant carrying the label column (the q134/q153
    * filtered-search probe side). */
  private[graft] def collectProbesWithLabel(
      e: DataFrame): Array[(Long, Array[Float], Int)] =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"), col("label"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_._1)

  /** Driver mirror of the sqL2 Column (`aggregate(zip_with(a, b,
    * (x,y)=>(x-y)*(x-y)), 0.0, _+_)`): left-fold of (x−y)² in index
    * order, the float element widened to double before the subtraction —
    * the exact IEEE operation sequence of the Catalyst eval, so LUT /
    * cell-rank values computed here are bit-identical to the old
    * expression-tree spelling (the LocalQuant mirroring discipline). */
  private[graft] def sqL2Local(q: Array[Float], off: Int, cent: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < cent.length) {
      val x = q(off + i).toDouble - cent(i)
      acc += x * x
      i += 1
    }
    acc
  }

  /** Driver mirror of the dotLit Column (`aggregate(zip_with(a, lits,
    * (x,y)=>x.cast("double")*y), 0.0, _+_)`) — same left-fold, same
    * float→double widening. */
  private[graft] def dotLocal(q: Array[Float], off: Int, cent: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < cent.length) {
      acc += q(off + i).toDouble * cent(i)
      i += 1
    }
    acc
  }

  /** Per-probe PQ LUT, driver-side: lut[m][c] = ‖q_m − books[m][c]‖²
    * ([[sqL2Local]] per subspace, bit-identical to the retired
    * expression-tree spelling). */
  private[graft] def pqLutLocal(q: Array[Float],
      books: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] =
    (0 until PqM).map(m =>
      books(m).indices.map(c => sqL2Local(q, m * PqSub, books(m)(c))))

  /** Per-probe INNER-PRODUCT LUT (the q145/q146/q159 MIPS estimator):
    * lut[m][c] = ⟨q_m, books[m][c]⟩ ([[dotLocal]] per subspace). */
  private[graft] def ipLutLocal(q: Array[Float],
      books: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] =
    (0 until PqM).map(m =>
      books(m).indices.map(c => dotLocal(q, m * PqSub, books(m)(c))))

  /** nprobe nearest coarse cells per probe, driver-side — ties (d, then
    * cell) keep the oracle's row_number order, and rank 1 reproduces
    * NearestCentroid's strict-< lowest-index rule exactly (the retired
    * `array_sort(struct(d, cell))` spelling). */
  private[graft] def nearestCellsLocal(q: Array[Float], coarse: Seq[Seq[Double]],
      nprobe: Int): Seq[Int] =
    coarse.indices.map(c => (sqL2Local(q, 0, coarse(c)), c))
      .sorted.take(nprobe).map(_._2)

  // ---- The ANN serving pipeline. Every IVF-PQ / ANN family member is a
  // composition of these stages: corpusSlice → collectProbes → probeLuts
  // (per-probe LUT, optional nprobe cell ranking) → ADC score → topIds
  // (top-R cut) → exactRerank → ranked (top-k emission).

  /** (vec_id, embedding) below `maxVec`: the ANN family's corpus slice.
    * MaxValue reads the unsliced corpus (the ScaleStress full path). */
  private def corpusSlice(s: SparkSession, dir: String, maxVec: Long): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    if (maxVec == Long.MaxValue) e else e.filter(col("vec_id") < maxVec)
  }

  /** DRIVER TIER LUT stage (guide §1.2 "per-task work" + §5): the per-probe
    * lookup table and the nprobe nearest-cell ranking are pure functions of
    * the ≤10 collected probe vectors and the driver-resident codebooks —
    * the FAISS query-time-LUT shape — so they are built here in driver
    * arithmetic and shipped as a ≤ probes·nprobe-row local relation. The
    * retired spelling built them as a PqM×PqK literal expression tree
    * (~10k Catalyst nodes): measured 0.4-0.7 s of analysis + planning PER
    * RUN before any task launched (OPTIMIZATION_r18.md), against ~1 ms of
    * driver arithmetic here. `lut(qe, cell)` is [[pqLutLocal]] (L2 ADC),
    * [[ipLutLocal]] (inner-product ADC) or q136's per-cell residual LUT;
    * all mirror the retired Column spellings bit-for-bit (AnnRecallSpec).
    * With `cells = Some((coarse, nprobe))` each probe fans out to its
    * [[nearestCellsLocal]] cells and the relation is (qid, cell, lut);
    * without it, (qid, lut) and `lut` sees cell -1. */
  private def probeLuts(s: SparkSession, probes: Array[(Long, Array[Float])],
      cells: Option[(Seq[Seq[Double]], Int)] = None)(
      lut: (Array[Float], Int) => Seq[Seq[Double]]): DataFrame = {
    import s.implicits._
    cells match {
      case None =>
        probes.toSeq.map { case (qid, qe) => (qid, lut(qe, -1)) }.toDF("qid", "lut")
      case Some((coarse, nprobe)) =>
        probes.toSeq.flatMap { case (qid, qe) =>
          nearestCellsLocal(qe, coarse, nprobe).map(cell => (qid, cell, lut(qe, cell)))
        }.toDF("qid", "cell", "lut")
    }
  }

  /** ADC score stage over a (vec_id, cell, codes) frame and a
    * (qid, cell, lut) relation: (qid, cid, adc). The sum is one generated
    * index-order loop (≡ the oracle's left-to-right l0.d + l1.d + …
    * association); `+ 0.0` at the consumers drops a negated zero. */
  private def adcScores(enc: DataFrame, lut: DataFrame): DataFrame =
    enc.join(broadcast(lut), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        org.apache.spark.sql.graft.PqExpr.adc(col("codes"), col("lut")).as("adc"))

  /** The k-bounded heap tail every ranked output shares: per `key`, the
    * top-k `payload` rows by `score` (desc, payload asc — the oracles'
    * ORDER BY) through TopKByScore (≤ k entries per key cross the
    * shuffle, never a window sort), emitted as (key, payload,
    * outName = out(score), rnk). `score` and `out` carry each query's own
    * spelling (negation, `+ 0.0`, rounding). An empty `key` ranks the
    * whole frame. */
  private def ranked(df: DataFrame, score: Column, k: Int, outName: String,
      out: Column => Column = round(_, 4), key: Seq[String] = Seq("qid"),
      payload: String = "cid"): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(org.apache.spark.sql.graft.TopKByScore
        .columnFor(score, col(payload), k).as("top"))
      .select(key.map(col) :+ posexplode(col("top")): _*)
      .select(key.map(col) ++ Seq(col("col.payload").as(payload),
        out(col("col.score")).as(outName),
        (col("pos") + 1).cast("long").as("rnk")): _*)

  /** The top-R candidate cut: per `key`, the R best `payload` ids by
    * `score` through the same heap as [[ranked]], scores dropped. */
  private def topIds(df: DataFrame, score: Column, r: Int,
      key: Seq[String] = Seq("qid"), payload: String = "cid"): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(org.apache.spark.sql.graft.TopKByScore
        .columnFor(score, col(payload), r).as("top"))
      .select(key.map(col) :+ explode(col("top")).as("t"): _*)
      .select(key.map(col) :+ col("t.payload").as(payload): _*)

  /** The L2-ADC top-5 emission (q97, q136 and the store serves). */
  private def adcTop5(adc: DataFrame): DataFrame =
    ranked(adc, negate(col("adc")) + lit(0.0), 5, "adc_dist",
      c => round(negate(c) + lit(0.0), 4))

  /** Exact re-rank of a (qid, cid) candidate cut: ONE narrow pass joins
    * the R·|probes| broadcast ids back to the corpus `e`, then the
    * broadcast (qid, qe) probe vectors, scoring `name` = kernel(qe,
    * embedding) — R·d exact work per probe instead of n·d. */
  private def exactRerank(e: DataFrame, cand: DataFrame, probes: DataFrame,
      name: String)(kernel: (Column, Column) => Column): DataFrame =
    e.join(broadcast(cand), e("vec_id") === cand("cid"))
      .join(broadcast(probes), "qid")
      .select(col("qid"), col("cid"),
        kernel(col("qe"), col("embedding")).as(name))

  /** ‖a − b‖² as one fused fold — (x−y)² summed left to right from 0.0,
    * the spelling [[sqL2Local]] mirrors and the oracles replay. */
  private def sqL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  private def sqL2(a: Column, c: Seq[Double]): Column =
    sqL2(a, array(c.map(lit): _*))

  /** ⟨a, b⟩ over double-widened elements: the exact IP re-rank kernel. */
  private def dotC(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), _ + _)

  /** IVF-PQ candidate scoring (Jégou et al. 2011's IVFADC, by_residual
    * disabled), shared by q97 (top-5 by ADC) and q123 (exact re-rank):
    * coarse IVF restricts candidates to each probe's `nprobe` nearest
    * cells; within them candidates are scored from their PQ codes alone
    * via asymmetric distance. Each vector encodes ONCE as M=16 4-bit
    * codes (one fused codegen loop — M separate NearestCentroid columns
    * blew the JVM method limit and fell out of codegen); each probe's
    * M×K LUT of subspace distances comes from [[probeLuts]] (never per
    * pair); per-pair work is 16 lookups + 15 adds in fixed association
    * order. Codebooks are per-subspace deterministic Lloyd (identical
    * seed/round rules to q39) so DuckDB re-derives them exactly for the
    * q97 gate. Returns (qid, cid, adc). */
  private def ivfPqAdcCandidates(s: SparkSession, dir: String,
      nprobe: Int, maxVec: Long = Long.MaxValue,
      probes0: Option[Array[(Long, Array[Float])]] = None): DataFrame = {
    val coarse = lloydCentroids(s, dir, 8, 3, maxVec)
    val pq = pqCodebooks(s, dir, PqM, PqK, PqIters, maxVec = maxVec)
    val e = corpusSlice(s, dir, maxVec)
    val enc = e.select(col("vec_id"),
      NearestCentroid.cell(col("embedding"), coarse).as("cell"),
      org.apache.spark.sql.graft.PqExpr
        .encode(col("embedding"), pq).as("codes"))
    adcScores(enc, probeLuts(s, probes0.getOrElse(collectProbes(e)),
      Some((coarse, nprobe)))((qe, _) => pqLutLocal(qe, pq)))
  }

  /** Gate slice for the q97/q123 IVF-PQ lifecycle (the q121/q122
    * Slice=600 precedent): the full set at the ≤ sf0.01 gate SFs, so
    * slicing changes nothing where the oracle history was established,
    * and a fixed bound above that — the gate's cost (in BOTH engines,
    * crucially the oracle's SQL replay of the Lloyd chains) stays flat
    * at any SF while ScaleStress keeps measuring the unsliced
    * path. */
  private[graft] val IvfPqGateSlice = 500L

  /** q144's store/batch split within the [[IvfPqGateSlice]]d corpus: the
    * standing store is vec_id < this (the slice the frozen quantizer +
    * codebooks train on — the artifact a deployment ships); the rest
    * streams in as micro-batches. */
  private[graft] val IvfPqIngestSplit = 400L

  /** q97's body: ADC top-5 per probe over [[ivfPqAdcCandidates]].
    * maxVec = [[IvfPqGateSlice]] for the gate; MaxValue for scale
    * probes. */
  private[graft] def ivfPqTop5(s: SparkSession, dir: String,
      maxVec: Long = Long.MaxValue): DataFrame =
    adcTop5(ivfPqAdcCandidates(s, dir, nprobe = 2, maxVec))

  /** q145's body: MIPS top-5 via ANISOTROPIC PQ — encode the slice with
    * the score-aware codebooks ([[anisoCodebooks]]), then per probe an
    * INNER-PRODUCT ADC (lut[m][c] = ⟨q_m, cent⟩, score = Σ_m lut lookup —
    * the MIPS estimator ⟨q, x̃⟩), top-5 by score desc through the
    * k-bounded heap. No coarse partitioner here on purpose: the rung is
    * the quantizer (production composes it with the q97/q137 IVF + store
    * machinery, which is orthogonal); scoring is one narrow broadcast
    * pass over codes — M lookups per candidate, the PQ bandwidth win. */
  private[graft] def anisoPqTop5(s: SparkSession, dir: String,
      eta: Double, maxVec: Long = IvfPqGateSlice): DataFrame = {
    val books = anisoCodebooks(s, dir, PqM, PqK, PqIters, eta, maxVec = maxVec)
    val e = corpusSlice(s, dir, maxVec)
    val enc = e.select(col("vec_id").as("cid"),
      org.apache.spark.sql.graft.PqExpr
        .encodeAniso(col("embedding"), books, eta).as("codes"))
    val lut = probeLuts(s, collectProbes(e))((qe, _) => ipLutLocal(qe, books))
    enc.join(broadcast(lut), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        org.apache.spark.sql.graft.PqExpr
          .adc(col("codes"), col("lut")).as("ip"))
      .transform(ranked(_, col("ip") + lit(0.0), 5, "ip_score",
        c => round(c + lit(0.0), 4)))
  }

  /** q146's body: the FULL ScaNN serving stack composed — IVF coarse
    * partition (nprobe cells; the q97 quantizer artifact SHARED via
    * [[lloydCentroids]]), anisotropic-PQ IP-ADC over the probed cells'
    * candidates (the q145 codebooks SHARED via [[anisoCodebooks]]),
    * then an EXACT inner-product re-rank of the ADC top-R (the q123
    * rerank discipline at MIPS scoring) — the partition → score-aware
    * quantize → rescore pipeline of Guo et al. §5, gated end to end.
    * Per-probe cost: nprobe/k of the corpus gets M lookups, R vectors
    * get exact dots — the 100 TB serving shape. */
  private[graft] def scannStackTop5(s: SparkSession, dir: String,
      eta: Double = AnisoEta, maxVec: Long = IvfPqGateSlice,
      nprobe: Int = 2, rerankR: Int = 32): DataFrame =
    scannStack(s, dir, eta, maxVec, nprobe, rerankR, spill = false)

  /** q159's SOAR spill penalty λ (Sun et al., "SOAR: Improved Indexing
    * for Approximate Nearest Neighbor Search", NeurIPS 2023): exact
    * integer so both engines score identical doubles. */
  private[graft] val SoarLambda = 1.0

  /** q159's body: the q146 ScaNN stack with SOAR SPILL-2 ASSIGNMENT at
    * index time (Sun et al. NeurIPS'23 — ScaNN's follow-up): every
    * vector lands in its nearest cell AND in one spill cell chosen to
    * minimize ‖r'‖² + λ·(r'·r̂₁)² — the orthogonality-amplified loss:
    * when the query aligns with the FIRST residual (exactly the case
    * where the first copy's quantized score errs worst), the second
    * copy's residual is near-orthogonal to it, so its error is
    * decorrelated and the probe recovers the point. Index doubles; the
    * PROBE cost stays nprobe cells (the equal-probe-cost framing the
    * paper measures; AnnRecallSpec measures the recall delta here).
    * Candidates reached through both copies dedupe exactly (identical
    * codes ⇒ identical ADC — max() is exact). The assignment
    * ([[soarAssign]]) is composed codegen'd expressions over the k-cell
    * literal (per-row work Θ(k·d), one narrow pass — it parallelizes per
    * row at any corpus size); the oracle replays the same spill rule in
    * CTEs. */
  private[graft] def soarStackTop5(s: SparkSession, dir: String,
      eta: Double = AnisoEta, maxVec: Long = IvfPqGateSlice,
      nprobe: Int = 2, rerankR: Int = 32): DataFrame =
    scannStack(s, dir, eta, maxVec, nprobe, rerankR, spill = true)

  /** The q146/q159 pipeline: IP-ADC over the probed cells, top-R cut,
    * exact inner-product re-rank, top-5. `spill` swaps single
    * assignment for [[soarAssign]]'s two copies and dedupes the
    * candidates reached through both. */
  private def scannStack(s: SparkSession, dir: String, eta: Double,
      maxVec: Long, nprobe: Int, rerankR: Int, spill: Boolean): DataFrame = {
    val coarse = lloydCentroids(s, dir, 8, 3, maxVec)
    val books = anisoCodebooks(s, dir, PqM, PqK, PqIters, eta, maxVec = maxVec)
    val e = corpusSlice(s, dir, maxVec)
    val codes = org.apache.spark.sql.graft.PqExpr
      .encodeAniso(col("embedding"), books, eta).as("codes")
    val enc =
      if (spill) soarAssign(e, coarse).select(col("vec_id").as("cid"),
        explode(array(col("cell1"), col("cell2"))).as("cell"), codes)
      else e.select(col("vec_id").as("cid"),
        NearestCentroid.cell(col("embedding"), coarse).as("cell"), codes)
    val probes = collectProbes(e)
    val lut = probeLuts(s, probes, Some((coarse, nprobe)))(
      (qe, _) => ipLutLocal(qe, books))
    val scored = enc.join(broadcast(lut), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        org.apache.spark.sql.graft.PqExpr
          .adc(col("codes"), col("lut")).as("ip"))
    // a candidate probed through BOTH copies carries identical codes →
    // identical ip; max() is the exact dedupe. ONE qid exchange serves
    // both aggregation levels (r18, guide §2.4): HashPartitioning(qid)
    // satisfies the (qid, cid) clustering too, so the dedupe and the
    // per-probe heap run exchange-free on top of it — the unhinted
    // spelling shuffled twice ((qid, cid) then (qid))
    val cand = (if (spill) scored.repartition(col("qid"))
        .groupBy("qid", "cid").agg(max(col("ip")).as("ip")) else scored)
      .transform(topIds(_, col("ip") + lit(0.0), rerankR))
    import s.implicits._
    exactRerank(e, cand, probes.toSeq.toDF("qid", "qe"), "ip")(dotC)
      .transform(ranked(_, col("ip") + lit(0.0), 5, "ip_score",
        c => round(c + lit(0.0), 4)))
  }

  /** SOAR spill-2 assignment: (vec_id, embedding, cell1, cell2) — the
    * nearest cell, then the spill cell minimizing the SOAR loss.
    * Primary assignment + its squared distance come from the sorted
    * (d, cell) struct array — the proven probe spelling (ties to the
    * lower cell, ≡ the oracle's row_number ORDER BY d, cell).
    * STAGED projections: sortedC / rx1 / per-cell dotr land as real
    * columns between selects so the SOAR score tree references them
    * instead of re-inlining the 64-element loops per cell (the unstaged
    * spelling re-evaluated the sort ~20× per row — measured 14.6 s vs
    * q146's 3.1 s at 30×; HOFs are non-cheap, so CollapseProject keeps
    * the stages apart). The k per-cell distances land ONCE as a real
    * array column (r18): the primary-assignment sort AND the spill-loss
    * dc$c terms both read element_at(dcs, ·) instead of re-running the k
    * 64-element sqL2 loops a second time per row (same IEEE values —
    * element_at is the identical expression result, so the oracle is
    * untouched). */
  private def soarAssign(e: DataFrame, coarse: Seq[Seq[Double]]): DataFrame = {
    val k = coarse.length
    val cents2d = array(coarse.map(cc => array(cc.map(lit): _*)): _*)
    val a0 = e.select(col("vec_id"), col("embedding"),
      array((0 until k).map(c =>
        sqL2(col("embedding"), coarse(c))): _*).as("dcs"))
    val a1 = a0.select(col("vec_id"), col("embedding"), col("dcs"),
      element_at(array_sort(array((0 until k).map(c =>
        struct(element_at(col("dcs"), c + 1).as("d"),
          lit(c).as("cell"))): _*)), 1).as("first"))
    val a2 = a1.select(col("vec_id"), col("embedding"), col("dcs"),
      col("first.cell").as("cell1"), col("first.d").as("d1"))
    // SOAR loss per candidate spill cell: ‖x−c‖² + λ·((x−c)·(x−c₁))²/‖x−c₁‖²
    // (the r̂₁ normalization folded into the division by d1); a vector
    // sitting exactly on its centroid (d1 = 0) has no residual direction
    // to decorrelate — plain second-nearest then
    val a3 = a2.select(col("vec_id"), col("embedding"), col("dcs"),
      col("cell1"), col("d1"),
      zip_with(col("embedding"), element_at(cents2d, col("cell1") + 1),
        (a, b) => a - b).as("rx1"))
    def dotr(cent: Seq[Double]): Column =
      aggregate(zip_with(
        zip_with(col("embedding"), array(cent.map(lit): _*),
          (a, b) => a - b),
        col("rx1"), (p, q) => p * q), lit(0.0), _ + _)
    val a4 = a3.select(Seq(col("vec_id"), col("embedding"), col("cell1"),
      col("d1")) ++
      (0 until k).map(c => element_at(col("dcs"), c + 1).as(s"dc$c")) ++
      (0 until k).map(c => dotr(coarse(c)).as(s"dr$c")): _*)
    val scored2 = array((0 until k).map { c =>
      struct(when(col("d1") === lit(0.0), col(s"dc$c"))
        .otherwise(col(s"dc$c") +
          lit(SoarLambda) * col(s"dr$c") * col(s"dr$c") / col("d1"))
        .as("d"),
        lit(c).as("cell"))
    }: _*)
    a4.select(col("vec_id"), col("embedding"), col("cell1"),
      element_at(array_sort(
        filter(scored2, st => st.getField("cell") =!= col("cell1"))), 1)
        .getField("cell").as("cell2"))
  }

  /** q147: matryoshka truncation depth (first dims used by the cheap
    * stage) and its rerank width. */
  private[graft] val MrlDims = 16
  /** Funnel width: R must cover the expected same-neighborhood
    * candidate count (the clustered fixture's planted clusters hold ~62
    * members; R=32 measured 0.80 recall there, R=64 covers the cluster
    * → near-exact — the funnel-sizing rule adaptive retrieval ships
    * with). */
  private[graft] val MrlRerankR = 64

  /** q147's body: MATRYOSHKA adaptive retrieval (Kusupati et al.
    * NeurIPS'22 §4 "adaptive retrieval", the serving shape OpenAI-style
    * truncatable embeddings exist for): the cheap first stage scores
    * candidates on only the FIRST [[MrlDims]] dims — dPrime/D of the
    * memory bandwidth, the whole point at 100 TB — then the top-R
    * survivors are re-ranked at FULL dimension (the q123 rerank
    * discipline). Both stages are the proven q35 cosine kernel pair on
    * sliced/full arrays, so the chain is exactly replayable; the recall
    * profile of the truncated stage depends on the embedding being
    * MRL-trained (front-loaded information) — on the synthetic corpus
    * the first-k dims are just a coordinate projection, which is the
    * honest floor, and the rerank tail still recovers it (AnnRecallSpec
    * measures both). */
  private[graft] def matryoshkaTop5(s: SparkSession, dir: String,
      dPrime: Int = MrlDims, rerankR: Int = MrlRerankR): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .filter(col("qid") < 10)
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val first = c.join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        cosineSim(slice(col("qe"), 1, dPrime),
          slice(col("ce"), 1, dPrime)).as("cosd"))
      .transform(topIds(_, col("cosd"), rerankR))
    exactRerank(e, first, q, "cos")(cosineSim)
      .transform(ranked(_, col("cos"), 5, "cosine"))
  }

  /** (vec_id, cell, embedding=float residual v − cent(cell)) — the
    * by_residual corpus q136 trains/encodes on; shared with the
    * AnnRecallSpec reproducibility device. */
  private[graft] def residualCorpus(s: SparkSession, dir: String,
      maxVec: Long): DataFrame = {
    val coarse = lloydCentroids(s, dir, 8, 3, maxVec)
    val centArr = array(coarse.map(c => array(c.map(lit): _*)): _*)
    corpusSlice(s, dir, maxVec).select(col("vec_id"),
        NearestCentroid.cell(col("embedding"), coarse).as("cell"),
        col("embedding"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), element_at(centArr, col("cell") + 1),
          (x, c) => (x.cast("double") - c).cast("float")).as("embedding"))
      .localCheckpoint(eager = false)
  }

  /** q136's body: by_residual IVF-PQ ADC top-5. Residual = one narrow
    * zip_with against the per-cell centroid literal, FLOAT-cast in both
    * engines (the q132 rotated-corpus precedent — the cast pins the
    * value set both chains train on); training/encoding rides the
    * standing pqCodebooks/PqExpr machinery via the src override; the LUT
    * is per (probe, PROBED cell) — by_residual's serve-time cost: the
    * float-cast query residual qr = (qe − c).toFloat, element-wise the
    * residualCorpus cast, then [[pqLutLocal]] over qr. */
  private[graft] def ivfPqResidualTop5(s: SparkSession, dir: String,
      maxVec: Long = Long.MaxValue): DataFrame = {
    val coarse = lloydCentroids(s, dir, 8, 3, maxVec)
    val res = residualCorpus(s, dir, maxVec)
    val pq = pqCodebooks(s, dir, PqM, PqK, PqIters, maxVec = maxVec,
      src = Some(res.select(col("vec_id"), col("embedding"))),
      srcTag = "resid")
    val enc = res.select(col("vec_id"), col("cell"),
      org.apache.spark.sql.graft.PqExpr
        .encode(col("embedding"), pq).as("codes"))
    val lut = probeLuts(s, collectProbes(corpusSlice(s, dir, maxVec)),
        Some((coarse, 2))) { (qe, cell) =>
      pqLutLocal(Array.tabulate(qe.length)(
        i => (qe(i).toDouble - coarse(cell)(i)).toFloat), pq)
    }
    adcTop5(adcScores(enc, lut))
  }

  /** q137's body: the q125 sharded-store recipe applied to the ANN
    * index — IVF-PQ codes round-trip through a CELL-PARTITIONED parquet
    * store and retrieval reads ONLY the probed cells' directories
    * (partition pruning on the `cell=` path), the property that lets a
    * 100 TB vector index serve probes from a fraction of the store. The
    * serve is [[adcProbeServe]]: codes/cells/ids are integers so the
    * store round-trip is exact, and the ADC arithmetic is q97's verbatim
    * — output ≡ q97, which is exactly what the oracle checks (same SQL;
    * the store changes WHERE bytes live, never what they say).
    * AnnRecallSpec additionally pins result ≡ q97 in-engine and that the
    * serve scan carries a partition filter. */
  private val ShardedServe = new ArtifactCache.Kind[DataFrame]("shardedServe")

  private[graft] def annShardedStoreServe(s: SparkSession, dir: String,
      maxVec: Long = IvfPqGateSlice): DataFrame =
    ArtifactCache(s, dir, ShardedServe, maxVec)(
      annShardedStoreServeUncached(s, dir, maxVec))

  private def annShardedStoreServeUncached(s: SparkSession, dir: String,
      maxVec: Long): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("q137_store").toString
    try {
      val coarse = lloydCentroids(s, dir, 8, 3, maxVec)
      val pq = pqCodebooks(s, dir, PqM, PqK, PqIters, maxVec = maxVec)
      val e = corpusSlice(s, dir, maxVec)
      e.select(col("vec_id"),
          NearestCentroid.cell(col("embedding"), coarse).as("cell"),
          org.apache.spark.sql.graft.PqExpr
            .encode(col("embedding"), pq).as("codes"))
        .repartition(col("cell"))
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite").partitionBy("cell").parquet(s"$base/ivfpq")
      adcProbeServe(e, s.read.parquet(s"$base/ivfpq"), coarse, pq, 2, "q137")
    } finally {
      // the checkpointed result no longer needs the store; a throw above
      // must not leak the temp directory either
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  private val VecIngestServe = new ArtifactCache.Kind[DataFrame]("vecIngestServe")

  /** q144's body: STREAMING ingest into the q137 store —
    * [[graft.streaming.VectorStoreIngest]] (Structured Streaming
    * AvailableNow, one micro-batch per file, foreachBatch assign+encode
    * against FROZEN artifacts trained on the standing slice) — then the
    * q137 serve over the resulting multi-batch store. Store layout is
    * `batch=<id>/cell=<c>/`: the deterministic batch subdir makes replay
    * idempotent (the [[graft.streaming.DedupIngest]] discipline) and the
    * nested cell dirs keep the serve partition-pruned across every batch
    * (self-verified below, the q137 check). End state ≡ a one-shot
    * encode of the full slice with the same frozen artifacts — assignment
    * and encoding are per-row, so batch boundaries cannot change either
    * (the [[assignIncremental]] equivalence, asserted in-engine by
    * AnnRecallSpec); the oracle replays the SAME chain with training CTEs
    * restricted to the standing slice ([[ivfPqOracleSql]] trainWhere). */
  /** `cuts` = extra batch boundaries inside [split, maxVec) — None is the
    * gate's default (one mid cut ⇒ two ingest micro-batches); the spec
    * passes explicit cuts to prove the end state is batch-boundary
    * INVARIANT through the actual streaming machinery. */
  private[graft] def vectorStoreIngestServe(s: SparkSession, dir: String,
      maxVec: Long = IvfPqGateSlice,
      split: Long = IvfPqIngestSplit,
      cuts: Option[Seq[Long]] = None): DataFrame = {
    val cutList = cuts.getOrElse(Seq((split + maxVec) / 2))
    ArtifactCache(s, dir, VecIngestServe, maxVec, split, cutList)(
      vectorStoreIngestServeUncached(s, dir, maxVec, split, cutList))
  }

  private def vectorStoreIngestServeUncached(s: SparkSession, dir: String,
      maxVec: Long, split: Long, cuts: Seq[Long]): DataFrame = {
    // FROZEN artifacts, trained on the standing slice ONLY — the batches
    // never feed training (drift-triggered retraining is
    // [[assignIncremental]]'s hook; the gate freezes so the end state is
    // exactly replayable)
    val coarse = lloydCentroids(s, dir, 8, 3, split)
    val pq = pqCodebooks(s, dir, PqM, PqK, PqIters, maxVec = split)
    val e = corpusSlice(s, dir, maxVec)
    val base = java.nio.file.Files.createTempDirectory("q144_store").toString
    try {
      val inDir = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      // deterministic micro-batches: the standing slice, then the ingest
      // ranges cut at `cuts` — one FILE each (maxFilesPerTrigger=1 ⇒ one
      // micro-batch per file). Batch CONTENT is deterministic; the end
      // state is a union, so batch arrival order cannot matter.
      val bounds = (Seq(split) ++ cuts.filter(c => c > split && c < maxVec)
        .sorted ++ Seq(maxVec)).distinct
      val ranges = (0L, split) +: bounds.zip(bounds.tail)
      ranges.zipWithIndex
        .foreach { case ((lo, hi), i) =>
          val stage = s"$base/stage$i"
          e.filter(col("vec_id") >= lo && col("vec_id") < hi)
            .coalesce(1).write.mode("overwrite").parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .find(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".parquet")).get
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(inDir, s"b$i.parquet"))
        }
      graft.streaming.VectorStoreIngest.start(s, inDir, e.schema,
        s"$base/store", s"$base/ckpt", coarse, pq).awaitTermination()
      val store = s.read.parquet(s"$base/store")
      adcProbeServe(e, store, coarse, pq, 2, "q144")
    } finally {
      // the checkpointed result no longer needs the store; a throw above
      // must not leak the temp directory either
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  /** The q137/q144/q150 ADC probe serve over a `cell=`-partitioned store
    * frame: probes are the `e` rows with vec_id < 10; the pipeline's
    * [[probeLuts]] gives each probe its LUT and nprobe nearest coarse
    * cells, and the store scan reads only those cells — the cell list is
    * driver state from [[nearestCellsLocal]], and the scan's partition
    * filter is self-verified against the physical plan (directory pruning
    * is the property the store layout exists for; inside EVERY batch dir
    * of a multi-batch store). Candidates are scored by the fixed-order ADC
    * sum, top-5 by (adc, cid). One serve for all three store gates, so the
    * drift-lifecycle gate (q150) serves its final-epoch store through the
    * IDENTICAL plan. */
  private[graft] def adcProbeServe(e: DataFrame, store: DataFrame,
      coarse: Seq[Seq[Double]], pq: Seq[Seq[Seq[Double]]],
      nprobe: Int, gateName: String): DataFrame = {
    val probes = collectProbes(e)
    val cells = probes.flatMap { case (_, qe) =>
      nearestCellsLocal(qe, coarse, nprobe) }.distinct.sorted
    val pruned = store.filter(col("cell").isin(cells.toSeq: _*))
    requirePartFilter(pruned, "cell", s"$gateName serve")
    adcTop5(adcScores(pruned, probeLuts(e.sparkSession, probes,
        Some((coarse, nprobe)))((qe, _) => pqLutLocal(qe, pq))))
      .localCheckpoint(eager = true) // the store dir is deleted on return
  }

  /** Self-verifying serve: the scan of `df` must carry a partition filter
    * on `column` (directory pruning) — if a refactor ever demotes it to a
    * post-scan filter, serving would silently read the whole store. The
    * scan node's partitionFilters expressions are inspected directly (not
    * the plan's string rendering, which is renderer/version fragile). */
  private def requirePartFilter(df: DataFrame, column: String,
      what: String): Unit = {
    val partFilters = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.partitionFilters
    }.flatten
    require(partFilters.exists(_.references.exists(_.name == column)),
      s"$what scan lost its $column partition filter:\n" +
        df.queryExecution.executedPlan.toString)
  }

  /** Total bytes of the regular files under `p` (store accounting). */
  private def dirBytes(p: java.nio.file.Path): Long = {
    val st = java.nio.file.Files.walk(p)
    try st.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally st.close()
  }

  /** q150's drift-lifecycle geometry: the drifted micro-batch is the
    * first [[DriftBatchSlice]] corpus vectors re-keyed past
    * [[DriftIdOffset]] and scaled ×3 — float multiplication by a
    * small-mantissa constant is exact in double, so the DuckDB oracle's
    * CAST(x * 3.0 AS FLOAT) reproduces Spark's float product bit for
    * bit. ×3 pushes the batch's mean nearest-cell distance ~an order of
    * magnitude past the baseline — unambiguously over the 2× retrain
    * bar, the way +25-shift is in AnnRecallSpec's drift test. */
  private[graft] val DriftBatchSlice = 100L
  private[graft] val DriftIdOffset = 200000L

  private val DriftServe = new ArtifactCache.Kind[DataFrame]("driftServe")

  /** q150's body: the STREAMING DRIFT-RETRAIN lifecycle
    * ([[graft.streaming.DriftingVectorStore]]) driven end to end — the
    * deployment path q144 deliberately freezes. The standing slice
    * trains the initial artifacts and lands as epoch 0; micro-batch A
    * (the rest of the gate slice — in-distribution) scores ratio ≈ 1
    * and appends under the frozen artifacts; micro-batch B (corpus
    * vectors scaled ×3 — planted drift) scores an order of magnitude
    * over the 2× bar, triggering retrain on store ∪ batch and a
    * distributed re-encode into epoch 1. The gate serves the q137 ADC
    * probe over the FINAL epoch and carries the lifecycle evidence
    * (per-batch drift ratios, retrain flags, retrain count) as columns;
    * the oracle replays all three candidate quantizer chains (initial,
    * after-A, after-B), DERIVES both branch decisions from the same
    * ratios, CASE-selects the surviving artifacts and serves the same
    * probes — so a lifecycle that retrained when it shouldn't (or
    * didn't when it should) hash-mismatches, not just differs in a
    * flag. */
  private[graft] def driftRetrainServe(s: SparkSession,
      dir: String): DataFrame =
    ArtifactCache(s, dir, DriftServe)(driftRetrainServeUncached(s, dir))

  private def driftRetrainServeUncached(s: SparkSession,
      dir: String): DataFrame = {
    val (k, iters, nprobe) = (8, 3, 2)
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < IvfPqGateSlice)
    val standing = e.filter(col("vec_id") < IvfPqIngestSplit)
    val batchA = e.filter(col("vec_id") >= IvfPqIngestSplit)
    val batchB = emb(s, dir).filter(col("vec_id") < DriftBatchSlice)
      .select((col("vec_id") + DriftIdOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(3.0f)).as("embedding"))
    val base = java.nio.file.Files.createTempDirectory("q150_store").toString
    try {
      val inDir = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      // one file per micro-batch, A before B: FileStreamSource orders by
      // modification time, pinned explicitly so the lifecycle order (and
      // therefore which batch meets which artifacts) is deterministic
      Seq(batchA, batchB).zipWithIndex.foreach { case (b, i) =>
        val stage = s"$base/stage$i"
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).get
        val dest = java.nio.file.Paths.get(inDir, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000L))
      }
      val dvs = new graft.streaming.DriftingVectorStore(
        s"$base/store", k, iters, PqM, PqK, PqIters)
      dvs.init(s, standing)
      dvs.start(inDir, standing.schema, s"$base/ckpt").awaitTermination()
      val reps = dvs.reports
      require(reps.size == 2,
        s"q150 lifecycle expected 2 micro-batches, saw ${reps.size}")
      val summary = s.range(1).select(
        round(lit(reps(0).driftRatio), 4).as("ratio_a"),
        lit(reps(0).retrained).as("retrained_a"),
        round(lit(reps(1).driftRatio), 4).as("ratio_b"),
        lit(reps(1).retrained).as("retrained_b"),
        lit(dvs.retrains).as("n_retrains"))
      adcProbeServe(e, dvs.store, dvs.coarse, dvs.pq, nprobe, "q150")
        .crossJoin(broadcast(summary))
        .localCheckpoint(eager = true)
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  /** q141: id-range shard width of the graph store. Range sharding (not
    * cell) because graph serving fetches records BY NODE ID — the shard
    * of any frontier id is pure driver arithmetic (floor(id/W)), no
    * embedding lookup, exactly DiskANN's id→block address step. W ≥
    * NnSeeds so the fixed entry seeds (lowest ids) live in shard 0. */
  private[graft] val GraphShardW = 64L

  private val GraphServe = new ArtifactCache.Kind[DataFrame]("graphServe")

  /** (touched store bytes, total store bytes) of the last q141 serve —
    * the serve-bytes fraction measurement scale probes read. */
  private[graft] val lastGraphServeBytes =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))

  /** q141's body: a DiskANN/Vamana-shape SHARDED GRAPH STORE — q131's
    * incremental ingest composed with q137's partitioned persistence, so
    * graph ADJACENCY itself round-trips through partition-pruned parquet:
    * build the NN-Descent graph on the store slice, ingest the batch via
    * [[graft.operators.NnDescent.insertBatch]], persist BOTH the
    * end-state adjacency and the vectors as id-range-sharded parquet
    * (`shard=` directories), then beam-search FROM THE FILES — every hop
    * reads only the shards the frontier names (adjacency expansion) and
    * the shards the candidates live in (vector fetch for scoring),
    * collected as bounded driver state (≤ beam·probes ids per hop — the
    * navigation state a DiskANN frontend holds). Per-query serve cost is
    * Θ(hops · beam · degree) RECORDS READ, independent of corpus size —
    * the property that lets a 100 TB graph index serve from a fraction
    * of the store. The store round-trip is exact (longs + doubles), so
    * serving ≡ in-memory [[graft.operators.NnDescent.graphSearch]] over
    * the same end-state graph — asserted in-engine by AnnRecallSpec and
    * cross-engine by the oracle (ingest chain + beam descent CTEs).
    * Both pruned scans self-verify their partition filter (the q137
    * FileSourceScanExec check). */
  private[graft] def graphShardedStoreServe(s: SparkSession, dir: String,
      slice: Long = GraphGateSlice,
      split: Long = RpIngestSplit,
      serveDriverMax: Long = graft.operators.NnDescent.DriverMaxVectors)
      : DataFrame =
    ArtifactCache(s, dir, GraphServe, slice, split, serveDriverMax)(
      graphShardedStoreServeUncached(s, dir, slice, split, serveDriverMax))

  /** Builds the q141 sharded store (vec + adj + seeds tiers) under
    * `base` — factored from the gate body so GraphServeSpec can drive a
    * LONG-LIVED [[GraphServeSession]] over a persistent store. */
  private[graft] def buildGraphShardedStore(s: SparkSession, dir: String,
      slice: Long, split: Long, base: String): Unit = {
    val e = emb(s, dir).filter(col("vec_id") < slice)
      .select(col("vec_id"), col("embedding"))
    val endState = cachedEndStateGraph(s, dir, slice, split)
    val coarse = lloydCentroids(s, dir, 8, 3, maxVec = slice)
    writeGraphStore(s, e, endState, coarse, base)
  }

  /** Persist a graph + vectors as the q141 sharded store at `base` —
    * factored from [[buildGraphShardedStore]] so probes can lay out a
    * store over ANY (vectors, adjacency, quantizer) triple.
    *
    * CELL-CLUSTERED layout (the graph-reordering technique of the
    * DiskANN/Starling disk-layout literature): nodes shard by their
    * COARSE CELL (the shared IVF artifact), sub-sharded by id hash to
    * ~GraphShardW rows per shard. Beam neighbors are cosine-similar →
    * same few cells → the walk's reads CLUSTER, where the previous
    * id-range layout scattered the frontier across every shard
    * (measured 93.6% of the store read at 30×). Routing needs no
    * global id→shard directory: every adjacency row CARRIES its
    * target's shard (nid_shard — DiskANN's neighbor-offset-in-record
    * trick), and the entry seeds ship as store metadata. */
  private[graft] def writeGraphStore(s: SparkSession, e: DataFrame,
      endState: DataFrame, coarse: Seq[Seq[Double]], base: String): Unit = {
      val nVecs = e.count()
      val subShards = math.max(1L,
        (nVecs + 8 * GraphShardW - 1) / (8 * GraphShardW))
      val withCell = e.select(col("vec_id"), col("embedding"),
        (NearestCentroid.cell(col("embedding"), coarse).cast("long")
          * subShards + pmod(xxhash64(col("vec_id")), lit(subShards)))
          .cast("int").as("shard"))
      val nodeShard = withCell.select(col("vec_id"), col("shard"))
      withCell
        .repartition(col("shard")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$base/vec")
      endState.select(col("vec_id"), col("nid"))
        .join(nodeShard, Seq("vec_id"))
        .join(nodeShard.select(col("vec_id").as("nid"),
          col("shard").as("nid_shard")), Seq("nid"))
        .repartition(col("shard")).sortWithinPartitions("vec_id")
        .write.mode("overwrite").partitionBy("shard").parquet(s"$base/adj")
      // entry metadata: the NnSeeds lowest ids + their shards (a
      // frontend loads this beside the centroids, never scans the store)
      nodeShard.orderBy("vec_id").limit(NnSeeds)
        .select(col("vec_id").as("nid"), col("shard"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/seeds")
  }

  /** q158's probe-wave size: 10³+ probes — the batch scale at which the
    * driver-tier frontend would funnel, and the forced-distributed loop
    * is the right tier (r15 verdict item 3). Probes are query vectors
    * only — they need not live in the store, so the wave spans the full
    * embeddings id range. */
  private[graft] val BatchProbeMax = 1024L

  private val GraphBatchServe = new ArtifactCache.Kind[DataFrame]("graphBatchServe")

  /** q158's body: DISTRIBUTED BATCH SERVE through the q141 sharded
    * store — the same store build, the same navigation arithmetic, but
    * the probe wave is [[BatchProbeMax]] queries pushed through the
    * executor-tier loop ([[distributedStoreServe]]): probes ride ONE
    * broadcast, each hop's kernel work is Θ(|probes|·beam·degree) on
    * executors, and each hop's reads are partition-pruned to the
    * frontier's shards (self-verified). Serve-bytes fraction lands in
    * [[lastGraphServeBytes]]; GraphServeProbe pins wall ∝ probes and
    * flat in corpus size. */
  private[graft] def graphBatchServe(s: SparkSession, dir: String,
      probeMax: Long = BatchProbeMax): DataFrame =
    ArtifactCache(s, dir, GraphBatchServe, probeMax)(
      graphBatchServeUncached(s, dir, probeMax))

  private val GraphEntryServe = new ArtifactCache.Kind[DataFrame]("graphEntryServe")

  /** q165's body — the ENTRY-DISCIPLINED batch serve: the same q141
    * store and the same per-hop navigation as q158, but each probe's
    * descent STARTS from its single best entry seed (bm0 cut = 1 —
    * DiskANN's actual shape) instead of carrying every seed into hop 1,
    * and the wave is served as cell-grouped concurrent sub-waves. This
    * was the lever the r16 grouped-wave negative pointed at; the probe
    * MEASURED it and the locality claim does NOT hold here either:
    * per-group touched-shard fraction stays ~100% (degree-8 × NnHops
    * fan-out reaches every cell of these stores within two hops —
    * shard locality needs graph-aware sharding of the adjacency, not
    * entry discipline; SCALE.md records both negatives). What the
    * entry cut DOES measurably change is the navigation itself: top-5
    * agreement with the all-seed walk is 0.88/0.70/0.61 at 1×/10×/30×
    * (GraphServeProbe's `overlap_vs_flat`) — the recall a production
    * single-entry stack pays for its cheaper hop-1 — which is why this
    * ships as its OWN gate beside q158 rather than replacing it. */
  private[graft] def graphEntryServe(s: SparkSession, dir: String,
      probeMax: Long = BatchProbeMax): DataFrame =
    ArtifactCache(s, dir, GraphEntryServe, probeMax) {
      val base = java.nio.file.Files.createTempDirectory("q165_store").toString
      try {
        buildGraphShardedStore(s, dir, GraphGateSlice, RpIngestSplit, base)
        val probes = emb(s, dir).filter(col("vec_id") < probeMax)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val touched = scala.collection.mutable.Set[Int]()
        val out = distributedStoreServeGrouped(s, base, probes,
          lloydCentroids(s, dir, 8, 3, maxVec = GraphGateSlice), touched,
          entryCut = 1)
        recordServeBytes(base, touched)
        out
      } finally {
        graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
      }
    }

  /** q167's body — RRF hybrid retrieval. The lexical list is q119's
    * gated output verbatim (probe selection included: lowest-id docs of
    * ≥ 40 tokens with a usable term); the semantic list is the q39 IVF
    * cell search for exactly those probe ids (shared quantizer artifact
    * — [[lloydCentroids]] trains once per (session, dir)); fusion is a
    * full outer join of two bounded ranked lists. Every hot-path piece
    * (postings build, heap top-k, cell-pruned candidate join) is the
    * already-audited plan of its home gate. */
  private[graft] def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val topK = IndexOps.rrfTopK
    // bm25TopK is the per-(session, dir) checkpointed artifact shared
    // with q119 (r18) — both the fuse and the probe set read it, and the
    // extra eager checkpoint that used to truncate it here is redundant
    val lex = IndexOps.bm25TopK(s, dir)
      .select(col("probe_doc").as("qid"), col("doc_id").as("cid"),
        col("rnk").as("lex_rnk"))
    val probeIds = lex.select(col("qid")).distinct()
    val cents = lloydCentroids(s, dir, 8, 3)
    val assigned = emb(s, dir).select(col("vec_id"), col("embedding"),
      NearestCentroid.cell(col("embedding"), cents).as("cell"))
    val probes = assigned.join(broadcast(probeIds),
        assigned("vec_id") === probeIds("qid"))
      .select(col("qid"), col("embedding").as("qe"), col("cell"))
    val sem = assigned
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"), cosineSim(col("qe"), col("ce")).as("cos"))
      .transform(ranked(_, col("cos"), topK, "cosine"))
      .select(col("qid"), col("cid"), col("rnk").as("sem_rnk"))
    val fused = lex.join(sem, Seq("qid", "cid"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rnk").cast("double")),
          lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("sem_rnk").cast("double")),
          lit(0.0)))
    // ≤ 2·topK fused rows per probe — the window sorts a bounded list
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("rrf").desc, col("cid"))
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"),
        round(col("rrf"), 6).as("rrf"),
        coalesce(col("lex_rnk"), lit(0L)).as("lex_rnk"),
        coalesce(col("sem_rnk"), lit(0L)).as("sem_rnk"))
  }

  private def graphBatchServeUncached(s: SparkSession, dir: String,
      probeMax: Long): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("q158_store").toString
    try {
      buildGraphShardedStore(s, dir, GraphGateSlice, RpIngestSplit, base)
      val probes = emb(s, dir).filter(col("vec_id") < probeMax)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val touched = scala.collection.mutable.Set[Int]()
      // FLAT wave, deliberately: r16 verdict item 3 proposed grouping
      // the wave by seed shard to restore locality; the grouped serve
      // was BUILT ([[distributedStoreServeGrouped]] — row-identical by
      // construction) and MEASURED (GraphServeProbe): per-group
      // touched-shard fraction stays 100% at every scale, because hop 1
      // expands the GLOBAL entry seeds' neighborhoods (which span every
      // cell) for every probe, and hash sub-sharding sprays each cell's
      // nodes across its sub-shards. Wave composition is not the
      // locality lever on this store geometry — the entry discipline
      // is (per-probe single-seed descent would change navigation
      // semantics and every congruent replica of it). The flat wave is
      // therefore strictly better: same reads, one job chain instead of
      // G. SCALE.md quotes the negative result.
      val out = distributedStoreServe(s, base, probes, touched)
      recordServeBytes(base, touched)
      out
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  private def graphShardedStoreServeUncached(s: SparkSession,
      dir: String, slice: Long, split: Long,
      serveDriverMax: Long): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("q141_store").toString
    try {
      buildGraphShardedStore(s, dir, slice, split, base)
      val e = emb(s, dir).filter(col("vec_id") < slice)
        .select(col("vec_id"), col("embedding"))
      val adjStore = s.read.parquet(s"$base/adj")
      val vecStore = s.read.parquet(s"$base/vec")
      val touched = scala.collection.mutable.Set[Int]()
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      // DRIVER-TIER serve (the q133 gate precedent, and literally the
      // DiskANN frontend shape): the navigation state — beam, frontier,
      // shard block cache — is bounded and driver-sized; each needed
      // shard is ONE pruned file read, cached for the walk. The
      // distributed loop below is the same navigation for corpora whose
      // per-shard blocks exceed a frontend; past the gate it takes over
      // untouched. Bit-identical by the graphSearchLocal argument (same
      // kernel doubles, same heap order, final rounding through the
      // same Spark expression).
      if (serveDriverMax > 0) {
        val probeCnt = e.take(
          graft.operators.DriverTier.probeLimit(serveDriverMax))
        if (probeCnt.length <= serveDriverMax) {
          val out = graphServeLocal(s, base, probeCnt, touched)
          recordServeBytes(base, touched)
          return out
        }
      }
      val out = distributedStoreServe(s, base, probes, touched)
      recordServeBytes(base, touched)
      out
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  /** The FORCED-DISTRIBUTED beam serve over a sharded graph store at
    * `base` — the executor-tier navigation loop (the driver-tier
    * [[GraphServeSession]] is bit-identical for frontend-sized batches;
    * THIS is the path a batch of 10³+ probes takes, r15 verdict item 3):
    * every hop reads ONLY the shards the frontier names (partition
    * filters self-verified on both tiers), probes ride ONE broadcast,
    * and per-hop cost is Θ(|probes|·beam·degree) kernel evaluations on
    * executors — ∝ probes, flat in corpus size (GraphServeProbe
    * measures exactly that). Visited-shard routing state is bounded by
    * the walk (seeds ∪ carried nid_shard), never corpus-sized. */
  /** `entryCut` — how many seed-scored entries the descent STARTS from
    * (the bm0 cut): 0 ⇒ the full beam (the historical q141/q158
    * navigation — all seeds survive into hop 1); 1 ⇒ DiskANN's actual
    * single-entry discipline (q165), the locality lever the grouped-wave
    * measurement identified (each probe's walk grows from ITS entry's
    * neighborhood instead of every seed's). */
  private[graft] def distributedStoreServe(s: SparkSession, base: String,
      probes: DataFrame,
      touched: scala.collection.mutable.Set[Int],
      entryCut: Int = 0): DataFrame = {
      val adjStore = s.read.parquet(s"$base/adj")
      val vecStore = s.read.parquet(s"$base/vec")
      // ---- serve: everything below reads ONLY the sharded store ----
      def topW(scored: DataFrame, w: Int): DataFrame =
        scored.groupBy("qid", "nid").agg(max(col("cos")).as("cos"))
          .groupBy("qid")
          .agg(org.apache.spark.sql.graft.TopKByScore.columnFor(
            col("cos"), col("nid"), w).as("top"))
          .select(col("qid"), explode(col("top")).as("e"))
          .select(col("qid"), col("e.payload").as("nid"),
            col("e.score").as("cos"))
      var checked = false
      // the visited-node shard directory: seeds ∪ every expansion's
      // carried nid_shard — bounded by the walk's visited set (≤
      // hops·beam·degree·|probes| rows), the serve tier's OWN state
      var known = s.read.parquet(s"$base/seeds")
        .localCheckpoint(eager = true)
      def shardsOf(ids: DataFrame): Array[Int] = {
        val sh = ids.join(known, Seq("nid"))
          .select("shard").distinct().collect().map(_.getInt(0))
        touched ++= sh
        sh
      }
      def scoreQ(pairs: DataFrame): DataFrame = {
        val p = pairs.localCheckpoint(eager = true)
        val vecs = vecStore
          .filter(col("shard").isin(shardsOf(p.select("nid")).toSeq: _*))
          .select(col("vec_id").as("nid"), col("embedding").as("ne"))
        if (!checked) { requirePartFilter(vecs, "shard", "q141 vector"); checked = true }
        p.join(broadcast(probes), "qid")
          .join(vecs, "nid")
          .select(col("qid"), col("nid"),
            cosineSim(col("qe"), col("ne")).as("cos"))
      }
      var bm = topW(scoreQ(probes.select(col("qid"))
          .crossJoin(broadcast(known.select(col("nid"))))),
          if (entryCut > 0) entryCut else NnBeam)
        .localCheckpoint(eager = true)
      for (_ <- 1 to NnHops) {
        val adjP = adjStore.filter(col("shard")
          .isin(shardsOf(bm.select("nid")).toSeq: _*))
        requirePartFilter(adjP, "shard", "q141 adjacency")
        val expand = bm.select(col("qid"), col("nid"))
          .join(adjP.select(col("vec_id").as("nid"), col("nid").as("cand"),
            col("nid_shard")), "nid")
          .select(col("qid"), col("cand").as("nid"), col("nid_shard"))
          .distinct()
          .localCheckpoint(eager = true)
        known = known.unionByName(
            expand.select(col("nid"), col("nid_shard").as("shard")))
          .distinct()
          .localCheckpoint(eager = true)
        bm = topW(scoreQ(expand.select("qid", "nid")).unionByName(bm), NnBeam)
          .localCheckpoint(eager = true)
      }
      bm.filter(col("nid") =!= col("qid"))
        .transform(ranked(_, col("cos"), 5, "cosine", payload = "nid"))
        .localCheckpoint(eager = true)
  }

  /** One group's locality record from the last GROUPED batch serve. */
  private[graft] final case class GroupedServeStat(cell: Int,
      probes: Long, touchedShards: Int, totalShards: Int) {
    def frac: Double = touchedShards.toDouble / math.max(totalShards, 1)
  }

  /** Per-group stats of the last [[distributedStoreServeGrouped]] call —
    * GraphServeProbe reads these for its touched-shard-fraction column. */
  private[graft] val lastGroupedServeStats =
    new java.util.concurrent.atomic.AtomicReference[Seq[GroupedServeStat]](
      Seq.empty)

  /** CELL-GROUPED batch serve waves — BUILT for r16 verdict item 3 and
    * MEASURED AS A NEGATIVE RESULT (kept as the measurement apparatus;
    * the q158 gate serves the flat wave). The hypothesis: the flat 10³
    * wave touches ~100% of the store per hop only because its hops name
    * every probe's frontier at once, so grouping the wave by each
    * probe's NEAREST COARSE CELL (the store's own clustering key) should
    * restore per-group shard locality. The measurement (GraphServeProbe,
    * 1×/10×/30×): per-group touched fraction stays 100.0% at every
    * scale — because (i) hop 1 expands the GLOBAL entry seeds'
    * neighborhoods, which span every cell, for every probe in every
    * group, and (ii) the hash sub-shard component sprays a single
    * cell's nodes across its ~n/(8·W) sub-shards, so even a perfectly
    * cell-local walk touches them all once its candidate count passes
    * the sub-shard count. Wave composition is NOT the locality lever on
    * this geometry; the lever is the ENTRY discipline (per-probe
    * single-seed descent), which would change navigation semantics and
    * every congruent replica of it (driver tier, oracle CTEs) — future
    * work, documented in SCALE.md.
    *
    * What the apparatus still proves: results are IDENTICAL to the flat
    * wave by construction — every join in [[distributedStoreServe]]
    * keys on (qid, nid) and the per-hop shard filter only widens the
    * candidate side, so a probe's walk is a pure function of the probe
    * alone (GraphServeProbe asserts flat ≡ grouped row-for-row;
    * GraphServeSpec extends the driver-tier equality to this path).
    * Groups run as CONCURRENT driver threads (bounded pool) — each an
    * independent job DAG, as a cluster would overlap them. Per-group
    * touched-shard fractions land in [[lastGroupedServeStats]]. */
  private[graft] def distributedStoreServeGrouped(s: SparkSession,
      base: String, probes: DataFrame, coarse: Seq[Seq[Double]],
      touched: scala.collection.mutable.Set[Int],
      entryCut: Int = 0): DataFrame = {
    val byCell = probes
      .select(col("qid"), col("qe"),
        NearestCentroid.cell(col("qe"), coarse).as("pcell"))
      .localCheckpoint(eager = true)
    val cells = byCell.select("pcell").distinct().collect()
      .map(_.getInt(0)).sorted
    val totalShards = {
      val d = java.nio.file.Paths.get(base, "vec")
      val st = java.nio.file.Files.list(d)
      try st.filter(p => p.getFileName.toString.startsWith("shard="))
        .count().toInt
      finally st.close()
    }
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(cells.length, 4)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futs = cells.toSeq.map { c =>
        Future {
          val gp = byCell.filter(col("pcell") === c).select("qid", "qe")
            .localCheckpoint(eager = true)
          val t = scala.collection.mutable.Set[Int]()
          val out = distributedStoreServe(s, base, gp, t, entryCut)
          (c, gp.count(), t.toSet, out)
        }
      }
      val res = futs.map(Await.result(_, Duration.Inf))
      res.foreach { case (_, _, t, _) => touched ++= t }
      lastGroupedServeStats.set(res.map { case (c, np, t, _) =>
        GroupedServeStat(c, np, t.size, totalShards)
      })
      res.map(_._4).reduce(_ unionByName _)
    } finally pool.shutdown()
  }

  /** Serve-bytes fraction: touched shard directories vs the whole store. */
  private def recordServeBytes(base: String,
      touched: scala.collection.mutable.Set[Int]): Unit = {
    val baseP = java.nio.file.Paths.get(base)
    val total = dirBytes(baseP)
    val touchedBytes = touched.toSeq.map { sh =>
      Seq("adj", "vec").map { sub =>
        val d = baseP.resolve(sub).resolve(s"shard=$sh")
        if (java.nio.file.Files.exists(d)) dirBytes(d) else 0L
      }.sum
    }.sum
    lastGraphServeBytes.set((touchedBytes, total))
  }

  /** Long-lived q141 DRIVER-TIER SERVE SESSION over a sharded graph
    * store — the DiskANN frontend object: entry seeds and the shard
    * BLOCK CACHE persist across serve waves, and the cache is
    * LRU-CAPPED at `maxShards` entries (r14 verdict nit 1: the uncapped
    * per-walk cache was fine for one gate serve, but a frontend walking
    * an unbounded store over its lifetime accumulated shards without
    * bound). Each wave's missing shards load in ONE batched multi-path
    * parquet read (basePath keeps the `shard` partition column so rows
    * group into per-shard blocks; per-shard lazy loads cost a scheduler
    * round-trip each — measured as q141's 87-job census outlier).
    * Eviction is invisible to results by construction: blocks are
    * immutable snapshots of their shard directory and re-load on demand
    * the next time a walk names them; the per-wave id→shard routing map
    * is rebuilt from the seeds + the adjacency rows' carried nid_shard,
    * so no cross-wave state grows with the store. GraphServeSpec
    * asserts multi-wave serves under a cap of 2 equal fresh-session
    * serves row for row. */
  private[graft] final class GraphServeSession(s: SparkSession,
      base: String, maxShards: Int = 1024) {
    import graft.operators.NnDescent.{cosLocal, heapOrder}
    private final case class Block(
        vecs: Map[Long, Array[Float]],
        adjs: Map[Long, IndexedSeq[(Long, Int)]])
    // accessOrder = true: get() refreshes recency; the eldest entry past
    // the cap is dropped at put() time — textbook LRU, zero bookkeeping
    private val blocks =
      new java.util.LinkedHashMap[Integer, Block](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Integer, Block]): Boolean =
          size() > maxShards
      }
    private[graft] def loadedShards: Int = blocks.size()
    val touched = scala.collection.mutable.Set[Int]()
    private val seedRows = s.read.parquet(s"$base/seeds")
      .select("nid", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1)))

    private def existing(sub: String, shs: Iterable[Int]): Seq[String] =
      shs.toSeq.sorted.map(sh => s"$base/$sub/shard=$sh")
        .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
    private[graft] def cachedShardKeys: Set[Int] = {
      import scala.jdk.CollectionConverters._
      blocks.keySet().asScala.map(_.intValue()).toSet
    }
    private[graft] def ensure(shs: Iterable[Int]): Unit = {
      val all = shs.toSet
      val need = all.filter(sh => !blocks.containsKey(sh))
      // refresh recency of the batch's ALREADY-CACHED shards before any
      // put: containsKey does not update LinkedHashMap access order, so
      // without the get() pass a new shard's put could evict a cached
      // shard of the SAME batch before it is consumed — silently dropping
      // its beam candidates under a small cap (r15 advice, medium)
      (all -- need).foreach(sh => blocks.get(sh))
      if (need.isEmpty) return
      touched ++= need
      def readTier(sub: String): Map[Int, Array[org.apache.spark.sql.Row]] = {
        val dirs = existing(sub, need)
        if (dirs.isEmpty) Map.empty
        else s.read.option("basePath", s"$base/$sub").parquet(dirs: _*)
          .collect().groupBy(_.getAs[Int]("shard"))
      }
      val vecRows = readTier("vec")
      val adjRows = readTier("adj")
      need.foreach { sh =>
        blocks.put(sh, Block(
          vecRows.getOrElse(sh, Array.empty).map(r =>
            r.getAs[Long]("vec_id") ->
              r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap,
          adjRows.getOrElse(sh, Array.empty).groupBy(_.getAs[Long]("vec_id"))
            .map { case (v, rs) => v -> rs.map(r =>
              (r.getAs[Long]("nid"), r.getAs[Int]("nid_shard")))
              .toIndexedSeq }))
      }
    }
    private[graft] def vecOf(id: Long, sh: Int): Option[Array[Float]] =
      Option(blocks.get(sh)).flatMap(_.vecs.get(id))
    private def adjOf(id: Long, sh: Int): IndexedSeq[(Long, Int)] =
      Option(blocks.get(sh)).map(_.adjs.getOrElse(id, IndexedSeq.empty))
        .getOrElse(IndexedSeq.empty)

    /** One serve wave: beam navigation for `probes` (qid, vector). Same
      * arithmetic as the distributed loop (kernel doubles, Double.compare
      * desc / id asc heap, set-dedupe, 4dp through Spark round). */
    def serve(probes: Array[(Long, Array[Float])]): DataFrame = {
      import s.implicits._
      // per-WAVE id→shard routing: seeds ∪ every adjacency row's carried
      // nid_shard — bounded by this wave's visited set, dies with it
      val shardDir = scala.collection.mutable.Map[Long, Int]()
      shardDir ++= seedRows
      val qe = probes.toMap
      val seedIds = seedRows.map(_._1).toSeq.sorted
      def topW(scored: Iterable[(Long, Long, Double)],
          w: Int): Map[Long, IndexedSeq[(Long, Double)]] =
        scored.groupBy(_._1).map { case (q, ps) =>
          q -> ps.map(p => (p._2, p._3)).toSet.toIndexedSeq
            .sortWith(heapOrder).take(w)
        }
      // a hop whose frontier spans more shards than the cap streams over
      // cap-sized shard batches (load → consume → advance): residency
      // never exceeds maxShards no matter how wide the walk, and at the
      // default cap every hop is still ONE batched multi-path read
      def overShardBatches[A, B](items: Iterable[(Int, A)])(
          f: (Int, A) => Iterator[B]): Seq[B] = {
        val byShard = items.groupBy(_._1)
        byShard.keySet.toSeq.sorted.grouped(maxShards).flatMap { grp =>
          ensure(grp)
          grp.iterator.flatMap(sh =>
            byShard(sh).iterator.flatMap { case (_, a) => f(sh, a) })
        }.toSeq
      }
      def scoreQ(pairs: Iterable[(Long, Long)]): Iterable[(Long, Long, Double)] =
        overShardBatches(pairs.flatMap(p =>
          shardDir.get(p._2).map(sh => (sh, p)))) { case (sh, (q, nid)) =>
          vecOf(nid, sh).map(v => (q, nid, cosLocal(qe(q), v))).iterator
        }
      var bm = topW(scoreQ(for (q <- probes.toSeq; sd <- seedIds)
        yield (q._1, sd)), NnBeam)
      for (_ <- 1 to NnHops) {
        val beamNodes = bm.iterator.flatMap { case (q, ns) =>
          ns.iterator.map(p => (shardDir(p._1), (q, p._1))) }.toSeq
        val expand = overShardBatches(beamNodes) { case (sh, (q, node)) =>
          adjOf(node, sh).iterator.map { case (c, csh) =>
            shardDir.update(c, csh)
            (q, c)
          }
        }.toSet
        val standing = bm.iterator.flatMap { case (q, ns) =>
          ns.map(p => (q, p._1, p._2)) }.toIndexedSeq
        bm = topW(scoreQ(expand) ++ standing, NnBeam)
      }
      val out = bm.iterator.flatMap { case (q, ns) =>
        ns.filter(_._1 != q).sortWith(heapOrder).take(5)
          .zipWithIndex.map { case ((nid, cos), i) =>
            (q, nid, cos, (i + 1).toLong) }
      }.toIndexedSeq
      out.toDF("qid", "nid", "cos", "rnk")
        .select(col("qid"), col("nid"), round(col("cos"), 4).as("cosine"),
          col("rnk"))
        .localCheckpoint(eager = true)
    }
  }

  /** The q141 driver-tier serve: one [[GraphServeSession]] wave (the
    * gate's single-serve shape; a long-lived frontend holds the session
    * and calls serve() per probe wave). */
  private def graphServeLocal(s: SparkSession, base: String,
      probeRows: Array[org.apache.spark.sql.Row],
      touched: scala.collection.mutable.Set[Int]): DataFrame = {
    val sess = new GraphServeSession(s, base)
    val out = sess.serve(probeRows.filter(_.getLong(0) < 10L)
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)))
    touched ++= sess.touched
    out
  }

  /** q123's body: ADC top-R cut, exact raw-cosine re-rank, top-5. */
  private[graft] def ivfPqRerank(s: SparkSession, dir: String,
      maxVec: Long = Long.MaxValue): DataFrame = {
    val e = corpusSlice(s, dir, maxVec)
    // ONE probe collect shared by the ADC LUT and the re-rank's probe
    // side (r18): the probe vectors are a 10-row local relation instead of
    // a second corpus scan + broadcast build — same values (the collected
    // floats ARE the scanned floats), one fewer job.
    val probes = collectProbes(e)
    val cand = ivfPqAdcCandidates(s, dir, nprobe = 6, maxVec, Some(probes))
      .transform(topIds(_, negate(col("adc")) + lit(0.0), 64))
    import s.implicits._
    exactRerank(e, cand, probes.toSeq.toDF("qid", "qe"), "cos")(cosineSim)
      .transform(ranked(_, col("cos"), 5, "cosine"))
  }

  /** The fitted PCA basis as an artifact keyed by k — see
    * [[graft.operators.Pca.fit]]; the artifact-persistence shape of
    * [[lloydCentroids]]. */
  private val PcaBasis = new ArtifactCache.Kind[graft.operators.Pca.Basis]("pcaBasis")

  private[graft] def pcaBasis(s: SparkSession, dir: String, k: Int): graft.operators.Pca.Basis =
    ArtifactCache(s, dir, PcaBasis, k)(
      graft.operators.Pca.fit(emb(s, dir), "embedding", Dim, k))

  // ---- The DuckDB oracles. Each generator below composes one SQL twin per
  // serving-pipeline stage — topIdsSql (top-R cut), rankedSql (top-k
  // emission), nearestCellsSql (nprobe cell ranking, Lloyd assignment),
  // probeLutSql (per-probe LUT) and adcSql (ADC score) — the way the Spark
  // bodies compose topIds, ranked, nearestCellsLocal, probeLuts and
  // adcScores. The emitted SQL is the gate's reference; OracleSqlPinSpec
  // pins every oracle token for token.

  /** Twin of [[topIds]]: per `key`, the `inner` projection of `src`
    * ranked by `order` (row_number, so the payload tiebreak is part of
    * `order`) and kept where `$rn $cut` — "<= R" for a top-R cut, "= 1"
    * for an argmin; `cols` is what survives. Unparenthesized. */
  private def topIdsSql(src: String, order: String, cut: String,
      cols: String = "qid, cid", key: String = "qid", inner: String = "",
      rn: String = "rn"): String =
    s"""SELECT $cols FROM (
       |  SELECT ${if (inner.isEmpty) cols else inner},
       |         row_number() OVER (PARTITION BY $key
       |           ORDER BY $order) AS $rn
       |  FROM $src) WHERE $rn $cut""".stripMargin

  /** Twin of [[ranked]]: the top-k emission tail (key, payload,
    * round(score, 4) AS name, rnk) by (score [DESC], payload); the graph
    * members emit the rank `castRnk` to BIGINT. */
  private def rankedSql(src: String, score: String, name: String, k: Int = 5,
      desc: Boolean = true, key: String = "qid", payload: String = "cid",
      castRnk: Boolean = false): String =
    topIdsSql(src, s"$score${if (desc) " DESC" else ""}, $payload", s"<= $k",
      cols = s"$key, $payload, round($score, 4) AS $name, " +
        (if (castRnk) "CAST(rnk AS BIGINT) AS rnk" else "rnk"),
      key = key, inner = s"$key, $payload, $score", rn = "rnk")

  /** The graph family's (key, nid, cos) cut by (cos DESC, nid). */
  private def nbrCutSql(key: String, src: String, cut: String): String =
    topIdsSql(src, "cos DESC, nid", cut, cols = s"$key, nid, cos", key = key)

  /** A beam / neighbour-list cut: `src`'s (key, nid) scores max-deduped,
    * then the top `w` per key. */
  private def topWSql(src: String, w: Int, key: String = "qid"): String =
    s"""(${nbrCutSql(key, s"""(SELECT $key, nid, max(cos) AS cos FROM $src
       |         GROUP BY 1, 2)""".stripMargin, s"<= $w")})"""

  /** A descent's exits: the top `n` (qid, nid) of beam `bm`, self excluded. */
  private def exitsSql(bm: String, n: Int): String =
    s"(${topIdsSql(s"$bm WHERE nid <> qid", "cos DESC, nid", s"<= $n", cols = "qid, nid")})"

  /** Twin of [[nearestCellsLocal]]: each `q` row of `from` against the
    * `cents` (cell, cent) rows, ranked by squared L2 of `q.vec` (the
    * ascending-i sum NearestCentroidExpr accumulates — list_distance's
    * sqrt could merge distinct squared distances and let the cell
    * tiebreak diverge from Spark's strict `<`), then cell; `cut` "<=
    * nprobe" probes cells, "= 1" is the Lloyd assignment. `cols` (first =
    * partition key) carry through. */
  private def nearestCellsSql(cents: String, cut: String, cols: Seq[String],
      vec: String = "v", q: String = "pr0", from: String = "pr0"): String =
    topIdsSql(s"$from, $cents c",
      s"""list_sum([($q.$vec[i]-c.cent[i])*($q.$vec[i]-c.cent[i])
         |                              FOR i IN range(1, ${Dim + 1})]),
         |                    c.cell""".stripMargin, cut,
      cols = (cols :+ "cell").mkString(", "), key = s"$q.${cols.head}",
      inner = (cols.map(c => s"$q.$c") :+ "c.cell").mkString(", "))

  /** Twin of [[probeLuts]]' LUT: per (probe, sub, cell) of codebooks
    * `books`, the subvector kernel — squared L2, or ⟨q_m, cent⟩ when
    * `ip`. `residual` (q136) reads the per-probed-cell residual `prr.qr`
    * and keys the LUT by that cell (pcell) too. */
  private def probeLutSql(m: Int, books: String, ip: Boolean = false,
      residual: Boolean = false): String = {
    val sub = Dim / m
    val (p, keys, v, qv) =
      if (residual) ("prr", Seq("qid", "pcell"), "qr", "qsv")
      else ("pr0", Seq("qid"), "v", "qv")
    val d = if (ip) s"$qv[i]*cent[i]" else s"($qv[i]-cent[i])*($qv[i]-cent[i])"
    s"""lut AS MATERIALIZED (SELECT ${keys.mkString(", ")}, sub, cell,
       |               list_sum([$d
       |                         FOR i IN range(1, ${sub + 1})]) AS d
       |        FROM (SELECT ${keys.map(k => s"$p.$k").mkString(", ")}, c.sub, c.cell, c.cent,
       |                     list_slice($p.$v, CAST(c.sub * $sub + 1 AS INTEGER),
       |                                      CAST(c.sub * $sub + $sub AS INTEGER)) AS $qv
       |              FROM $p, $books c))""".stripMargin
  }

  /** The `codes` pivot: one row per vector of the `paf` (vec_id, sub,
    * cell) encode, c0 … c{m-1}. */
  private def codesSql(m: Int, paf: String): String = {
    val codeCols = (0 until m).map(i =>
      s"max(CASE WHEN sub = $i THEN cell END) AS c$i").mkString(",\n         ")
    s"""codes AS MATERIALIZED (SELECT vec_id AS cid,
       |         $codeCols
       |          FROM $paf GROUP BY vec_id)""".stripMargin
  }

  /** The corpus rows of index `idx` (vec_id, cell) in each probe's `pr`
    * cells, self excluded, joined to their codes. */
  private def probedCodesSql(idx: String): String =
    s"""$idx a JOIN pr ON a.cell = pr.cell AND a.vec_id != pr.qid
       |       JOIN codes cd ON cd.cid = a.vec_id""".stripMargin

  /** Twin of [[adcScores]]: `sc` carries each (probe, candidate) pair
    * `pairs` selects from `from` with the candidate's m codes, `sadc`
    * scores it as the fixed-order sum l0.d + l1.d + … (the Spark loop's
    * association order, so shared code words tie exactly), joined on the
    * probed cell too when `pcell`. */
  private def adcSql(m: Int, pairs: String, from: String, score: String,
      pcell: Boolean = false): String = {
    val joins = (0 until m).map(i =>
      s"JOIN lut l$i ON l$i.qid = sc.qid${if (pcell) s" AND l$i.pcell = sc.pcell" else ""} " +
        s"AND l$i.sub = $i AND l$i.cell = sc.c$i").mkString("\n         ")
    s"""sc AS ($pairs, ${(0 until m).map(i => s"cd.c$i").mkString(", ")}
       |       FROM $from),
       |sadc AS (SELECT sc.qid, sc.cid, ${(0 until m).map(i => s"l$i.d").mkString(" + ")} AS $score
       |         FROM sc
       |         $joins)""".stripMargin
  }

  /** Twin of [[topIds]] → [[exactRerank]] → [[ranked]] over `sadc`: the
    * top-R ADC cut `radc` by `adcOrder`, the exact `kernel` re-score of
    * the survivors against the raw vectors, the top-5 emission. */
  private def rerankSql(adcOrder: String, r: Int, kernel: String,
      score: String, name: String): String =
    s"""radc AS (${topIdsSql("sadc", adcOrder, s"<= $r")}),
       |rex AS (SELECT r.qid, r.cid, $kernel AS $score
       |        FROM radc r JOIN pr0 q ON q.qid = r.qid
       |        JOIN e c ON c.vec_id = r.cid)
       |${rankedSql("rex", score, name)}""".stripMargin

  /** The corpus CTE every IVF oracle reads: (vec_id, v DOUBLE[]). */
  private def eSql(where: String): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |           WHERE $where)""".stripMargin

  /** `iters` unrolled Lloyd rounds: round `it` assigns against
    * `${c}{it-1}` into `${a}it` and updates into `${c}it`. */
  private def lloydRoundsSql(iters: Int, c: String, a: String)(
      assign: (String, String) => String,
      update: (String, String, String) => String): String =
    (1 to iters).map { it =>
      assign(s"$c${it - 1}", s"$a$it") + ",\n" +
        update(s"$a$it", s"$c${it - 1}", s"$c$it")
    }.mkString(",\n")

  /** DuckDB CTE chain replicating the deterministic Lloyd refinement
    * ([[lloydCentroids]]): assignment = row_number over (distance, cell) —
    * the same lowest-index-on-tie rule as NearestCentroidExpr's strict `<`
    * — and update = per-(cell, position) mean rounded to 6 decimals, empty
    * cells keeping their previous centroid. Returns the WITH-prefix up
    * through `af` (final assignment) and `c$iters` (final centroids);
    * shared by the q39 and q79 oracles. */
  private def ivfPrefixSql(k: Int, iters: Int,
      where: String = "TRUE", trainWhere: String = "TRUE"): String =
    s"""WITH ${eSql(where)},
       |${ivfChainSql(k, iters, trainWhere)}""".stripMargin

  /** The coarse-quantizer Lloyd chain alone (c0 … c$iters, af), assuming
    * an `e` (vec_id, v) CTE is already in scope — the [[ivfPrefixSql]]
    * body, factored so multi-chain oracles (q150's drift lifecycle
    * replays THREE quantizers in one query) can instantiate it several
    * times under distinct CTE-name prefixes. pfx = "" (every historical
    * caller) emits the round-14 text byte-identically. */
  private def ivfChainSql(k: Int, iters: Int, trainWhere: String = "TRUE",
      pfx: String = ""): String = {
    // trainWhere restricts the TRAINING rows (seeds + Lloyd iterations)
    // while the final `af` assignment still covers every `e` row — the
    // q144 frozen-artifact ingest contract. "TRUE" (every other caller)
    // emits the historical text unchanged.
    val train = if (trainWhere == "TRUE") "e" else s"${pfx}etr"
    def assign(cent: String, out: String, src: String = "e") =
      s"""$out AS (${nearestCellsSql(cent, "= 1", Seq("vec_id", "v"), q = "e",
        from = if (src == "e") "e" else s"$src e")})"""
    def update(assigned: String, prevCent: String, out: String) =
      s"""${out}m AS (SELECT a.cell, i, round(avg(a.v[i]), 6) AS m
         |  FROM $assigned a, range(1, ${Dim + 1}) t(i) GROUP BY a.cell, i),
         |$out AS (SELECT p.cell, coalesce(n.cent, p.cent) AS cent
         |  FROM $prevCent p LEFT JOIN
         |    (SELECT cell, list(m ORDER BY i) AS cent FROM ${out}m
         |     GROUP BY cell) n USING (cell))""".stripMargin
    val etrCte =
      if (train == "e") ""
      else s"${pfx}etr AS (SELECT * FROM e WHERE $trainWhere),\n"
    s"""${etrCte}${pfx}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
       |              AS cell, v AS cent
       |       FROM (SELECT vec_id, v FROM $train ORDER BY vec_id LIMIT $k)),
       |${lloydRoundsSql(iters, s"${pfx}c", s"${pfx}a")(assign(_, _, train), update)},
       |${assign(s"${pfx}c$iters", s"${pfx}af")}""".stripMargin
  }

  /** The PQ training chain shared by [[pqPrefixSql]] and
    * [[anisoPqChainSql]]: `es` (vec_id × sub → subvector of `src`, read
    * as `esFrom`), the deterministic 1-in-PqTrainMod training sample
    * `est` (restricted by `trainWhere`), seeds `p0` = the k lowest-vec_id
    * sample subvectors per sub, `iters` rounds of `assign` (on `est`) and
    * `update`, and the final `paf` assignment of EVERY `es` row. */
  private def pqChainSql(m: Int, k: Int, iters: Int, src: String,
      esFrom: String, mat: String = "", trainWhere: String = "TRUE",
      pfx: String = "")(assign: (String, String, String) => String,
      update: (String, String, String) => String): String = {
    val sub = Dim / m
    // trainWhere restricts the training sample (est) and therefore the
    // seeds + every Lloyd update, while `paf` still encodes EVERY es row —
    // mirrors pqCodebooks(maxVec = split) exactly: the sample stride's
    // count(*) runs over the SAME restricted rows the Spark side counts
    val trainPred = if (trainWhere == "TRUE") "" else s"$trainWhere AND "
    val trainCnt = if (trainWhere == "TRUE") "" else s" WHERE $trainWhere"
    s"""${pfx}es AS $mat(SELECT e.vec_id, t.sub,
       |          list_slice(e.v, CAST(t.sub * $sub + 1 AS INTEGER),
       |                          CAST(t.sub * $sub + $sub AS INTEGER)) AS sv
       |       FROM $esFrom, range(0, $m) t(sub)),
       |${pfx}est AS $mat(SELECT * FROM ${pfx}es WHERE ${trainPred}vec_id %
       |          (SELECT GREATEST(1, CAST(ceil(count(*) / $PqTrainTarget.0)
       |                                   AS BIGINT)) FROM $src$trainCnt) = 0),
       |${pfx}p0 AS (${topIdsSql(s"${pfx}est", "vec_id", s"<= $k",
          cols = "sub, CAST(rn - 1 AS INTEGER) AS cell, sv AS cent", key = "sub",
          inner = "sub, sv")}),
       |${lloydRoundsSql(iters, s"${pfx}p", s"${pfx}pa")(
          assign(_, _, s"${pfx}est"), update)},
       |${assign(s"${pfx}p$iters", s"${pfx}paf", s"${pfx}es")}""".stripMargin
  }

  /** DuckDB CTE chain replicating the per-subspace PQ codebook training
    * ([[pqCodebooks]]): the [[pqChainSql]] recipe with the [[ivfPrefixSql]]
    * assignment (row_number over (squared-subspace-L2, cell)) and update
    * (6-decimal-rounded per-(sub, cell, position) mean, empty cells
    * keeping their previous centroid). Emits `es`, `p$iters` (final
    * codebooks) and `paf` (final code assignment).
    * `src` = the (vec_id, v) CTE the PQ chain trains on and encodes —
    * "e" for the raw corpus (q97/q123), a residual relation for q136.
    * `materialize` emits MATERIALIZED subvector CTEs — required when src
    * is itself a derived chain (DuckDB inlines multi-referenced CTEs, so
    * est's four references would each replay the residual chain; measured
    * 40.5 → ~14 s on the q136 oracle at sf0.1). */
  private def pqPrefixSql(m: Int, k: Int, iters: Int,
      src: String = "e", materialize: Boolean = false,
      trainWhere: String = "TRUE", pfx: String = ""): String = {
    val sub = Dim / m
    def assign(cent: String, out: String, src: String) =
      s"""$out AS (${topIdsSql(s"$src es JOIN $cent c ON es.sub = c.sub",
        s"""list_sum([(es.sv[i]-c.cent[i])*(es.sv[i]-c.cent[i])
           |                              FOR i IN range(1, ${sub + 1})]),
           |                    c.cell""".stripMargin, "= 1",
        cols = "vec_id, sub, sv, cell", key = "es.vec_id, es.sub",
        inner = "es.vec_id, es.sub, es.sv, c.cell")})"""
    def update(assigned: String, prevCent: String, out: String) =
      s"""${out}m AS (SELECT sub, cell, i, round(avg(sv[i]), 6) AS m
         |  FROM $assigned, range(1, ${sub + 1}) t(i) GROUP BY sub, cell, i),
         |$out AS (SELECT p.sub, p.cell, coalesce(n.cent, p.cent) AS cent
         |  FROM $prevCent p LEFT JOIN
         |    (SELECT sub, cell, list(m ORDER BY i) AS cent FROM ${out}m
         |     GROUP BY sub, cell) n USING (sub, cell))""".stripMargin
    pqChainSql(m, k, iters, src, s"$src e", if (materialize) "MATERIALIZED " else "",
      trainWhere, pfx)(assign, update)
  }

  /** q97: nprobe=2 coarse-cell candidate restriction (ranked against the
    * final coarse centroids `c$iters`, ties (d, cell) — rank 1 ≡
    * NearestCentroid's strict-< rule) + PQ/ADC scoring. The LUT and the
    * fixed-order ADC sum `l0.d + l1.d + … + l15.d` mirror the Spark
    * plan's association order literally, so candidates sharing a code
    * word tie EXACTLY in both engines (tie → lower cid). */
  private def ivfPqSadcSql(k: Int, iters: Int, m: Int, pk: Int,
      pqIters: Int, nprobe: Int,
      where: String = s"vec_id < $IvfPqGateSlice",
      trainWhere: String = "TRUE"): String =
    s"""${ivfPrefixSql(k, iters, where, trainWhere)},
       |${pqPrefixSql(m, pk, pqIters, trainWhere = trainWhere)},
       |${codesSql(m, "paf")},
       |pr0 AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 10),
       |pr AS MATERIALIZED (${nearestCellsSql(s"c$iters", s"<= $nprobe", Seq("qid", "v"))}),
       |${probeLutSql(m, s"p$pqIters")},
       |${adcSql(m, "SELECT pr.qid, a.vec_id AS cid", probedCodesSql("af"), "adc")}""".stripMargin

  /** q136: the q97 chain with RESIDUAL encoding — er float-casts
    * (v − cent) exactly as the Spark zip_with does, the PQ chain trains
    * on er via the src parameter, and the LUT carries the PROBED cell as
    * an extra key (pcell) because the query residual differs per probed
    * cell. Everything else is the ivfPqSadcSql recipe verbatim. */
  private def ivfPqResidualOracleSql(k: Int, iters: Int, m: Int, pk: Int,
      pqIters: Int, nprobe: Int,
      where: String = s"vec_id < $IvfPqGateSlice"): String =
    s"""${ivfPrefixSql(k, iters, where)},
       |er AS MATERIALIZED (SELECT a.vec_id,
       |         [CAST(CAST(a.v[i] - c.cent[i] AS FLOAT) AS DOUBLE)
       |          FOR i IN range(1, ${Dim + 1})] AS v
       |       FROM af a JOIN c$iters c USING (cell)),
       |${pqPrefixSql(m, pk, pqIters, src = "er", materialize = true)},
       |${codesSql(m, "paf")},
       |pr0 AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 10),
       |pr AS MATERIALIZED (${nearestCellsSql(s"c$iters", s"<= $nprobe", Seq("qid", "v"))}),
       |prr AS MATERIALIZED (SELECT pr.qid, pr.cell AS pcell,
       |          [CAST(CAST(pr.v[i] - c.cent[i] AS FLOAT) AS DOUBLE)
       |           FOR i IN range(1, ${Dim + 1})] AS qr
       |        FROM pr JOIN c$iters c USING (cell)),
       |${probeLutSql(m, s"p$pqIters", residual = true)},
       |${adcSql(m, "SELECT pr.qid, pr.cell AS pcell, a.vec_id AS cid",
          probedCodesSql("af"), "adc", pcell = true)}
       |${rankedSql("sadc", "adc", "adc_dist", desc = false)}""".stripMargin

  /** q145: the anisotropic PQ chain unrolled — assignment CTEs rank by
    * the anisotropic loss rr + w·rx²/xx (same accumulator order as the
    * generated Spark loop), update CTEs aggregate the 6dp-rounded
    * per-(sub, cell) means of the normal equations
    * [I + mean(w·x̂x̂ᵀ)]c = eta·mean(x) and solve them by CRAMER with
    * determinants generated in the [[Perm4]] canonical term order — the
    * SAME expansion the driver evaluates, so on the identical rounded
    * inputs both engines produce bit-identical centroids. Serve is the
    * inner-product ADC (lut = ⟨q_m, cent⟩ per (probe, sub, cell), sum in
    * fixed order) ranked DESC. */
  /** The anisotropic chain's CTE list (no WITH header; expects `e` in
    * scope): the [[pqChainSql]] recipe with the loss-ranked assignment
    * and Cramer update, then the `codes` pivot. Shared by the q145 oracle
    * and the q146 stack oracle. */
  private def anisoPqChainSql(m: Int, pk: Int, iters: Int,
      eta: Double): String = {
    val sub = Dim / m
    require(sub == 4, "anisoPqChainSql: Cramer generated for sub=4")
    val w = eta - 1.0
    def assign(cent: String, out: String, src: String) =
      s"""$out AS (${topIdsSql(
        s"""(SELECT es.vec_id, es.sub, es.sv, c.cell,
           |           list_sum([(es.sv[i]-c.cent[i])*(es.sv[i]-c.cent[i])
           |                     FOR i IN range(1, ${sub + 1})]) AS rr,
           |           list_sum([(es.sv[i]-c.cent[i])*es.sv[i]
           |                     FOR i IN range(1, ${sub + 1})]) AS rx,
           |           list_sum([es.sv[i]*es.sv[i]
           |                     FOR i IN range(1, ${sub + 1})]) AS xx
           |        FROM $src es JOIN $cent c ON es.sub = c.sub)""".stripMargin,
        s"""rr + (CASE WHEN xx < 1e-12 THEN 0.0
           |                          ELSE $w*rx*rx/xx END), cell""".stripMargin,
        "= 1", cols = "vec_id, sub, sv, cell", key = "vec_id, sub")})"""
    def update(assigned: String, prevCent: String, out: String) = {
      val bCols = (0 until sub).map(d =>
        s"round(avg(sv[${d + 1}]), 6) AS b$d").mkString(",\n         ")
      val aCols = (for (d <- 0 until sub; e2 <- d until sub) yield
        s"round(avg($w*sv[${d + 1}]*sv[${e2 + 1}]*inv), 6) AS a${d}_$e2")
        .mkString(",\n         ")
      def aEnt(i: Int, j: Int): String = {
        val (lo, hi) = if (i <= j) (i, j) else (j, i)
        if (i == j) s"(1 + a${lo}_$hi)" else s"a${lo}_$hi"
      }
      def rhsEnt(i: Int) = s"($eta*b$i)"
      val dA = det4Sql(aEnt)
      val solved = (0 until sub).map { d =>
        val dd = det4Sql((i, j) => if (j == d) rhsEnt(i) else aEnt(i, j))
        s"round(($dd)/($dA), 6)"
      }.mkString(", ")
      val xxList = s"list_sum([sv[i]*sv[i] FOR i IN range(1, ${sub + 1})])"
      s"""${out}s AS (SELECT sub, cell,
         |         $bCols,
         |         $aCols
         |  FROM (SELECT sub, cell, sv,
         |          CASE WHEN $xxList < 1e-12 THEN 0.0
         |               ELSE 1.0/$xxList END AS inv
         |        FROM $assigned) GROUP BY sub, cell),
         |$out AS (SELECT p.sub, p.cell, coalesce(n.cent, p.cent) AS cent
         |  FROM $prevCent p LEFT JOIN
         |    (SELECT sub, cell, [$solved] AS cent FROM ${out}s) n
         |  USING (sub, cell))""".stripMargin
    }
    s"""${pqChainSql(m, pk, iters, "e", "e")(assign, update)},
       |${codesSql(m, "paf")}""".stripMargin
  }

  private def anisoPqOracleSql(m: Int, pk: Int, iters: Int, eta: Double,
      where: String = s"vec_id < $IvfPqGateSlice"): String =
    s"""WITH ${eSql(where)},
       |${anisoPqChainSql(m, pk, iters, eta)},
       |pr0 AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 10),
       |${probeLutSql(m, s"p$iters", ip = true)},
       |${adcSql(m, "SELECT pr0.qid, cd.cid", "pr0, codes cd WHERE cd.cid != pr0.qid", "ip")}
       |${rankedSql("sadc", "ip", "ip_score")}""".stripMargin

  /** q146: the full stack — [[ivfPrefixSql]]'s coarse chain (e … af, the
    * q97 spelling) + the anisotropic chain + nprobe cell probing + the
    * cell-restricted IP-ADC + the top-R cut + exact inner-product
    * re-rank over the raw vectors. */
  /** `soar = true` adds the q159 spill-2 index CTEs (SOAR loss, exact
    * λ) and probes through the widened index with an exact dedupe; the
    * default emits the q146 text byte-identically (the pfx rule). */
  private def scannStackOracleSql(k: Int, iters: Int, m: Int, pk: Int,
      pqIters: Int, eta: Double, nprobe: Int, rerankR: Int,
      where: String = s"vec_id < $IvfPqGateSlice",
      soar: Boolean = false, soarLambda: String = "1.0"): String = {
    def sq(v: String, c: String) =
      s"list_sum([($v[i]-$c.cent[i])*($v[i]-$c.cent[i]) FOR i IN range(1, ${Dim + 1})])"
    val dr =
      s"list_sum([(p.v[i]-c.cent[i])*(p.v[i]-p.cent1[i]) FOR i IN range(1, ${Dim + 1})])"
    val soarCtes = if (!soar) "" else
      s"""sp1 AS MATERIALIZED (SELECT a.vec_id, a.v, a.cell AS cell1,
         |       c.cent AS cent1, ${sq("a.v", "c")} AS d1
         |     FROM af a JOIN c$iters c ON c.cell = a.cell),
         |soar AS MATERIALIZED (${topIdsSql(s"sp1 p, c$iters c WHERE c.cell <> p.cell1",
           s"""CASE WHEN p.d1 = 0.0 THEN ${sq("p.v", "c")}
              |                ELSE ${sq("p.v", "c")}
              |                     + $soarLambda * $dr * $dr / p.d1 END,
              |           c.cell""".stripMargin, "= 1",
           cols = "vec_id, cell", key = "p.vec_id", inner = "p.vec_id, c.cell")}),
         |afx AS (SELECT vec_id, cell FROM af
         |        UNION ALL SELECT vec_id, cell FROM soar),
         |""".stripMargin
    val idxSrc = if (soar) "afx" else "af"
    val scSel = if (soar) "SELECT DISTINCT" else "SELECT"
    s"""${ivfPrefixSql(k, iters, where)},
       |${anisoPqChainSql(m, pk, pqIters, eta)},
       |${soarCtes}pr0 AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 10),
       |pr AS MATERIALIZED (${nearestCellsSql(s"c$iters", s"<= $nprobe", Seq("qid"))}),
       |${probeLutSql(m, s"p$pqIters", ip = true)},
       |${adcSql(m, s"$scSel pr.qid, a.vec_id AS cid", probedCodesSql(idxSrc), "ip")},
       |${rerankSql("ip DESC, cid", rerankR,
          s"list_sum([q.v[i]*c.v[i] FOR i IN range(1, ${Dim + 1})])", "ip", "ip_score")}""".stripMargin
  }

  /** q148: the MMR greedy trajectory unrolled — step 1 picks argmax
    * λ·rel − (1−λ)·0.0 (the same expression shape the Spark loop
    * evaluates with ms = 0.0), each later step computes every remaining
    * candidate's exact max-cosine to the selected set and picks argmax
    * (mmr DESC, vec_id). Cosines are the proven kernel pair and max is
    * exact, so the trajectories agree bit-for-bit. */
  /** `funnelR` = 0 emits the corpus-wide q148 text unchanged; > 0
    * prepends q147's truncated-dim top-R funnel and the greedy runs
    * over ONLY the funnel (the q151 serving composition). */
  private def mmrOracleSql(lambda: Double, k: Int,
      funnelR: Int = 0): String = {
    val mu = 1.0 - lambda
    // ms aggregates GROUP BY the bigint vec_id ONLY (grouping on the
    // 64-element list column measured 307 s at sf0.1 — the list hash
    // key, not the cosines, was the bill); v/rel join back from the
    // MATERIALIZED r afterwards
    val steps = (2 to k).map { i =>
      s"""m${i - 1} AS (SELECT r.vec_id,
         |    max(list_cosine_similarity(r.v, c.v)) AS ms
         |  FROM r, c${i - 1} c
         |  WHERE r.vec_id NOT IN (SELECT vec_id FROM c${i - 1})
         |  GROUP BY r.vec_id),
         |p$i AS (SELECT r.vec_id, r.v, $lambda*r.rel - $mu*m.ms AS mmr
         |        FROM r JOIN m${i - 1} m USING (vec_id)
         |        ORDER BY $lambda*r.rel - $mu*m.ms DESC, r.vec_id LIMIT 1),
         |c$i AS MATERIALIZED (SELECT * FROM c${i - 1}
         |        UNION ALL SELECT vec_id, v, $i, mmr FROM p$i)""".stripMargin
    }.mkString(",\n")
    val rCte = if (funnelR == 0)
      """r AS MATERIALIZED (SELECT e.vec_id, e.v,
        |        list_cosine_similarity(e.v, q.v) AS rel
        |      FROM e, q WHERE e.vec_id != 0),""".stripMargin
    else
      s"""s1 AS MATERIALIZED (SELECT e.vec_id, e.v,
         |        list_cosine_similarity(list_slice(e.v, 1, $MrlDims),
         |                               list_slice(q.v, 1, $MrlDims)) AS cosd
         |      FROM e, q WHERE e.vec_id != 0),
         |sr AS (SELECT vec_id, v FROM (
         |        SELECT vec_id, v,
         |               row_number() OVER (ORDER BY cosd DESC, vec_id) AS rn
         |        FROM s1) WHERE rn <= $funnelR),
         |r AS MATERIALIZED (SELECT sr.vec_id, sr.v,
         |        list_cosine_similarity(sr.v, q.v) AS rel
         |      FROM sr, q),""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT v FROM e WHERE vec_id = 0),
       |$rCte
       |c1 AS MATERIALIZED (SELECT vec_id, v, 1 AS ord, $lambda*rel - $mu*0.0 AS mmr
       |       FROM r
       |       ORDER BY $lambda*rel - $mu*0.0 DESC, vec_id LIMIT 1),
       |$steps
       |SELECT CAST(ord AS INT) AS sel_ord, vec_id, round(mmr, 4) AS mmr
       |FROM c$k""".stripMargin
  }

  private def ivfPqOracleSql(k: Int, iters: Int, m: Int, pk: Int,
      pqIters: Int, nprobe: Int = 2,
      trainWhere: String = "TRUE"): String =
    s"""${ivfPqSadcSql(k, iters, m, pk, pqIters, nprobe,
           trainWhere = trainWhere)}
       |${rankedSql("sadc", "adc", "adc_dist", desc = false)}""".stripMargin

  /** q150 oracle: the drift-retrain lifecycle replayed RELATIONALLY —
    * all three candidate quantizer chains (trained on standing /
    * standing∪A / standing∪A∪B) instantiated under distinct CTE-name
    * prefixes, the two drift ratios computed exactly as the engine's
    * meanCellDist (per-row min squared-L2 to the centroid set, averaged;
    * 4dp absorbs aggregation order), both retrain decisions DERIVED via
    * scalar-subquery comparisons (not hard-coded to the planted
    * outcome), the surviving artifacts CASE-selected, and the q144 ADC
    * probe served over the final encode. The emission tail carries the
    * summary columns through a CROSS JOIN inside the cut, so it is the
    * one ranked tail not spelled by [[rankedSql]]. */
  private def driftRetrainOracleSql(k: Int, iters: Int, m: Int, pk: Int,
      pqIters: Int, nprobe: Int): String = {
    val split = IvfPqIngestSplit
    val slice = IvfPqGateSlice
    val factor = "2.0"
    // engine meanCellDist ≡ avg over rows of min-over-centroids squared
    // L2 (the assigned centroid IS the min; ascending-i sum both sides)
    def meanMin(cents: String, where: String) =
      s"""(SELECT avg(md) FROM (
         |  SELECT e.vec_id,
         |         min(list_sum([(e.v[i]-c.cent[i])*(e.v[i]-c.cent[i])
         |                       FOR i IN range(1, ${Dim + 1})])) AS md
         |  FROM e, $cents c WHERE $where GROUP BY e.vec_id))""".stripMargin
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |  WHERE vec_id < $slice
       |  UNION ALL
       |  SELECT vec_id + $DriftIdOffset,
       |         list_transform(embedding, x -> CAST(x * 3.0 AS FLOAT))::DOUBLE[]
       |  FROM embeddings WHERE vec_id < $DriftBatchSlice),
       |${ivfChainSql(k, iters, s"vec_id < $split", "t0")},
       |${pqPrefixSql(m, pk, pqIters, trainWhere = s"vec_id < $split",
             materialize = true, pfx = "t0")},
       |${ivfChainSql(k, iters, s"vec_id < $slice", "t1")},
       |${pqPrefixSql(m, pk, pqIters, trainWhere = s"vec_id < $slice",
             materialize = true, pfx = "t1")},
       |${ivfChainSql(k, iters, "TRUE", "t2")},
       |${pqPrefixSql(m, pk, pqIters, materialize = true, pfx = "t2")},
       |b0 AS (SELECT ${meanMin(s"t0c$iters", s"e.vec_id < $split")} AS b),
       |ra AS (SELECT ${meanMin(s"t0c$iters",
                s"e.vec_id >= $split AND e.vec_id < $slice")}
       |              / (SELECT b FROM b0) AS r),
       |ca AS (SELECT * FROM t1c$iters WHERE (SELECT r FROM ra) > $factor
       |       UNION ALL
       |       SELECT * FROM t0c$iters
       |       WHERE NOT ((SELECT r FROM ra) > $factor)),
       |ba AS (SELECT CASE WHEN (SELECT r FROM ra) > $factor
       |              THEN ${meanMin(s"t1c$iters", s"e.vec_id < $slice")}
       |              ELSE (SELECT b FROM b0) END AS b),
       |rb AS (SELECT ${meanMin("ca", s"e.vec_id >= $DriftIdOffset")}
       |              / (SELECT b FROM ba) AS r),
       |fc AS (SELECT * FROM t2c$iters WHERE (SELECT r FROM rb) > $factor
       |       UNION ALL
       |       SELECT * FROM ca WHERE NOT ((SELECT r FROM rb) > $factor)),
       |fp AS (SELECT * FROM t2p$pqIters WHERE (SELECT r FROM rb) > $factor
       |       UNION ALL
       |       SELECT * FROM t1p$pqIters
       |       WHERE NOT ((SELECT r FROM rb) > $factor)
       |         AND (SELECT r FROM ra) > $factor
       |       UNION ALL
       |       SELECT * FROM t0p$pqIters
       |       WHERE NOT ((SELECT r FROM rb) > $factor)
       |         AND NOT ((SELECT r FROM ra) > $factor)),
       |fpaf AS (SELECT * FROM t2paf WHERE (SELECT r FROM rb) > $factor
       |       UNION ALL
       |       SELECT * FROM t1paf
       |       WHERE NOT ((SELECT r FROM rb) > $factor)
       |         AND (SELECT r FROM ra) > $factor
       |       UNION ALL
       |       SELECT * FROM t0paf
       |       WHERE NOT ((SELECT r FROM rb) > $factor)
       |         AND NOT ((SELECT r FROM ra) > $factor)),
       |faf AS (${nearestCellsSql("fc", "= 1", Seq("vec_id", "v"), q = "e", from = "e")}),
       |${codesSql(m, "fpaf")},
       |pr0 AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 10),
       |pr AS MATERIALIZED (${nearestCellsSql("fc", s"<= $nprobe", Seq("qid", "v"))}),
       |${probeLutSql(m, "fp")},
       |${adcSql(m, "SELECT pr.qid, a.vec_id AS cid", probedCodesSql("faf"), "adc")},
       |summary AS (SELECT round((SELECT r FROM ra), 4) AS ratio_a,
       |                   (SELECT r FROM ra) > $factor AS retrained_a,
       |                   round((SELECT r FROM rb), 4) AS ratio_b,
       |                   (SELECT r FROM rb) > $factor AS retrained_b,
       |                   CAST((CASE WHEN (SELECT r FROM ra) > $factor
       |                              THEN 1 ELSE 0 END) +
       |                        (CASE WHEN (SELECT r FROM rb) > $factor
       |                              THEN 1 ELSE 0 END) AS INTEGER)
       |                     AS n_retrains)
       |SELECT qid, cid, round(adc, 4) AS adc_dist, rnk,
       |       ratio_a, retrained_a, ratio_b, retrained_b, n_retrains
       |FROM (
       |  SELECT qid, cid, adc,
       |         row_number() OVER (PARTITION BY qid
       |                            ORDER BY adc, cid) AS rnk
       |  FROM sadc) CROSS JOIN summary WHERE rnk <= 5""".stripMargin
  }

  /** q163 oracle: the rotation-free RaBitQ chain replayed — k=1 Lloyd
    * centroid ([[ivfPrefixSql]] — c1's cell-0 centroid IS the
    * round(avg,6) corpus mean), per-vector sign codes + the (norm,
    * ⟨ō,x̄⟩) scalars, the unbiased estimator as index-ordered list_sum
    * comprehensions (≡ Spark's aggregate(zip_with) fold — the proven
    * sum-order recipe), est-desc/cid top-R, exact-cosine rerank top-5.
    * Multi-referenced derived CTEs are MATERIALIZED (the q148 lesson:
    * DuckDB re-inlines them exponentially otherwise). */
  private def rabitqOracleSql(rerankR: Int): String = {
    val D1 = Dim + 1
    s"""${ivfPrefixSql(1, 1)},
       |cc AS MATERIALIZED (SELECT cent FROM c1),
       |enc0 AS (
       |  SELECT e.vec_id AS cid, e.v AS ce,
       |         [CASE WHEN e.v[i] - cc.cent[i] >= 0 THEN 1.0 ELSE -1.0 END
       |          FOR i IN range(1, $D1)] AS sgn,
       |         sqrt(greatest(list_sum(
       |           [(e.v[i]-cc.cent[i])*(e.v[i]-cc.cent[i])
       |            FOR i IN range(1, $D1)]), 1e-24)) AS norm_o,
       |         list_sum([abs(e.v[i]-cc.cent[i])
       |                   FOR i IN range(1, $D1)]) AS abs_sum
       |  FROM e, cc),
       |enc AS MATERIALIZED (
       |  SELECT cid, ce, sgn, abs_sum / (8.0 * norm_o) AS sdot FROM enc0),
       |q AS MATERIALIZED (
       |  SELECT e.vec_id AS qid, e.v AS qe,
       |         [e.v[i]-cc.cent[i] FOR i IN range(1, $D1)] AS qr,
       |         sqrt(greatest(list_sum(
       |           [(e.v[i]-cc.cent[i])*(e.v[i]-cc.cent[i])
       |            FOR i IN range(1, $D1)]), 1e-24)) AS norm_q
       |  FROM e, cc WHERE e.vec_id < 10),
       |s1 AS (SELECT q.qid, enc.cid,
       |              list_sum([enc.sgn[i]*q.qr[i] FOR i IN range(1, $D1)])
       |                / 8.0 / q.norm_q / greatest(enc.sdot, 1e-12) AS est
       |       FROM enc, q WHERE enc.cid != q.qid),
       |r1 AS (${topIdsSql("s1", "est DESC, cid", s"<= $rerankR")}),
       |rr AS (SELECT r1.qid, r1.cid, list_cosine_similarity(q.qe, e.v) AS cos
       |       FROM r1 JOIN q ON q.qid = r1.qid
       |       JOIN e ON e.vec_id = r1.cid)
       |${rankedSql("rr", "cos", "cosine")}""".stripMargin
  }

  /** q152 oracle: the IVF chain + q105's quantization CTEs + int8-cosine
    * top-R per probe + exact fp re-rank top-5 — the store round-trip
    * changes nothing (the q137 precedent), so this replays the SERVE
    * semantics directly. */
  private def sq8StoreOracleSql(k: Int, iters: Int, nprobe: Int,
      rerankR: Int): String =
    s"""${ivfPrefixSql(k, iters)},
       |sc8 AS (SELECT vec_id, v,
       |          greatest(list_max(list_transform(v, x -> abs(x)))
       |                   / 127.0, 1e-12) AS scale
       |        FROM e),
       |qq AS MATERIALIZED (SELECT vec_id, list_transform(v,
       |          x -> least(greatest(round(x / scale), -127.0), 127.0)) AS qv
       |        FROM sc8),
       |pr0 AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 10),
       |pr AS MATERIALIZED (${nearestCellsSql(s"c$iters", s"<= $nprobe", Seq("qid"))}),
       |s1 AS (SELECT pr.qid, a.vec_id AS cid,
       |              list_cosine_similarity(qc.qv, cc.qv) AS cosq
       |       FROM af a JOIN pr ON a.cell = pr.cell AND a.vec_id != pr.qid
       |       JOIN qq qc ON qc.vec_id = pr.qid
       |       JOIN qq cc ON cc.vec_id = a.vec_id),
       |r1 AS (${topIdsSql("s1", "cosq DESC, cid", s"<= $rerankR")}),
       |rr AS (SELECT r1.qid, r1.cid,
       |              list_cosine_similarity(eq.v, ec.v) AS cos
       |       FROM r1 JOIN e eq ON eq.vec_id = r1.qid
       |       JOIN e ec ON ec.vec_id = r1.cid)
       |${rankedSql("rr", "cos", "cosine")}""".stripMargin

  /** q123: the full PQ-chain replay ([[ivfPqSadcSql]] at nprobe=6), the
    * ADC top-`rerankR` cut per probe (adc asc, cid tiebreak ≡ the Spark
    * heap's score-desc/payload-asc on −adc), then the exact re-rank:
    * raw-vector cosine (list_cosine_similarity — the q35-proven kernel
    * twin of CosineSimilarityExpr), top-5 by (cos desc, cid). Both
    * engines compute the identical deterministic chain, so the r10
    * verdict's "approximation quality is not SQL-checkable" ends at
    * recall — the OUTPUT is replayable and now gated. */
  private def ivfPqRerankOracleSql(k: Int, iters: Int, m: Int, pk: Int,
      pqIters: Int, nprobe: Int, rerankR: Int): String =
    s"""${ivfPqSadcSql(k, iters, m, pk, pqIters, nprobe)},
       |${rerankSql("adc, cid", rerankR, "list_cosine_similarity(q.v, c.v)",
          "cos", "cosine")}""".stripMargin

  /** q126: the NN-Descent chain unrolled (the q97 PQ-chain recipe).
    * Every construct is engine-exact: the LCG init/sample keys are pure
    * BIGINT arithmetic (products < 2⁵², both engines 64-bit; all operands
    * non-negative so `%` ≡ pmod), cosines are the proven kernel pair,
    * and every per-node cut is `row_number` over (cos DESC, nid) ≡ the
    * heap's (score desc, payload asc). The reverse sample orders by
    * (key, vec_id) ≡ the heap on −key with payload tie-break. */
  /** The CTE-list (no leading WITH) of the NN-Descent build chain
    * through `{p}b{iters}` — shared by the q126 (graph) and q127
    * (search) oracles at prefix "", and instantiated once per layer
    * (prefixes "l1"/"l2", level-gated `where`) by the q130 hierarchy. */
  /** `src` defaults to the lake table; q157 passes a planted-twin
    * subquery (the default text is byte-identical to the historical
    * chain — the pfx rule). */
  private def nnDescentChainSql(buildK: Int, iters: Int,
      where: String, p: String = "", src: String = "embeddings"): String = {
    val A = 1103515245L; val C = 12345L; val M = 2147483647L
    val iterCtes = (1 to iters).map { it =>
      val prev = s"${p}b${it - 1}"
      s"""${p}rev$it AS MATERIALIZED (${topIdsSql(prev,
           s"(vec_id*$A + ${it * C}) % $M, vec_id", s"<= $buildK",
           cols = "src, dst", key = "nid", inner = "nid AS src, vec_id AS dst")}),
         |${p}genl$it AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |    SELECT vec_id AS src, nid AS dst FROM $prev
         |    UNION ALL SELECT src, dst FROM ${p}rev$it)),
         |${p}cand$it AS MATERIALIZED (SELECT DISTINCT a.dst AS vec_id, b.dst AS nid
         |            FROM ${p}genl$it a JOIN ${p}genl$it b
         |              ON a.src = b.src AND a.dst <> b.dst),
         |${p}sc$it AS MATERIALIZED (SELECT p.vec_id, p.nid,
         |                 list_cosine_similarity(x.emb, y.emb) AS cos
         |          FROM ${p}cand$it p
         |          JOIN ${p}e x ON x.vec_id = p.vec_id
         |          JOIN ${p}e y ON y.vec_id = p.nid),
         |${p}b$it AS MATERIALIZED ${topWSql(
           s"(SELECT * FROM ${p}sc$it UNION ALL SELECT * FROM $prev)", buildK,
           "vec_id")}""".stripMargin
    }.mkString(",\n")
    s"""${p}e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
       |           FROM $src WHERE $where),
       |${p}n AS (SELECT max(vec_id) + 1 AS n FROM ${p}e),
       |${p}js AS (SELECT unnest(generate_series(0, ${buildK - 1})) AS j),
       |${p}init AS (SELECT DISTINCT v.vec_id,
       |                ((v.vec_id*$buildK + js.j)*$A % $M) % n.n AS nid
       |         FROM ${p}e v CROSS JOIN ${p}n n CROSS JOIN ${p}js js
       |         WHERE ((v.vec_id*$buildK + js.j)*$A % $M) % n.n <> v.vec_id),
       |${p}b0 AS MATERIALIZED (${nbrCutSql("vec_id",
          s"""(SELECT i.vec_id, i.nid, max(list_cosine_similarity(
             |                 x.emb, y.emb)) AS cos
             |          FROM ${p}init i JOIN ${p}e x ON x.vec_id = i.vec_id
             |          JOIN ${p}e y ON y.vec_id = i.nid
             |          GROUP BY 1, 2)""".stripMargin, s"<= $buildK")}),
       |$iterCtes""".stripMargin
  }

  private def nnDescentOracleSql(k: Int, buildK: Int, iters: Int,
      slice: Long): String =
    s"""WITH ${nnDescentChainSql(buildK, iters, s"vec_id < $slice")}
       |${rankedSql(s"b$iters", "cos", "cosine", k, key = "vec_id",
          payload = "nid", castRnk = true)}""".stripMargin

  /** q157 oracle: the q126 chain, then the robust-prune greedy unrolled —
    * candidate-pair cosines once (the kernel pair), then `r` rounds of
    * (argmax by cos DESC nid ASC) + domination anti-join with the exact
    * α = 1.25 comparison. Multi-referenced CTEs MATERIALIZED. */
  private def alphaPruneOracleSql(buildK: Int, iters: Int, slice: Long,
      r: Int, alpha: String): String = {
    val rounds = (1 to r).map { rd =>
      val prev = if (rd == 1) "rem0" else s"rem${rd - 1}"
      val sel = s"sel$rd AS MATERIALIZED (${nbrCutSql("vec_id", prev, "= 1")})"
      val rem = if (rd < r) Seq(
        s"""rem$rd AS MATERIALIZED (
           |   SELECT t.vec_id, t.nid, t.cos FROM $prev t
           |   LEFT JOIN sel$rd sl
           |     ON sl.vec_id = t.vec_id AND sl.nid = t.nid
           |   WHERE sl.nid IS NULL AND NOT EXISTS (
           |     SELECT 1 FROM sel$rd s2 JOIN pc
           |       ON pc.u = t.vec_id AND pc.x = s2.nid AND pc.y = t.nid
           |     WHERE s2.vec_id = t.vec_id
           |       AND $alpha * (1.0 - pc.pcos) <= (1.0 - t.cos)))""".stripMargin)
      else Nil
      (Seq(sel) ++ rem).mkString(",\n")
    }.mkString(",\n")
    val out = (1 to r).map(rd =>
      s"SELECT vec_id, nid, cos, CAST($rd AS BIGINT) AS rnk FROM sel$rd")
      .mkString("\nUNION ALL\n")
    val twinSrc =
      s"""(SELECT vec_id, embedding FROM embeddings WHERE vec_id < $slice
         | UNION ALL
         | SELECT vec_id + $slice AS vec_id, embedding FROM embeddings
         | WHERE vec_id < ${TwinCount}) t""".stripMargin
    s"""WITH ${nnDescentChainSql(buildK, iters, "TRUE", src = twinSrc)},
       |pc AS MATERIALIZED (SELECT a.vec_id AS u, a.nid AS x, b.nid AS y,
       |       list_cosine_similarity(ea.emb, eb.emb) AS pcos
       |     FROM b$iters a JOIN b$iters b
       |       ON b.vec_id = a.vec_id AND b.nid <> a.nid
       |     JOIN e ea ON ea.vec_id = a.nid
       |     JOIN e eb ON eb.vec_id = b.nid),
       |rem0 AS MATERIALIZED (SELECT vec_id, nid, cos FROM b$iters),
       |$rounds
       |SELECT vec_id, nid, round(cos, 4) AS cosine, rnk FROM (
       |$out)""".stripMargin
  }

  /** q127: greedy beam search over the q126 graph, unrolled — seeds are
    * the lowest vector ids, every hop mirrors the Spark loop exactly
    * (expand adjacency, score with the kernel pair, dedupe by max,
    * row_number beam cut with (cos DESC, nid) ≡ the heap order). */
  private def graphSearchOracleSql(buildK: Int, iters: Int, slice: Long,
      beam: Int, hops: Int, seeds: Int, topk: Int): String =
    s"""WITH ${nnDescentChainSql(buildK, iters, s"vec_id < $slice")},
       |qs AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
       |sd AS (SELECT vec_id AS nid FROM e ORDER BY vec_id LIMIT $seeds),
       |s0 AS (SELECT q.qid, s.nid, list_cosine_similarity(q.qe, v.emb) AS cos
       |       FROM qs q CROSS JOIN sd s JOIN e v ON v.vec_id = s.nid),
       |bm0 AS MATERIALIZED ${topWSql("s0", beam)},
       |${beamHopsSql("", s"b$iters", "e", "qs", "q", beam, hops)}
       |${rankedSql(s"bm$hops WHERE nid <> qid", "cos", "cosine", topk,
          payload = "nid", castRnk = true)}""".stripMargin

  /** `hops` expand/score/cut rounds of a beam descent: each round expands
    * `${q}bm{h-1}` through graph `graphCte`, scores against `eCte` for the
    * `qsCte` probes (aliased `qa`), and cuts the max-deduped union with
    * the previous beam to `beam`. */
  private def beamHopsSql(q: String, graphCte: String, eCte: String,
      qsCte: String, qa: String, beam: Int, hops: Int): String =
    (1 to hops).map { h =>
      val prev = s"${q}bm${h - 1}"
      s"""${q}ex$h AS MATERIALIZED (SELECT DISTINCT b.qid, g.nid AS nid
         |        FROM $prev b JOIN $graphCte g ON g.vec_id = b.nid),
         |${q}sx$h AS MATERIALIZED (SELECT x.qid, x.nid,
         |          list_cosine_similarity($qa.qe, v.emb) AS cos
         |        FROM ${q}ex$h x JOIN $qsCte $qa ON $qa.qid = x.qid
         |        JOIN $eCte v ON v.vec_id = x.nid),
         |${q}bm$h AS MATERIALIZED ${topWSql(
        s"(SELECT * FROM ${q}sx$h UNION ALL SELECT * FROM $prev)", beam)}""".stripMargin
    }.mkString(",\n")

  /** Beam-descent CTEs over a built chain: (qid, nid) seeds from
    * `$seedCte`, `hops` expand/score/cut rounds against graph
    * `$graphCte` and vectors `$eCte`; emits `${q}bm$hops`. Factored so
    * the q130 hierarchy instantiates it once per layer. */
  /** `entryBeam` — the bm0 cut (how many seed-scored entries survive
    * into hop 1): 0 ⇒ `beam` (every historical caller, byte-identical
    * text); 1 ⇒ the q165 single-entry descent. */
  private def beamCtesSql(q: String, graphCte: String, eCte: String,
      seedCte: String, beam: Int, hops: Int,
      qsCte: String = "qs", entryBeam: Int = 0): String =
    s"""${q}s0 AS (SELECT s.qid, s.nid,
       |          list_cosine_similarity(qq.qe, v.emb) AS cos
       |        FROM $seedCte s JOIN $qsCte qq ON qq.qid = s.qid
       |        JOIN $eCte v ON v.vec_id = s.nid),
       |${q}bm0 AS MATERIALIZED ${topWSql(s"${q}s0",
        if (entryBeam > 0) entryBeam else beam)},
       |${beamHopsSql(q, graphCte, eCte, qsCte, "qq", beam, hops)}""".stripMargin

  /** q130: the full HNSW-style descent unrolled — three NN-Descent
    * build chains (layer 0 ≡ q126/q127's, upper layers level-gated by
    * the LCG draw), then three beam descents where each layer's exits
    * (nid ≠ qid, (cos desc, nid) top-N) seed the next. The layer-0
    * fallback seed (global min id) is unioned exactly as the Spark
    * side does. */
  private def hnswOracleSql(slice: Long): String = {
    val A = 1103515245L; val C = 12345L; val M = 2147483647L
    val lvlKey =
      s"(vec_id*$A + ${graft.operators.NnDescent.LevelRound * C}) % $M"
    def lvlWhere(l: Int) =
      s"vec_id < $slice AND ($lvlKey) % ${1L << (2 * l)} = 0"
    s"""WITH ${nnDescentChainSql(NnBuildK, NnIters, s"vec_id < $slice")},
       |${nnDescentChainSql(HnswUpperK, HnswUpperIters, lvlWhere(1), "l1")},
       |${nnDescentChainSql(HnswUpperK, HnswUpperIters, lvlWhere(2), "l2")},
       |qs AS (SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < 10),
       |l2sd AS (SELECT q.qid, (SELECT min(vec_id) FROM l2e) AS nid
       |         FROM qs q),
       |${beamCtesSql("u2", s"l2b$HnswUpperIters", "l2e", "l2sd",
          HnswUpperBeam, HnswUpperHops)},
       |l1sd AS ${exitsSql(s"u2bm$HnswUpperHops", HnswUpperExits)},
       |${beamCtesSql("u1", s"l1b$HnswUpperIters", "l1e", "l1sd",
          HnswUpperBeam, HnswUpperHops)},
       |l0sd AS (SELECT qid, nid
       |         FROM ${exitsSql(s"u1bm$HnswUpperHops", HnswUpperExits)} x
       |         UNION ALL
       |         SELECT q.qid, (SELECT min(vec_id) FROM e) AS nid
       |         FROM qs q),
       |${beamCtesSql("z", s"b$NnIters", "e", "l0sd", NnBeam, HnswL0Hops)}
       |${rankedSql(s"zbm$HnswL0Hops WHERE nid <> qid", "cos", "cosine",
          payload = "nid", castRnk = true)}""".stripMargin
  }

  /** The batch insert over a built store chain (`e`, `b$iters`) for the
    * `qs` batch, exactly [[graft.operators.NnDescent.insertBatch]]: the
    * beam descent seeded at the `seeds` lowest STORE ids, a raw-kernel
    * re-score of the found (qid, nid) pairs, the back-link fold +
    * per-node (cos desc, id asc) re-cut, and `out` = the cut ∪ forward
    * edges. Shared by the q131 and q141 oracles. */
  private def graphInsertSql(k: Int, iters: Int, beam: Int, hops: Int,
      seeds: Int, out: String): String =
    s"""gsd AS (SELECT q.qid, s.nid FROM qs q CROSS JOIN
       |        (SELECT vec_id AS nid FROM e ORDER BY vec_id
       |         LIMIT $seeds) s),
       |${beamCtesSql("g", s"b$iters", "e", "gsd", beam, hops)},
       |found AS ${exitsSql(s"gbm$hops", k)},
       |fs AS (SELECT f.qid, f.nid,
       |          list_cosine_similarity(q.qe, v.emb) AS cos
       |       FROM found f JOIN qs q ON q.qid = f.qid
       |       JOIN e v ON v.vec_id = f.nid),
       |merged AS (SELECT vec_id, nid, max(cos) AS cos FROM (
       |       SELECT vec_id, nid, cos FROM b$iters
       |       UNION ALL
       |       SELECT nid AS vec_id, qid AS nid, cos FROM fs)
       |       GROUP BY 1, 2),
       |cut AS (${nbrCutSql("vec_id", "merged", s"<= $k")}),
       |$out AS (SELECT * FROM cut UNION ALL
       |         SELECT qid AS vec_id, nid, cos FROM fs)""".stripMargin

  /** q131: the graph-ingest end state unrolled — the store's NN-Descent
    * build chain, the batch insert ([[graphInsertSql]]), NnK-cut
    * emission. */
  private def graphIngestOracleSql(storeMax: Long, batchMax: Long,
      k: Int, iters: Int, beam: Int, hops: Int, seeds: Int,
      emitK: Int): String =
    s"""WITH ${nnDescentChainSql(k, iters, s"vec_id < $storeMax")},
       |qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
       |       FROM embeddings
       |       WHERE vec_id >= $storeMax AND vec_id < $batchMax),
       |${graphInsertSql(k, iters, beam, hops, seeds, "allv")}
       |${rankedSql("allv", "cos", "cosine", emitK, key = "vec_id",
          payload = "nid", castRnk = true)}""".stripMargin

  /** q141: the q131 ingest chain (store build → batch beam-insert →
    * back-link fold) re-used verbatim through `adjg` (the end-state
    * adjacency cut ∪ forward edges), then the probe set's beam descent
    * over `adjg` scoring against the FULL sliced vector set `se` — the
    * file-store round-trip on the Spark side changes nothing the SQL
    * can see (the q137 argument). */
  /** `probeMax` widens the serve wave (q158's 1024-probe batch); the
    * default 10 is q141's gate wave. The chain is byte-identical for the
    * default (diff oracle_sql.json before/after — the pfx rule). */
  private def graphShardedOracleSql(storeMax: Long, slice: Long,
      k: Int, iters: Int, beam: Int, hops: Int, seeds: Int,
      probeMax: Long = 10L, entryBeam: Int = 0): String =
    s"""WITH ${nnDescentChainSql(k, iters, s"vec_id < $storeMax")},
       |se AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
       |       WHERE vec_id < $slice),
       |qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
       |       FROM embeddings
       |       WHERE vec_id >= $storeMax AND vec_id < $slice),
       |${graphInsertSql(k, iters, beam, hops, seeds, "adjg")},
       |pqs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
       |        FROM embeddings WHERE vec_id < $probeMax),
       |zsd AS (SELECT p.qid, s.nid FROM pqs p CROSS JOIN
       |        (SELECT vec_id AS nid FROM se ORDER BY vec_id
       |         LIMIT $seeds) s),
       |${beamCtesSql("z", "adjg", "se", "zsd", beam, hops, qsCte = "pqs",
        entryBeam = entryBeam)}
       |${rankedSql(s"zbm$hops WHERE nid <> qid", "cos", "cosine",
          payload = "nid", castRnk = true)}""".stripMargin

  private def ivfAnnOracleSql(k: Int, iters: Int): String =
    s"""${ivfPrefixSql(k, iters)},
       |p AS (SELECT vec_id AS qid, v AS qe, cell FROM af WHERE vec_id < 10),
       |s AS (SELECT p.qid, a.vec_id AS cid,
       |             list_cosine_similarity(p.qe, a.v) AS cos
       |      FROM af a JOIN p ON a.cell = p.cell AND a.vec_id != p.qid)
       |${rankedSql("s", "cos", "cosine")}""".stripMargin

  /** q134: the IVF chain + label-predicate retrieval. The nprobe cell
    * ranking is the q97 `pr` spelling ([[nearestCellsSql]], cell
    * tiebreak ≡ the driver's (d, cell) sort); the label filter is an
    * equi-join exactly as in the Spark plan. */
  private def filteredAnnOracleSql(k: Int, iters: Int, nprobe: Int): String =
    s"""${ivfPrefixSql(k, iters)},
       |lb AS (SELECT vec_id, label FROM embeddings),
       |pr0 AS (SELECT a.vec_id AS qid, a.v AS qe, lb.label
       |        FROM af a JOIN lb ON lb.vec_id = a.vec_id
       |        WHERE a.vec_id < 10),
       |pr AS (${nearestCellsSql(s"c$iters", s"<= $nprobe",
          Seq("qid", "qe", "label"), vec = "qe")}),
       |s AS (SELECT pr.qid, a.vec_id AS cid,
       |             list_cosine_similarity(pr.qe, a.v) AS cos
       |      FROM af a
       |      JOIN lb ON lb.vec_id = a.vec_id
       |      JOIN pr ON a.cell = pr.cell AND lb.label = pr.label
       |             AND a.vec_id != pr.qid)
       |${rankedSql("s", "cos", "cosine")}""".stripMargin

  /** q135: the IVF chain + near-dup exclusion (raw-cosine < posThr — both
    * kernels are bit-identical, q35 parity, so the cut agrees) + top-negK. */
  private def hardNegativesOracleSql(k: Int, iters: Int, nprobe: Int,
      negK: Int, posThr: String): String =
    s"""${ivfPrefixSql(k, iters)},
       |pr0 AS (SELECT vec_id AS qid, v AS qe FROM af WHERE vec_id < 10),
       |pr AS (${nearestCellsSql(s"c$iters", s"<= $nprobe", Seq("qid", "qe"),
          vec = "qe")}),
       |s AS (SELECT pr.qid, a.vec_id AS cid,
       |             list_cosine_similarity(pr.qe, a.v) AS cos
       |      FROM af a JOIN pr ON a.cell = pr.cell AND a.vec_id != pr.qid)
       |${rankedSql(s"s WHERE cos < $posThr", "cos", "cosine", negK)}""".stripMargin

  /** q79: cosine of every vector to its own cell centroid. Keeper = max
    * 6-decimal-rounded cosine / lowest vec_id per cell; the OUTPUT rounds
    * the raw cosine to 4 once (never round-of-round — the 6-then-4 double
    * rounding parks values on the half boundary where the engines' rounding
    * modes disagree). */
  private def semanticDedupOracleSql(k: Int, iters: Int): String =
    s"""${ivfPrefixSql(k, iters)},
       |sc AS (SELECT a.vec_id, a.cell,
       |              list_cosine_similarity(a.v, c.cent) AS cos
       |       FROM af a JOIN c$iters c USING (cell)),
       |kp AS (${topIdsSql("sc", "round(cos, 6) DESC, vec_id", "= 1",
          cols = "cell, vec_id AS keep_id", key = "cell", inner = "cell, vec_id")})
       |SELECT sc.vec_id, sc.cell, round(sc.cos, 4) AS cos_centroid,
       |       sc.vec_id = kp.keep_id AS keep
       |FROM sc JOIN kp USING (cell)""".stripMargin

  /** DuckDB mirror of the FPS chain: k−1 unrolled (score → argmax →
    * accumulate) steps, then the coverage assignment — row_number over
    * (d, ord) rank 1 ≡ NearestCentroidExpr's strict-< earliest-pick rule. */
  private def fpsOracleSql(k: Int): String = {
    def dSql(v: String, c: String) =
      s"list_sum([($v[i]-$c[i])*($v[i]-$c[i]) FOR i IN range(1, ${Dim + 1})])"
    val steps = (2 to k).map { i =>
      s"""d${i - 1} AS (SELECT e.vec_id, e.v, min(${dSql("e.v", "c.v")}) AS dm
         |  FROM e, c${i - 1} c GROUP BY e.vec_id, e.v),
         |p$i AS (SELECT vec_id, v FROM d${i - 1}
         |        ORDER BY dm DESC, vec_id LIMIT 1),
         |c$i AS (SELECT * FROM c${i - 1}
         |        UNION ALL SELECT vec_id, v, $i FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |c1 AS (SELECT vec_id, v, 1 AS ord FROM e ORDER BY vec_id LIMIT 1),
       |$steps,
       |a AS (SELECT e.vec_id, c.ord, c.vec_id AS cid,
       |             ${dSql("e.v", "c.v")} AS d,
       |             row_number() OVER (PARTITION BY e.vec_id
       |               ORDER BY ${dSql("e.v", "c.v")}, c.ord) AS rn
       |      FROM e, c$k c)
       |SELECT vec_id, CAST(ord AS INT) AS center_ord, cid AS center_id,
       |       round(d, 4) AS d4
       |FROM a WHERE rn = 1""".stripMargin
  }

  /** The RP-forest CTEs over `e` (vec_id, embedding), shared by q133 and
    * q140: `micro` (micro-unit LONG coordinates) and `coefs` (the LCG
    * hyperplane coefficients per tree, level, node and dim; all mix
    * operands positive, so plain `%` ≡ pmod). */
  private def rpCoefsSql(trees: Int, depth: Int): String = {
    val addC = 11 * 12345L // RpForest.HpRound folded into the LCG add
    s"""micro AS (SELECT vec_id, i AS d,
       |            CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1e6)
       |                 AS BIGINT) AS mv
       |          FROM e, range(${Dim}) ds(i)),
       |coefs AS (SELECT t, l, node, d,
       |            ((((t * 131 + l) * 257 + node) * 67 + d) * 1103515245
       |             + $addC) % 2147483647 % 2001 - 1000 AS h
       |          FROM range($trees) ts(t), range($depth) ls(l),
       |               range(${1 << (depth - 1)}) ns(node), range(${Dim}) dd(d)
       |          WHERE node < CAST(power(2, l) AS BIGINT))""".stripMargin
  }

  /** Level `l`'s projection `out` of the `x$l` (t, vec_id, node) rows
    * onto their node's hyperplane, in micro units. */
  private def rpProjSql(x: String, l: Int, out: String): String =
    s"""$out AS (SELECT $x.t, $x.vec_id, $x.node, SUM(m.mv * c.h) AS proj
       |  FROM $x$l $x JOIN micro m USING (vec_id)
       |  JOIN coefs c ON c.t = $x.t AND c.l = $l AND c.node = $x.node
       |              AND c.d = m.d
       |  GROUP BY $x.t, $x.vec_id, $x.node)""".stripMargin

  /** Build level `l`: project `a$l`, the per-node floor-mean threshold
    * `t$l`, and the left-iff-proj≤thr descent into `a{l+1}`. */
  private def rpBuildLevelSql(l: Int): String =
    s"""${rpProjSql("a", l, s"p$l")},
       |t$l AS (SELECT t, node,
       |          CAST(floor(CAST(SUM(proj) AS DOUBLE) / COUNT(*))
       |               AS BIGINT) AS thr
       |        FROM p$l GROUP BY t, node),
       |a${l + 1} AS (SELECT p.t, p.vec_id,
       |          p.node * 2 + CASE WHEN p.proj <= x.thr THEN 0 ELSE 1 END
       |            AS node
       |        FROM p$l p JOIN t$l x ON x.t = p.t AND x.node = p.node)""".stripMargin

  /** DuckDB mirror of the q133 RP-forest chain: the LCG hyperplane
    * coefficients, micro-unit LONG projections, floor(sum/cnt) mean
    * thresholds, the left-iff-proj≤thr build descent AND the probe
    * spill descent (near child always, far child within the margin)
    * are unrolled one CTE group per level (the q97/q126 chain recipe);
    * candidates are the corpus rows of every reached leaf and the
    * emitted scores the q35-proven kernel pair. */
  private def rpForestOracleSql(trees: Int, depth: Int,
      margin: Long): String = {
    val levels = (0 until depth).map { l =>
      s"""${rpBuildLevelSql(l)},
         |${rpProjSql("f", l, s"fp$l")},
         |fx$l AS (SELECT fp.t, fp.vec_id, fp.node, fp.proj, x.thr
         |         FROM fp$l fp JOIN t$l x ON x.t = fp.t AND x.node = fp.node),
         |f${l + 1} AS (SELECT t, vec_id,
         |          node * 2 + CASE WHEN proj <= thr THEN 0 ELSE 1 END AS node
         |        FROM fx$l
         |        UNION ALL SELECT t, vec_id,
         |          node * 2 + CASE WHEN proj <= thr THEN 1 ELSE 0 END
         |        FROM fx$l WHERE abs(proj - thr) <= $margin)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |${rpCoefsSql(trees, depth)},
       |a0 AS (SELECT ts.t, e.vec_id, 0 AS node
       |       FROM e, range($trees) ts(t)),
       |f0 AS (SELECT ts.t, e.vec_id, 0 AS node
       |       FROM e, range($trees) ts(t) WHERE e.vec_id < 10),
       |$levels,
       |cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
       |         FROM f$depth q JOIN a$depth c
       |           ON q.t = c.t AND q.node = c.node
       |         WHERE c.vec_id <> q.vec_id),
       |s AS (SELECT cand.qid, cand.cid,
       |        list_cosine_similarity(qe.embedding::DOUBLE[],
       |                               ce.embedding::DOUBLE[]) AS cos
       |      FROM cand JOIN e qe ON qe.vec_id = cand.qid
       |                JOIN e ce ON ce.vec_id = cand.cid)
       |${rankedSql("s", "cos", "cosine")}""".stripMargin
  }

  /** q140: thresholds from the STORE rows only (a-chain), then the batch
    * routes near-child-only with a LEFT threshold join (b-chain; a node
    * with no threshold row was empty at build → descend left). Same
    * micro-unit/LCG/floor arithmetic as [[rpForestOracleSql]]. */
  private def rpForestIngestOracleSql(trees: Int, depth: Int,
      split: Long, slice: Long): String = {
    val levels = (0 until depth).map { l =>
      s"""${rpBuildLevelSql(l)},
         |${rpProjSql("b", l, s"bp$l")},
         |b${l + 1} AS (SELECT bp.t, bp.vec_id,
         |          bp.node * 2 + CASE WHEN x.thr IS NOT NULL
         |                             AND bp.proj > x.thr THEN 1 ELSE 0 END
         |            AS node
         |        FROM bp$l bp LEFT JOIN t$l x
         |          ON x.t = bp.t AND x.node = bp.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE vec_id < $slice),
       |${rpCoefsSql(trees, depth)},
       |a0 AS (SELECT ts.t, e.vec_id, 0 AS node
       |       FROM e, range($trees) ts(t) WHERE e.vec_id < $split),
       |b0 AS (SELECT ts.t, e.vec_id, 0 AS node
       |       FROM e, range($trees) ts(t) WHERE e.vec_id >= $split),
       |$levels
       |SELECT CAST(t AS BIGINT) AS t, vec_id,
       |       CAST(node AS BIGINT) AS node FROM a$depth
       |UNION ALL
       |SELECT CAST(t AS BIGINT) AS t, vec_id,
       |       CAST(node AS BIGINT) AS node FROM b$depth""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q116_fps_coreset" -> fpsOracleSql(8),
    "q133_rptree_forest_ann" ->
      rpForestOracleSql(RpTrees, RpDepth, RpMargin),
    "q140_rpforest_ingest_endstate" ->
      rpForestIngestOracleSql(RpTrees, RpDepth, RpIngestSplit,
        GraphGateSlice),
    "q141_graph_sharded_store" ->
      graphShardedOracleSql(RpIngestSplit, GraphGateSlice,
        NnBuildK, NnIters, NnBeam, NnHops, NnSeeds),
    "q157_graph_alpha_prune" ->
      alphaPruneOracleSql(NnBuildK, NnIters, GraphGateSlice, NnK, "1.25"),
    // q158: q141's chain with the serve wave widened to the 1024-probe
    // batch — the store round-trip and the executor-tier loop are both
    // semantically invisible (the q137/q141 argument)
    "q158_graph_batch_serve" ->
      graphShardedOracleSql(RpIngestSplit, GraphGateSlice,
        NnBuildK, NnIters, NnBeam, NnHops, NnSeeds,
        probeMax = BatchProbeMax),
    // q165: q158's chain with the descent's bm0 cut at 1 — the
    // single-entry discipline is the ONLY difference
    "q165_graph_entry_serve" ->
      graphShardedOracleSql(RpIngestSplit, GraphGateSlice,
        NnBuildK, NnIters, NnBeam, NnHops, NnSeeds,
        probeMax = BatchProbeMax, entryBeam = 1),
    // q167: lex = q119's oracle verbatim as a nested-WITH CTE, sem = the
    // q39 chain restricted to lex's probe ids; rrf terms are integer
    // ranks through one correctly-rounded division each, summed in the
    // same fixed lex+sem order as the Spark column
    "q167_hybrid_rrf" -> {
      val topK = IndexOps.rrfTopK
      s"""WITH lex AS (${IndexOps.bm25OracleSql("")}),
         |${eSql("TRUE")},
         |${ivfChainSql(8, 3)},
         |hp AS (SELECT DISTINCT probe_doc FROM lex),
         |hpr AS (SELECT a.vec_id AS qid, a.v AS qe, a.cell
         |        FROM af a JOIN hp ON hp.probe_doc = a.vec_id),
         |hs AS (SELECT p.qid, a.vec_id AS cid,
         |              list_cosine_similarity(p.qe, a.v) AS cos
         |       FROM af a JOIN hpr p ON a.cell = p.cell
         |                           AND a.vec_id != p.qid),
         |sem AS (SELECT qid, cid,
         |               row_number() OVER (PARTITION BY qid
         |                 ORDER BY cos DESC, cid) AS sem_rnk
         |        FROM hs QUALIFY sem_rnk <= $topK),
         |fused AS (SELECT coalesce(l.probe_doc, s.qid) AS qid,
         |                 coalesce(l.doc_id, s.cid) AS cid,
         |                 coalesce(CAST(1 AS DOUBLE) /
         |                          CAST(60 + l.rnk AS DOUBLE), 0.0)
         |                   + coalesce(CAST(1 AS DOUBLE) /
         |                              CAST(60 + s.sem_rnk AS DOUBLE), 0.0)
         |                   AS rrf,
         |                 coalesce(l.rnk, 0) AS lex_rnk,
         |                 coalesce(s.sem_rnk, 0) AS sem_rnk
         |          FROM lex l FULL OUTER JOIN sem s
         |            ON s.qid = l.probe_doc AND s.cid = l.doc_id)
         |${topIdsSql("fused", "rrf DESC, cid", s"<= $topK",
            cols = "qid, CAST(rnk AS BIGINT) AS rnk, cid, round(rrf, 6) AS rrf, " +
              "CAST(lex_rnk AS BIGINT) AS lex_rnk, CAST(sem_rnk AS BIGINT) AS sem_rnk",
            inner = "qid, cid, rrf, lex_rnk, sem_rnk", rn = "rnk")}""".stripMargin
    },
    "q35_ann_brute" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings),
         s AS (SELECT qid, cid, list_cosine_similarity(qe, ce) AS cos
               FROM q JOIN c ON cid != qid)
         ${rankedSql("s", "cos", "cosine")}""",
    // list(v ORDER BY vec_id) pins the same summation order the Spark
    // side gets from array_sort; list_sum folds left like the zip_with
    // chain. Micro-unit spelling mirrors Spark exactly: round 6dp →
    // ×1e6 → round → BIGINT → VARCHAR → comma-join (scalar output for
    // the driver gate).
    "q106_embed_pool" ->
      """WITH e AS (SELECT CAST(vec_id // 8 AS BIGINT) AS gid, vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         g AS (SELECT gid, count(*) AS n_chunks,
                      list(v ORDER BY vec_id) AS cs
               FROM e GROUP BY gid)
         SELECT gid, n_chunks,
                array_to_string(list_transform(range(1, len(cs[1]) + 1),
                  d -> CAST(CAST(round(round(
                         list_sum(list_transform(cs, c -> c[d]))
                         / n_chunks, 6) * 1e6) AS BIGINT) AS VARCHAR)),
                  ',') AS pooled_micro
         FROM g""",
    // q54's quantization CTEs + q35's list_cosine_similarity over the
    // integral arrays — exact-in-double, so ranks can't drift
    "q105_ann_int8" ->
      s"""WITH sc AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs,
                  greatest(list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-12) AS scale
           FROM embeddings),
         qq AS (SELECT vec_id, list_transform(xs,
                  x -> least(greatest(round(x / scale), -127.0), 127.0)) AS qv
                FROM sc),
         q AS (SELECT vec_id AS qid, qv AS qe FROM qq WHERE vec_id < 10),
         c AS (SELECT vec_id AS cid, qv AS ce FROM qq),
         s AS (SELECT qid, cid, list_cosine_similarity(qe, ce) AS cosq
               FROM q JOIN c ON cid != qid)
         ${rankedSql("s", "cosq", "cosine_q")}""",
    "q36_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         sg AS (SELECT vec_id, v,
                       CAST(${bucketSqlExpr(16, "v")} AS BIGINT) AS sig
                FROM e),
         banded AS (SELECT vec_id, v, b AS band,
                           (sig >> CAST(4 * b AS INTEGER)) & 15 AS key
                    FROM sg, range(0, 4) t(b))
         SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b,
                round(list_cosine_similarity(a.v, c.v), 4) AS cosine
         FROM banded a JOIN banded c
           ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
         WHERE list_cosine_similarity(a.v, c.v) >= 0.3""",
    // q36's banding with the q48 split predicate applied after the join:
    // eval = test buckets (≥ 90), train = train buckets (< 80) — val is
    // neither side
    "q93_embedding_contamination" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 100 AS bucket
           FROM embeddings),
         sg AS (SELECT vec_id, v, bucket,
                       CAST(${bucketSqlExpr(16, "v")} AS BIGINT) AS sig
                FROM e),
         banded AS (SELECT vec_id, v, bucket, b AS band,
                           (sig >> CAST(4 * b AS INTEGER)) & 15 AS key
                    FROM sg, range(0, 4) t(b))
         SELECT DISTINCT a.vec_id AS eval_id, c.vec_id AS train_id,
                round(list_cosine_similarity(a.v, c.v), 4) AS cosine
         FROM banded a JOIN banded c
           ON a.band = c.band AND a.key = c.key
         WHERE a.bucket >= 90 AND c.bucket < 80
           AND list_cosine_similarity(a.v, c.v) >= 0.3""",
    "q37_ann_lsh_buckets" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (SELECT vec_id, v,
                      CAST(${bucketSqlExpr(12, "v")} AS BIGINT) AS bucket
               FROM e)
         SELECT a.bucket AS bucket, a.vec_id AS vec_a, c.vec_id AS vec_b,
                round(list_cosine_similarity(a.v, c.v), 4) AS cosine
         FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id""",
    "q39_ann_ivf" -> ivfAnnOracleSql(8, 3),
    "q134_ann_filtered" -> filteredAnnOracleSql(8, 3, nprobe = 3),
    "q135_hard_negatives" ->
      hardNegativesOracleSql(8, 3, nprobe = 3, negK = 8, posThr = "0.3"),
    "q97_ann_ivfpq" -> ivfPqOracleSql(8, 3, PqM, PqK, PqIters),
    "q136_ann_ivfpq_residual" ->
      ivfPqResidualOracleSql(8, 3, PqM, PqK, PqIters, nprobe = 2),
    // the store round-trip changes nothing — q137's oracle is q97's SQL
    "q137_ann_sharded_store" -> ivfPqOracleSql(8, 3, PqM, PqK, PqIters),
    // q144: the q137 chain with TRAINING restricted to the standing slice
    // (the frozen artifacts the stream encodes against); the final encode
    // + serve still cover the full slice — exactly the streamed store's
    // end state, because assignment/encoding are per-row
    "q144_vector_store_ingest_endstate" -> ivfPqOracleSql(8, 3, PqM, PqK,
      PqIters, trainWhere = s"vec_id < $IvfPqIngestSplit"),
    // q150: the lifecycle replay — three prefixed quantizer chains,
    // derived branch decisions, CASE-selected artifacts, final serve
    "q150_drift_retrain_endstate" ->
      driftRetrainOracleSql(8, 3, PqM, PqK, PqIters, nprobe = 2),
    // q145: the anisotropic chain — loss-ranked assignments + Cramer
    // centroid solves in the canonical Leibniz order + IP-ADC serve
    "q145_ann_pq_anisotropic" ->
      anisoPqOracleSql(PqM, PqK, PqIters, AnisoEta),
    // q146: coarse chain + aniso chain + cell-restricted IP-ADC + exact
    // inner-product rerank — the stack end to end
    // q159: the q146 chain + the SOAR spill-2 index CTEs (same loss,
    // same λ, same tie rule); probes through the widened index dedupe
    // exactly (identical codes ⇒ identical ADC)
    "q159_ann_soar" -> scannStackOracleSql(8, 3, PqM, PqK, PqIters,
      AnisoEta, nprobe = 2, rerankR = 32, soar = true,
      soarLambda = "1.0"),
    // q163: the k=1 Lloyd centroid chain (c1 = round(avg,6) per dim),
    // sign codes + (norm, ⟨ō,x̄⟩) scalars, the unbiased estimator as
    // index-ordered list_sum comprehensions (≡ aggregate(zip_with)),
    // est-desc/cid top-R cut, exact-cosine rerank top-5 — the whole
    // rotation-free RaBitQ chain replayed
    "q163_ann_rabitq" -> rabitqOracleSql(RabitqRerankR),
    "q146_ann_scann_stack" -> scannStackOracleSql(8, 3, PqM, PqK, PqIters,
      AnisoEta, nprobe = 2, rerankR = 32),
    // q147: truncated-cosine first stage (list_slice on the DOUBLE-cast
    // list ≡ Spark's slice on the float array — same values), top-R cut
    // (cosd DESC, cid ≡ the heap), full-dim exact rerank — q35's proven
    // kernel pair at both stages
    "q147_ann_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
         |           FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings),
         |f AS (SELECT qid, cid,
         |        list_cosine_similarity(list_slice(qe, 1, $MrlDims),
         |                               list_slice(ce, 1, $MrlDims)) AS cosd
         |      FROM q JOIN c ON cid != qid),
         |r AS (${topIdsSql("f", "cosd DESC, cid", s"<= $MrlRerankR")}),
         |rex AS (SELECT r.qid, r.cid, list_cosine_similarity(q.qe, c.ce) AS cos
         |        FROM r JOIN q ON q.qid = r.qid
         |        JOIN c ON c.cid = r.cid)
         |${rankedSql("rex", "cos", "cosine")}""".stripMargin,
    // q148: the greedy MMR trajectory, k unrolled argmax steps
    "q148_mmr_select" -> mmrOracleSql(MmrLambda, MmrK),
    // q151: the q148 unrolled greedy over the q147 funnel — same steps,
    // candidate CTE swapped for the truncated-dim top-R stage
    "q151_mmr_funnel" -> mmrOracleSql(MmrLambda, MmrK, funnelR = FunnelR),
    // q152: IVF chain + q105 quantization + int8 top-R + exact re-rank
    "q152_ann_sq8_store" -> sq8StoreOracleSql(8, 3, nprobe = 2,
      rerankR = 32),
    // q153: the store round-trip changes nothing — q134's oracle
    "q153_ann_filtered_store" -> filteredAnnOracleSql(8, 3, nprobe = 3),
    "q123_ann_ivfpq_rerank" ->
      ivfPqRerankOracleSql(8, 3, PqM, PqK, PqIters, nprobe = 6, rerankR = 64),
    "q126_knn_graph_nndescent" ->
      nnDescentOracleSql(NnK, NnBuildK, NnIters, GraphGateSlice),
    "q130_hnsw_layered_search" -> hnswOracleSql(GraphGateSlice),
    "q131_graph_ingest_endstate" -> graphIngestOracleSql(450L, GraphGateSlice,
      NnBuildK, NnIters, NnBeam, NnHops, NnSeeds, NnK),
    // verification device (q108 precedent — the driver Jacobi eigensolve
    // behind the rotation is not SQL-expressible): the Spark side
    // COMPUTES rotation isometry and per-probe exact-L2 recall; the
    // oracle pins both true. Quantitative floors live in AnnRecallSpec.
    "q132_opq_rotated_pq" ->
      """SELECT vec_id AS qid, 5 AS k, true AS recall_ok, true AS iso_ok
         FROM embeddings WHERE vec_id < 10""",
    "q127_graph_ann_search" -> graphSearchOracleSql(NnBuildK, NnIters,
      GraphGateSlice, NnBeam, NnHops, NnSeeds, 5),
    "q79_semantic_dedup" -> semanticDedupOracleSql(8, 3),
    // q114: same Lloyd chain; rank = row_number over (cos6 desc, vec_id)
    // per cell ≡ the TopKByScore heap's (score desc, payload asc) order;
    // the round-robin pick order and budget cut are pure integer
    // arithmetic — identical by construction once the ranks agree
    "q114_balanced_select" ->
      s"""${ivfPrefixSql(8, 3)},
         |sc AS (SELECT a.vec_id, a.cell,
         |              round(list_cosine_similarity(a.v, c.cent), 6) + 0.0
         |                AS cos6
         |       FROM af a JOIN c3 c USING (cell)),
         |rk AS (SELECT vec_id, cell, cos6,
         |              row_number() OVER (PARTITION BY cell
         |                                 ORDER BY cos6 DESC, vec_id) AS rnk
         |       FROM sc)
         |SELECT vec_id, cell, rnk, (rnk - 1) * 8 + cell AS pick_order, cos6
         |FROM rk WHERE rnk <= 13
         |ORDER BY pick_order LIMIT 100""".stripMargin,
    // verification-device oracle (q44 precedent): the Spark side emits
    // by-construction invariants of a correct fit — Bessel per row and the
    // ≥ k/d sorted-spectrum share — and this side pins the expected shape;
    // the numeric PCA properties are PcaSpec's job (SQL has no eigensolve)
    "q108_pca_project" ->
      """SELECT vec_id, label, 16 AS k,
                true AS norm_ok, true AS capture_ok
         FROM embeddings""",
    // exact counts carry parity; the bitwise merged-vs-full equality is
    // computed (not assumed) on the Spark side and asserted true here
    "q112_pca_incremental" ->
      """SELECT CAST(vec_id % 3 AS INT) AS batch, count(*) AS n_rows,
                true AS moments_mergeable, true AS basis_identical
         FROM embeddings GROUP BY 1""",
    // same micro-unit quantization, exact integer quartile interpolation,
    // d·d spelling (never pow), and LONG term sums as the Spark side
    "q120_embed_outliers" ->
      s"""WITH m AS (SELECT vec_id, i AS dim,
                CAST(round(CAST(embedding[i+1] AS DOUBLE) * 1e6) AS BIGINT)
                  AS m6
              FROM embeddings, range(0, $Dim) t(i)),
         st AS (SELECT dim, quantile_cont(m6, 0.5) AS med,
                       quantile_cont(m6, 0.75) - quantile_cont(m6, 0.25)
                         AS iqr
                FROM m GROUP BY 1),
         st2 AS (SELECT dim, med,
                        CASE WHEN iqr = 0 THEN 1.0 ELSE iqr END AS sc
                 FROM st),
         terms AS (SELECT m.vec_id,
                CAST(round(((CAST(m.m6 AS DOUBLE) - s.med) / s.sc) *
                           ((CAST(m.m6 AS DOUBLE) - s.med) / s.sc) * 1e6)
                  AS BIGINT) AS t
                FROM m JOIN st2 s ON s.dim = m.dim),
         sc AS (SELECT vec_id, CAST(sum(t) AS BIGINT) AS score_micro
                FROM terms GROUP BY 1),
         r AS (SELECT vec_id, score_micro,
                      row_number() OVER (ORDER BY score_micro DESC, vec_id)
                        AS rnk
               FROM sc)
         SELECT CAST(rnk AS BIGINT) AS rnk, vec_id, score_micro
         FROM r WHERE rnk <= 32"""
  )
}
