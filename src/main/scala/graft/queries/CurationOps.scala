package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.stableHash
import graft.operators.ConnectedComponents
import graft.sources.Tables

/** Training-data curation operators: dedup clustering (pairs → components
  * → canonical docs), deterministic dataset splits, distribution stats,
  * stratified sampling. These are the steps BETWEEN near-dup detection
  * (DedupOps) and a training corpus.
  */
object CurationOps {

  private def r4(c: Column): Column = round(c, 4)

  /** Cluster assignment is the shared upstream of q47/q51/q52 — and the
    * most expensive pipeline in the suite (MinHash-LSH pair generation +
    * the connected-components loop). Computed ONCE per (session, dir) and
    * lazily localCheckpoint'ed: the first action materializes the clusters
    * into cached blocks, every later consumer reads blocks instead of
    * re-running the pipeline (3× before). */
  private val Clusters = new ArtifactCache.Kind[DataFrame]("dedupClusters")

  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    ArtifactCache(s, dir, Clusters) {
      val pairs = DedupOps.queries("q33_minhash_lsh_pairs")(s, dir)
        .filter(col("est_jaccard") >= 0.5)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      ConnectedComponents.hashMin(
          pairs.select(col("doc_a"), col("doc_b")), docs)
        .select(col("id").as("doc_id"), col("component").as("cluster_id"),
          (col("id") === col("component")).as("is_keeper"))
        .localCheckpoint(eager = false)
    }

  /** Dedup clustering over the TUNED pair generator
    * ([[DedupOps.lshPairsTuned]]) — the full chain (signatures → banded
    * candidates → exact rescoring → connected components → keepers) with
    * the scale geometry. At 30× the sf0.1 corpus the OLD fixed 16×4 q33
    * geometry fed the clustering 3.5M mostly-false candidate edges where
    * this path feeds it 17.6k true pairs (SCALE.md) — since round 7 the
    * gated q47 runs the same 64×8+cap banding (over ESTIMATED jaccard;
    * this path thresholds the exact rescored value, see ScrubSpec). */
  def dedupClustersTuned(s: SparkSession, dir: String,
      numHashes: Int = 64, bandRows: Int = 8, maxBucket: Long = 64L,
      minJaccard: Double = 0.5): DataFrame = {
    val pairs = DedupOps.lshPairsTuned(s, dir, numHashes, bandRows,
      maxBucket, minJaccard)
    val docs = Tables(s, dir, "documents").select(col("doc_id"))
    ConnectedComponents.hashMin(
        pairs.select(col("doc_a"), col("doc_b")), docs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("is_keeper"))
  }

  /** q86 builder: stage the doc_id < 600 slice as 3 single-file batches,
    * run the AvailableNow DedupIngest stream over them (one file per
    * micro-batch), read back the persisted assignment. Fresh temp dirs per
    * call — the query is re-runnable and leaves no state behind in the
    * data dir. The end state is batching-order-invariant (uncapped
    * geometry: pair (a,b) is emitted when the later of a,b ingests;
    * ScrubSpec proves multi-batch ⊎ = full recompute). */
  private def ingestEndState(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 600)
    val base = java.nio.file.Files.createTempDirectory("q86_ingest").toString
    val inDir = java.nio.file.Paths.get(base, "in")
    java.nio.file.Files.createDirectories(inDir)
    Seq((0L, 200L), (200L, 400L), (400L, 600L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        val tmp = s"$base/stage$i"
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        // flatten: the file stream source lists FILES under inDir; one
        // parquet file per batch ⇒ maxFilesPerTrigger=1 ⇒ 3 micro-batches
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part file under $tmp"))
        java.nio.file.Files.move(part.toPath, inDir.resolve(s"b$i.parquet"))
    }
    graft.streaming.DedupIngest.start(s, inDir.toString, schema,
      s"$base/store", s"$base/assign", s"$base/ckpt").awaitTermination()
    // materialize the assignment into checkpoint blocks, then delete the
    // staging/store/checkpoint tree — "leaves no state behind" includes
    // the temp dirs (the eager checkpoint keeps the result servable)
    val out = s.read.parquet(s"$base/assign")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("is_keeper"))
      .localCheckpoint(eager = true)
    graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    out
  }

  /** The q149 UniMax waterfill (Chung et al. 2023's epoch-capped budget
    * allocation in one closed relational form) over an arbitrary
    * (source, text) frame — factored so q162 can re-budget over the
    * KEPT corpus; q149 passes the whole lake. Output: per source
    * (n_tokens, cap_epochs, capped, alloc_tokens 4dp, epochs 4dp). */
  private[graft] def unimaxAlloc(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tier = expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) AS INT) div 5")
    val cap = when(tier === 0, 4.0).when(tier === 1, 2.0)
      .when(tier === 2, 1.0).otherwise(0.5)
    val base = docsDf
      .groupBy("source")
      .agg(sum(size(graft.functions.TextFunctions.tokens(col("text"))))
        .cast("double").as("n_tokens"),
        max(cap).as("cap_epochs"))
      .withColumn("capacity", col("n_tokens") * col("cap_epochs"))
    val ord = Window.orderBy(col("capacity"), col("source"))
    val whole = Window.partitionBy()
    val f = base
      .withColumn("rk", row_number().over(ord))
      .withColumn("pfx", coalesce(sum(col("capacity")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .withColumn("tot_n", sum(col("n_tokens")).over(whole))
      .withColumn("kk", count(lit(1)).over(whole))
      .withColumn("capped",
        col("capacity") * (col("kk") - col("rk") + 1) <=
          col("tot_n") - col("pfx"))
    val g = f
      .withColumn("cap_sum", sum(when(col("capped"), col("capacity"))
        .otherwise(lit(0.0))).over(whole))
      .withColumn("n_cap", sum(when(col("capped"), 1L).otherwise(0L))
        .over(whole))
    val alloc = when(col("capped"), col("capacity"))
      .otherwise((col("tot_n") - col("cap_sum")) /
        (col("kk") - col("n_cap")))
    g.select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
      col("cap_epochs"), col("capped"),
      r4(alloc).as("alloc_tokens"),
      r4(alloc / col("n_tokens")).as("epochs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Dedup CLUSTERS: near-dup pairs (the q33 MinHash-LSH generator at
    // est_jaccard >= 0.5) become edges; connected components assign every
    // document a cluster; the cluster min is the canonical keeper. This is
    // the step that turns pairwise detection into an actionable "drop
    // these rows" plan. Hash-min label propagation: O(diameter) rounds of
    // id-keyed shuffles (see ConnectedComponents). The oracle recomputes
    // the identical pairs, then transitive closure via RECURSIVE CTE.
    "q47_dedup_clusters" -> ((s, dir) => dedupClusters(s, dir)),

    // The TUNED full dedup chain, oracle-gated (VERDICT r6 task 2):
    // signatures → capped 64×8 banding → EXACT rescoring at jaccard >= 0.5
    // → connected components → keepers. Differs from q47 in thresholding
    // the exact rescored jaccard instead of the banding estimate — the
    // chain a production dedup pipeline ships. The oracle recomputes the
    // identical pairs (q31's chain at 0.5) then transitive closure via
    // RECURSIVE CTE.
    "q84_dedup_clusters_tuned" -> ((s, dir) => dedupClustersTuned(s, dir)),

    // STREAMING ingest end-state, oracle-gated (VERDICT r6 task 2): run
    // the full DedupIngest loop — 3 file-source micro-batches over a
    // deterministic doc_id slice, each pairing against the persisted
    // signature store and folding into the persisted assignment — then
    // return the final cluster table. The oracle clusters ALL pairs of the
    // same slice in one shot (recursive CTE, uncapped geometry): the gate
    // proves batch-by-batch streaming ingest converges to exactly the
    // one-shot clustering. The slice (doc_id < 600) bounds the builder's
    // cost at any SF — the machinery under test (micro-batch composition,
    // store replay, incremental CC) is scale-invariant; per-batch cost is
    // ∝ batch by construction. Builder is EAGER (runs the stream to
    // completion) per the q67/q73 documented contract.
    "q86_ingest_endstate" -> ((s, dir) => ingestEndState(s, dir)),

    // Deterministic train/val/test split (80/10/10): bucket = stable
    // md5-derived hash of the doc id, mod 100. Hash-based splits are the
    // only splits that survive recomputation, late-arriving data, and
    // engine changes — the same doc lands in the same split everywhere, no
    // stored assignment table, no rand() seed drift across engines.
    "q48_hash_split" -> ((s, dir) => {
      val bucket = pmod(stableHash(col("doc_id").cast("string")), lit(100))
      Tables(s, dir, "documents")
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
    }),

    // Exact percentiles per group (linear interpolation — matches DuckDB
    // quantile_cont) WITHOUT a raw-row window over the 3-value group key
    // (every group in ONE task — the scale-killer the r4 verdict flagged).
    // The operator is graft.operators.Percentiles.exactByGroup: two-level
    // ranking over data-independent IEEE-754 range buckets — see its
    // Scaladoc for the plan shape and the heavy-hitter caveat. q67 ships
    // the approx_percentile sketch form for unbounded value domains.
    "q49_percentiles" -> ((s, dir) =>
      graft.operators.Percentiles.exactByGroup(
        Tables(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq("50" -> 0.5, "90" -> 0.9, "99" -> 0.99))),

    // The 100 TB percentile operator: approx_percentile's bounded-memory
    // sketch (map-side combinable, no histogram, no sort) — for value
    // domains where even q49's histogram would be large. A sketch can't
    // hash-match another engine's sketch, so the oracle is a RANK-ERROR
    // BOUND assertion (the r4 verdict's prescription): the query itself
    // computes the exact rank interval [lt, le-1] of each approx value
    // against the data and checks it intersects p·(n-1) ± n/accuracy —
    // the GK-sketch guarantee; DuckDB verifies group keys, exact row
    // counts, and that every bound holds.
    "q67_approx_percentiles" -> ((s, dir) => {
      val acc = 100 // rank error <= n/acc = 1% of n
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      // the sketch output is |groups|×3 doubles — k-small driver state (the
      // q39-centroid precedent; builder is eager per the q73/q81 contract).
      // Folding it back as per-group literals lets the rank check run as ONE
      // plain aggregation over the fact stream instead of a broadcast-join
      // stage feeding the agg — one fewer exchange + join in the plan.
      val approxRows = li.groupBy("g").agg(
        percentile_approx(col("v"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(acc)).as("ap")).collect()
      val apByGroup: Map[String, Seq[Double]] = approxRows
        .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
      val ps = Seq("50" -> 0.5, "90" -> 0.9, "99" -> 0.99)
      def apLit(i: Int): Column = apByGroup.foldLeft(lit(Double.NaN)) {
        case (acc0, (gv, aps)) => when(col("g") === gv, lit(aps(i))).otherwise(acc0)
      }
      val aggs = ps.zipWithIndex.flatMap { case ((tag, _), i) =>
        val av = apLit(i)
        Seq(
          sum(when(col("v") < av, 1L).otherwise(0L)).as(s"lt_$tag"),
          sum(when(col("v") <= av, 1L).otherwise(0L)).as(s"le_$tag"))
      }
      val ranked = li
        .groupBy("g").agg(count(lit(1)).as("n"), aggs: _*)
      // the approx value's exact rank interval is [lt, le-1] (0-based);
      // within bound iff it intersects [p(n-1) - n/acc, p(n-1) + n/acc]
      val out = ps.foldLeft(ranked) { case (df, (tag, p)) =>
        val idx = lit(p) * (col("n") - 1)
        val eps = col("n").cast("double") / acc
        df.withColumn(s"p${tag}_ok",
          col(s"lt_$tag") <= idx + eps && (col(s"le_$tag") - 1) >= idx - eps)
      }
      out.select(col("g").as("l_returnflag"), col("n"),
        col("p50_ok"), col("p90_ok"), col("p99_ok"))
    }),

    // Stratified deterministic 10% sample: per-row hash threshold keeps
    // every stratum's sample stable under recomputation (unlike rand()).
    // The aggregate output proves which rows were kept.
    "q50_stratified_sample" -> ((s, dir) => {
      Tables(s, dir, "events")
        .filter(pmod(stableHash(col("event_id").cast("string")), lit(10)) === 0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_sampled"),
          min("event_id").as("min_event_id"),
          r4(sum("value")).as("sum_value"))
    }),

    // PRIORITY SAMPLING (Duffield, Lund & Thorup, JACM 54(6) 2007 — the
    // weighted fixed-size sample with UNBIASED subset-sum estimates that
    // q50's unweighted hash threshold can't give): each doc draws
    // priority p_i = w_i / u_i with w_i its char weight and u_i ∈ (0,1]
    // a uniform; the sample is the top-k priorities and the threshold
    // τ = (k+1)-th priority makes ŵ_i = max(w_i, τ) unbiased for every
    // subset sum (E[Σ_S ŵ] = Σ_S w, the paper's Thm 1). NO rand(): u_i
    // is the q48/q50 hash discipline ((h mod 2^30)+1)/2^30, so the draw
    // is recomputation-stable and engine-portable, and both the numerator
    // and the 2^30 denominator are double-exact — one IEEE division each
    // for u and p, correctly rounded on any engine, so selection and τ
    // are bitwise cross-engine. Scale: the top-(k+1) is
    // TakeOrderedAndProject (per-partition heaps, one k-row reduce — no
    // global sort, no shuffle of the corpus); the window ranks only the
    // k+1 survivors; Σw is one map-side-combined integer aggregation.
    // est_milli is the micro-unit integer spelling of Σ_sample max(w,τ)
    // (fp-order-free) — at sf0.01 it reconstructs Σw within the
    // estimator's own variance, the property the gate exists to pin.
    "q166_priority_sample" -> ((s, dir) => {
      val k = 64
      val m = 1073741824L // 2^30
      val d = Tables(s, dir, "documents").select(col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("w"),
        (pmod(stableHash(col("doc_id").cast("string")), lit(m)) + 1L)
          .as("hu"))
      val pri = d.select(col("doc_id"), col("w"),
        (col("w").cast("double") / (col("hu").cast("double") / m.toDouble))
          .as("pri"))
      val top = pri.orderBy(col("pri").desc, col("doc_id")).limit(k + 1)
      val w = Window.orderBy(col("pri").desc, col("doc_id"))
      val ranked = top.withColumn("rnk", row_number().over(w))
      val tau = ranked.agg(
        max(when(col("rnk") === k + 1, col("pri"))).as("tau"))
      val tot = pri.agg(sum("w").as("w_total"))
      val sample = ranked.filter(col("rnk") <= k)
        .crossJoin(broadcast(tau)).crossJoin(broadcast(tot))
      val estW = greatest(col("w").cast("double"), col("tau"))
      sample.select(col("rnk").cast("long").as("rnk"), col("doc_id"),
          col("w"), r4(col("pri")).as("priority"),
          r4(estW).as("est_w"), r4(col("tau")).as("tau"),
          col("w_total"),
          sum(round(estW * 1000, 0).cast("long"))
            .over(Window.partitionBy(lit(1))).as("est_milli"))
        .orderBy("rnk")
    }),

    // DETERMINISTIC EPOCH SHUFFLE (the data-ordering step every
    // multi-epoch training run needs reproducible: GPT-NeoX/Megatron
    // loaders consume a seeded per-epoch permutation, sharded so each
    // data-parallel worker reads its shard sequentially and the global
    // order is the round-robin interleave). NO rand(): the epoch-e key
    // of doc d is stableHash(e ∥ '#' ∥ d) — same hash discipline as
    // q48/q50/q162, so the permutation is recomputation-stable,
    // engine-portable, and epochs decorrelate by construction (a new e
    // re-keys every doc). shard = key mod S; pos = rank within
    // (epoch, shard) by (key, doc_id). Scale: one narrow hash
    // projection, one shuffle on (epoch, shard), one per-shard sort —
    // exactly the bill a shuffled-order manifest costs; S is the
    // parallelism knob (the sort is n/S per shard), and a loader that
    // sort-merges on read can skip the rank entirely and consume the
    // key order lazily.
    "q169_epoch_shuffle" -> ((s, dir) => {
      val shards = 8
      val w = Window.partitionBy("epoch", "shard")
        .orderBy(col("h"), col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array(lit(0L), lit(1L))).as("epoch"))
        .withColumn("h", stableHash(
          concat(col("epoch").cast("string"), lit("#"),
            col("doc_id").cast("string"))))
        .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
        .select(col("epoch"), col("doc_id"), col("shard"),
          row_number().over(w).cast("long").as("pos"))
    }),

    // Domain mixing: deterministic per-source sampling rates reweight the
    // corpus toward a target mixture (the data-mixture step before
    // training; sources tiered by suffix → rates 1.0/0.5/0.25/0.1). Keep
    // iff hash(doc_id) % 10000 < rate·10000 — the same hash-threshold
    // determinism as q48/q50: recomputation-stable, no stored sample
    // table, engine-portable. One hash aggregation; the kept set itself
    // needs no shuffle at all at any scale.
    "q71_domain_mix" -> ((s, dir) => {
      val tier = expr("try_cast(regexp_extract(source, '([0-9]+)$', 1) AS INT) div 5")
      val rate = when(tier === 0, 1.0).when(tier === 1, 0.5)
        .when(tier === 2, 0.25).otherwise(0.1)
      val kept =
        pmod(stableHash(col("doc_id").cast("string")), lit(10000)) < rate * 10000
      Tables(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_total"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          r4(max(rate)).as("target_rate"))
    }),

    // UniMax-style BUDGET ALLOCATION (Chung et al. ICLR'23: allocate a
    // total training-token budget across domains by WATERFILLING under
    // per-domain epoch caps — fairer than temperature sampling (q109)
    // because no domain is repeated past its cap to feed the mix). Unit
    // is TOKENS (UniMax's own), capacity = n_tokens × cap_epochs with
    // the cap schedule keyed on q71's quality tiers (high-quality
    // sources may repeat up to 4 epochs, the lowest 0.5 — the
    // quality-capped production variant), budget = one corpus-worth
    // (Σ n_tokens). The waterfill has a CLOSED RELATIONAL FORM — no
    // driver loop: sort domains by capacity ascending; a domain is
    // capped iff its full capacity fits the equal share at its turn
    // (capacity·(K−rk+1) ≤ N−prefix — the capped set is provably a
    // prefix of the sort), everyone else splits the residual equally.
    // Scale shape: ONE token-count aggregation over the corpus (the
    // only corpus-sized pass), then windows over the per-DOMAIN frame —
    // bounded cardinality (the language/source list), not corpus-sized.
    // All inputs are exact integers / exact binary halves, so prefix
    // sums, the cap predicate and the residual division are
    // bit-identical cross-engine with no rounding tricks needed before
    // the 4dp output.
    "q149_unimax_budget" -> ((s, dir) =>
      unimaxAlloc(Tables(s, dir, "documents"))),

    // TRAINING-MIX MANIFEST (the recipe compiler — the step that turns
    // this catalog's signals into the file a loader actually consumes):
    // the Gopher keep gate (q77) filters the corpus, the UniMax
    // waterfill (q149) re-budgets token allocations over the KEPT
    // corpus, and every kept doc gets its integer repeat count —
    // floor(epochs_source) copies for everyone plus one extra copy for
    // a deterministic hash-Bernoulli fraction of docs sized so the
    // realized token count meets the source's allocation in
    // expectation. NO rand(): the draw is stableHash(doc_id ∥ "#rep")
    // mod (source_tokens·10⁶) < alloc_micro mod (source_tokens·10⁶) —
    // pure integers after the one 4dp-rounded alloc is scaled to exact
    // micro-units, so both engines agree bit for bit and a re-run (or a
    // resumed loader) regenerates the identical manifest. Scale shape:
    // one doc-keyed equi-join against the keep gate, the q149
    // source-level chain (|sources| rows), one broadcast join back —
    // the per-doc work is a narrow codegen'd expression.
    "q162_training_manifest" -> ((s, dir) => {
      val keep = TextOps.queries("q77_gopher_filter")(s, dir)
        .filter(col("keep")).select("doc_id")
      val kept = Tables(s, dir, "documents")
        .join(keep, "doc_id")
        .select(col("doc_id"), col("source"), col("text"))
      val a = unimaxAlloc(kept).select(col("source"),
        col("n_tokens").as("t_src"),
        round(col("alloc_tokens") * 1000000).cast("long").as("alloc_micro"))
      kept.select(col("doc_id"), col("source"),
          size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long").as("n_tokens"))
        .join(broadcast(a), "source")
        .withColumn("t_micro", col("t_src") * lit(1000000L))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (expr("alloc_micro div t_micro") +
            when(pmod(graft.functions.TextFunctions.stableHash(
                concat(col("doc_id").cast("string"), lit("#rep"))),
              col("t_micro")) < col("alloc_micro") % col("t_micro"), 1L)
              .otherwise(0L)).as("n_copies"))
    }),
    // Quality-ranked canonical selection: within each dup cluster keep the
    // HIGHEST-quality document (q24's scorer), not the lowest id — what a
    // curation pipeline actually ships. One window over the cluster id.
    "q51_keeper_by_quality" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val clusters = dedupClusters(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val quality = TextOps.queries("q24_quality_score")(s, dir)
        .select(col("doc_id"), col("quality"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(desc("quality"), asc("doc_id"))
      clusters.join(quality, Seq("doc_id"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
        .select(col("cluster_id"), col("doc_id").as("keeper_doc_id"),
          col("quality").as("keeper_quality"))
    }),

    // Leakage-safe split: assign train/val/test by hash of the CLUSTER id,
    // so near-duplicates never straddle the split boundary (the classic
    // train/test contamination bug a doc-id hash split cannot prevent).
    "q52_cluster_safe_split" -> ((s, dir) => {
      val bucket = pmod(stableHash(col("cluster_id").cast("string")), lit(100))
      dedupClusters(s, dir)
        .select(col("doc_id"), col("cluster_id"), bucket.as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
    }),

    // Temperature-based domain mixture (α = 0.5, i.e. T = 2): resample so
    // the domain distribution follows p^α — the multilingual-BERT /
    // XLM-R-style rebalancing that upweights tail domains without
    // upsampling (rates are normalized so the most-over-represented-
    // under-the-target domain keeps rate 1, everything else subsamples).
    // EXACT integer arithmetic end-to-end: α = ½ makes the weight a
    // sqrt — correctly rounded in IEEE on both engines — which is
    // snapped to integer micro-units; the argmax of the rational rate
    // s6_s/n_s and the per-doc keep test h/10⁶ < rate are then pure
    // integer-product comparisons in DECIMAL (no float ordering anywhere,
    // the q88 determinism discipline). Two corpus passes: a count-only
    // stats scan (domain column only, pruned) + the sampling scan joined
    // to the broadcast 1-row-per-domain rate table — the q81 two-pass
    // shape. The synthetic corpus has UNIFORM sources (every rate would
    // be 1.0), so the gate derives a halving-skew domain binning
    // (32/16/8/4/2/2 per 64 ids — q103's make-it-load-bearing injection
    // precedent); real deployments pass their actual domain column.
    "q109_temperature_mix" -> ((s, dir) => {
      val dm = col("doc_id") % 64
      val domainCol = when(dm < 32, "head").when(dm < 48, "mid1")
        .when(dm < 56, "mid2").when(dm < 60, "mid3")
        .when(dm < 62, "tail1").otherwise("tail2")
      def docs = Tables(s, dir, "documents")
        .select(col("doc_id"), domainCol.as("source"))
      val stats = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
      val tot = stats.agg(sum("n_s").as("n_tot"))
      val s6t = stats.crossJoin(broadcast(tot))
        .withColumn("s6", round(sqrt(col("n_s").cast("double") /
          col("n_tot").cast("double")) * 1e6, 0).cast("long"))
        .select(col("source"), col("n_s"), col("s6"))
      def dec(c: Column, p: Int): Column = c.cast(s"decimal($p,0)")
      val b = s6t.select(col("source").as("b_source"),
        col("n_s").as("b_n"), col("s6").as("b_s6"))
      // exact argmax of the rational s6/n (pre-normalization rate); ties
      // break to the lexicographically smallest source
      val m = s6t.join(b,
          (dec(col("b_s6"), 7) * dec(col("n_s"), 18) >
            dec(col("s6"), 7) * dec(col("b_n"), 18)) ||
          ((dec(col("b_s6"), 7) * dec(col("n_s"), 18) ===
            dec(col("s6"), 7) * dec(col("b_n"), 18)) &&
            col("b_source") < col("source")), "left_anti")
        .select(col("n_s").as("m_n"), col("s6").as("m_s6"))
      val rates = s6t.crossJoin(broadcast(m))
      val h = pmod(stableHash(col("doc_id").cast("string")), lit(1000000))
      val keep = dec(h, 7) * (dec(col("n_s"), 18) * dec(col("m_s6"), 7)) <
        dec(lit(1000000), 7) * (dec(col("s6"), 7) * dec(col("m_n"), 18))
      docs
        .join(broadcast(rates), Seq("source"))
        .groupBy(col("source").as("domain")).agg(
          count(lit(1)).as("n_total"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          round(max(col("s6")).cast("double") * max(col("m_n")).cast("double") /
            (max(col("n_s")).cast("double") * max(col("m_s6")).cast("double")), 6)
            .as("rate6"))
    }),

    // Epoch-seeded deterministic shuffle + sharding — the dataloader's
    // training-order operator: a reproducible pseudo-random permutation of
    // the corpus per epoch (hash of epoch‖doc_id IS the permutation key),
    // written as S independent shards each sorted by the key. Scale shape:
    // a GLOBAL row_number would funnel the corpus through one task; the
    // shard-partitioned window sorts each shard independently, so S scales
    // with the cluster and each shard is one dataloader file. Same epoch →
    // same order, next epoch → statistically independent order, no RNG
    // state anywhere (the q48/q50 hash-sampling discipline).
    "q111_epoch_shuffle" -> ((s, dir) => epochPerm(s, dir, 7, 8)),

    // Deterministic in-batch negative sampling (the contrastive-training
    // dataloader step: each anchor needs K negatives drawn uniformly but
    // REPRODUCIBLY — resumable training must re-derive the same pairs): the
    // epoch permutation IS the sampler. Negative j of an anchor at shuffled
    // position p is the document at position ((p−1+j) mod n_shard)+1 in the
    // SAME shard — positions are pseudo-random in doc order, so offsets
    // 1..K are K independent uniform picks, with no RNG state anywhere (the
    // q48/q111 hash discipline). Scale shape: per-shard sizes are an
    // S-row broadcast; the negative lookup is an equi-join keyed
    // (shard, pos) — each shard joins only against itself, K output rows
    // per anchor, never a cross join; the window sort is per-shard (q111's
    // scaling argument).
    "q115_negative_samples" -> ((s, dir) => {
      val (epoch, nShards, kNeg) = (7, 8, 4)
      val perm = epochPerm(s, dir, epoch, nShards)
      val sizes = perm.groupBy("shard").agg(count(lit(1)).as("n_shard"))
      val neg = perm.select(col("shard"), col("pos").as("neg_pos"),
        col("doc_id").as("neg_id"))
      perm.join(broadcast(sizes), Seq("shard"))
        .select(col("doc_id").as("anchor_id"), col("shard"), col("pos"),
          col("n_shard"),
          explode(array((1 to kNeg).map(lit): _*)).as("j"))
        .withColumn("neg_pos", pmod(col("pos") - 1 + col("j"),
          col("n_shard")) + 1)
        .join(neg, Seq("shard", "neg_pos"))
        .select(col("anchor_id"), col("j"), col("neg_id"), col("shard"))
    })
  )

  /** q111's epoch-seeded permutation (doc_id, shard, pos): hash(epoch ‖
    * doc_id) is the shuffle key, row_number within each shard — the
    * dataloader ordering artifact q115's negative sampler indexes into. */
  private def epochPerm(s: SparkSession, dir: String, epoch: Int,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = stableHash(concat(lit(s"e$epoch:"), col("doc_id").cast("string")))
    Tables(s, dir, "documents")
      .select(col("doc_id"), h.as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards)).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("h"), col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  private val splitBucketSql =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100"

  /** DuckDB CTE chain (usable after `WITH RECURSIVE`) parameterized by the
    * pair-generating subquery (must yield (doc_a, doc_b)) and the vertex
    * predicate: transitive closure → `clus` (doc_id, cluster_id). */
  private def clustersCteWith(pairsSubquery: String,
      vertexPred: String = "TRUE"): String =
    s"""pairs AS ($pairsSubquery),
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL
                 SELECT doc_b, doc_a FROM pairs),
       reach(node, lbl) AS (
         SELECT doc_id, doc_id FROM documents WHERE $vertexPred
         UNION
         SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
       clus AS (SELECT node AS doc_id, min(lbl) AS cluster_id
                FROM reach GROUP BY node)"""

  /** Shared chain for q47/q51/q52: near-dup pairs from q33's banding at
    * est >= 0.5. */
  private lazy val clustersCte: String = clustersCteWith(
    s"""SELECT doc_a, doc_b FROM (
         ${DedupOps.oracle("q33_minhash_lsh_pairs")}
       ) q33 WHERE est_jaccard >= 0.5""")

  val oracle: Map[String, String] = Map(
    "q47_dedup_clusters" ->
      s"""WITH RECURSIVE $clustersCte
         SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_keeper
         FROM clus""",
    // identical pair chain as q31 but thresholded on the EXACT jaccard at
    // 0.5 (the tuned chain's contract), then transitive closure
    "q84_dedup_clusters_tuned" -> {
      val pairs = s"""SELECT doc_a, doc_b FROM (
           ${DedupOps.exactPairsSql("TRUE", capped = true, minJaccard = 0.5)}
         ) p"""
      s"""WITH RECURSIVE ${clustersCteWith(pairs)}
         SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_keeper
         FROM clus"""
    },
    // one-shot clustering of the SAME slice the streaming ingest consumed
    // batch-by-batch: uncapped gated geometry, exact jaccard >= 0.5
    // (DedupIngest's defaults), vertices = the slice
    "q86_ingest_endstate" -> {
      val pairs = s"""SELECT doc_a, doc_b FROM (
           ${DedupOps.exactPairsSql("doc_id < 600", capped = false,
              minJaccard = 0.5)}
         ) p"""
      s"""WITH RECURSIVE ${clustersCteWith(pairs, "doc_id < 600")}
         SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_keeper
         FROM clus"""
    },
    "q51_keeper_by_quality" ->
      s"""WITH RECURSIVE $clustersCte,
         qual AS (${TextOps.oracle("q24_quality_score")})
         SELECT cluster_id, doc_id AS keeper_doc_id,
                quality AS keeper_quality
         FROM (SELECT c.cluster_id, c.doc_id, q.quality,
                      row_number() OVER (PARTITION BY c.cluster_id
                        ORDER BY q.quality DESC, c.doc_id) AS rnk
               FROM clus c JOIN qual q ON q.doc_id = c.doc_id)
         WHERE rnk = 1""",
    "q52_cluster_safe_split" -> {
      val b = "CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15) AS BIGINT) % 100"
      s"""WITH RECURSIVE $clustersCte
         SELECT doc_id, cluster_id, $b AS bucket,
                CASE WHEN $b < 80 THEN 'train'
                     WHEN $b < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM clus"""
    },
    "q48_hash_split" ->
      s"""SELECT doc_id, $splitBucketSql AS bucket,
                 CASE WHEN $splitBucketSql < 80 THEN 'train'
                      WHEN $splitBucketSql < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents""",
    "q49_percentiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
                round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    // Rank-error-bound assertion oracle (see the q67 query comment):
    // sketches can't hash-match across engines, so the Spark side computes
    // the exact rank interval of each approx value and emits the bound
    // checks; DuckDB pins the group keys, the exact row counts, and the
    // expectation that every bound holds.
    "q67_approx_percentiles" ->
      """SELECT l_returnflag, count(*) AS n,
                TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
         FROM lineitem GROUP BY l_returnflag""",
    // the same closed-form waterfill: token counts are exact integers
    // and caps exact binary halves, so the prefix sums, the capped
    // predicate and the residual split agree bit-for-bit; the capped set
    // is a prefix of the (capacity, source) sort in both engines
    // q162: the q77 keep predicate filters, the q149 waterfill chain
    // re-budgets over the kept corpus, and the repeat counts are pure
    // integer arithmetic after the one 4dp alloc is scaled to exact
    // micro-units — floor division for the whole epochs, a stable-hash
    // Bernoulli (mod source_tokens·10⁶) for the fractional copy
    "q162_training_manifest" -> {
      val k77 = graft.queries.TextOps.oracle77ForReuse
      s"""WITH kept AS MATERIALIZED (
         |  SELECT d.doc_id, d.source, d.text
         |  FROM documents d JOIN ($k77) k ON k.doc_id = d.doc_id
         |  WHERE k.keep),
         |ud AS (
         |  SELECT source,
         |         TRY_CAST(regexp_extract(source, '([0-9]+)$$', 1) AS INT) // 5
         |           AS tier,
         |         len(string_split(text, ' ')) AS toks
         |  FROM kept),
         |ub AS (SELECT source,
         |             CAST(sum(toks) AS DOUBLE) AS n_tokens,
         |             CAST(max(CASE tier WHEN 0 THEN 4.0 WHEN 1 THEN 2.0
         |                                WHEN 2 THEN 1.0 ELSE 0.5 END)
         |                  AS DOUBLE) AS cap_epochs
         |      FROM ud GROUP BY source),
         |uc AS (SELECT *, n_tokens * cap_epochs AS capacity FROM ub),
         |uw AS (SELECT *,
         |        row_number() OVER (ORDER BY capacity, source) AS rk,
         |        coalesce(sum(capacity) OVER (ORDER BY capacity, source
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0.0) AS pfx,
         |        sum(n_tokens) OVER () AS tot_n,
         |        count(*) OVER () AS kk
         |      FROM uc),
         |uf AS (SELECT *,
         |        (capacity * (kk - rk + 1) <= tot_n - pfx) AS capped
         |      FROM uw),
         |ug AS (SELECT *,
         |        sum(CASE WHEN capped THEN capacity ELSE 0.0 END)
         |          OVER () AS cap_sum,
         |        sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_cap
         |      FROM uf),
         |ua AS MATERIALIZED (SELECT source,
         |        CAST(n_tokens AS BIGINT) AS t_src,
         |        CAST(round(round(CASE WHEN capped THEN capacity
         |              ELSE (tot_n - cap_sum) / (kk - n_cap) END, 4)
         |             * 1000000) AS BIGINT) AS alloc_micro
         |      FROM ug)
         |SELECT k.doc_id, k.source,
         |       CAST(len(string_split(k.text, ' ')) AS BIGINT) AS n_tokens,
         |       CAST(ua.alloc_micro // (ua.t_src * 1000000)
         |            + CASE WHEN CAST('0x' || substr(md5(
         |                     CAST(k.doc_id AS VARCHAR) || '#rep'), 1, 15)
         |                     AS BIGINT) % (ua.t_src * 1000000)
         |                   < ua.alloc_micro % (ua.t_src * 1000000)
         |                   THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |FROM kept k JOIN ua ON ua.source = k.source""".stripMargin
    },
    "q149_unimax_budget" ->
      """WITH d AS (
           SELECT source,
                  TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) // 5
                    AS tier,
                  len(string_split(text, ' ')) AS toks
           FROM documents),
         b AS (SELECT source,
                      CAST(sum(toks) AS DOUBLE) AS n_tokens,
                      CAST(max(CASE tier WHEN 0 THEN 4.0 WHEN 1 THEN 2.0
                                         WHEN 2 THEN 1.0 ELSE 0.5 END)
                           AS DOUBLE) AS cap_epochs
               FROM d GROUP BY source),
         c AS (SELECT *, n_tokens * cap_epochs AS capacity FROM b),
         w AS (SELECT *,
                 row_number() OVER (ORDER BY capacity, source) AS rk,
                 coalesce(sum(capacity) OVER (ORDER BY capacity, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0.0) AS pfx,
                 sum(n_tokens) OVER () AS tot_n,
                 count(*) OVER () AS kk
               FROM c),
         f AS (SELECT *,
                 (capacity * (kk - rk + 1) <= tot_n - pfx) AS capped
               FROM w),
         g AS (SELECT *,
                 sum(CASE WHEN capped THEN capacity ELSE 0.0 END)
                   OVER () AS cap_sum,
                 sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_cap
               FROM f)
         SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, cap_epochs,
                capped,
                round(CASE WHEN capped THEN capacity
                      ELSE (tot_n - cap_sum) / (kk - n_cap) END, 4)
                  AS alloc_tokens,
                round(CASE WHEN capped THEN capacity
                      ELSE (tot_n - cap_sum) / (kk - n_cap) END
                      / n_tokens, 4) AS epochs
         FROM g""",
    "q71_domain_mix" ->
      """WITH d AS (
           SELECT source, doc_id,
                  TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) // 5
                    AS tier,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 10000 AS h
           FROM documents),
         r AS (SELECT *, CASE tier WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
                                   WHEN 2 THEN 0.25 ELSE 0.1 END AS rate
               FROM d)
         SELECT source, count(*) AS n_total,
                CAST(sum(CASE WHEN h < rate * 10000 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_kept,
                round(CAST(max(rate) AS DOUBLE), 4) AS target_rate
         FROM r GROUP BY source""",
    "q50_stratified_sample" ->
      """SELECT event_type, count(*) AS n_sampled,
                min(event_id) AS min_event_id,
                round(sum(value), 4) AS sum_value
         FROM events
         WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 10 = 0
         GROUP BY event_type""",
    "q169_epoch_shuffle" ->
      """WITH ed AS (SELECT d.doc_id, e.epoch
              FROM documents d CROSS JOIN
                   (SELECT unnest([0, 1]) AS epoch) e),
         k AS (SELECT epoch, doc_id,
                CAST('0x' || substr(md5(CAST(epoch AS VARCHAR) || '#' ||
                                        CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) AS h
               FROM ed)
         SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, h % 8 AS shard,
                CAST(row_number() OVER (PARTITION BY epoch, h % 8
                       ORDER BY h, doc_id) AS BIGINT) AS pos
         FROM k""",
    // the same one-division-each u and p spellings as the Spark side —
    // IEEE division is correctly rounded, so priorities, the top-(k+1)
    // cut and τ are bitwise identical; est_milli is an integer sum
    // (order-free)
    "q166_priority_sample" ->
      """WITH d AS (SELECT doc_id, GREATEST(n_chars, 1) AS w,
                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                     AS BIGINT) % 1073741824 + 1 AS hu
              FROM documents),
         p AS (SELECT doc_id, w,
                CAST(w AS DOUBLE) / (CAST(hu AS DOUBLE) / 1073741824.0)
                  AS pri FROM d),
         t AS (SELECT doc_id, w, pri,
                row_number() OVER (ORDER BY pri DESC, doc_id) AS rnk
               FROM p QUALIFY rnk <= 65),
         tau AS (SELECT max(CASE WHEN rnk = 65 THEN pri END) AS tau FROM t),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM d),
         s AS (SELECT t.rnk, t.doc_id, t.w, t.pri, tau.tau, tot.w_total
               FROM t, tau, tot WHERE t.rnk <= 64)
         SELECT rnk, doc_id, w, round(pri, 4) AS priority,
                round(GREATEST(CAST(w AS DOUBLE), tau), 4) AS est_w,
                round(tau, 4) AS tau, w_total,
                CAST((SELECT sum(CAST(round(GREATEST(CAST(w AS DOUBLE), tau)
                                            * 1000, 0) AS BIGINT)) FROM s)
                     AS BIGINT) AS est_milli
         FROM s ORDER BY rnk""",
    // literal mirror of the exact-integer pipeline: sqrt is correctly
    // rounded on both engines, everything after the micro-unit snap is
    // integer arithmetic (HUGEINT here, DECIMAL on the Spark side)
    "q109_temperature_mix" ->
      """WITH docs AS (SELECT doc_id,
                CASE WHEN doc_id % 64 < 32 THEN 'head'
                     WHEN doc_id % 64 < 48 THEN 'mid1'
                     WHEN doc_id % 64 < 56 THEN 'mid2'
                     WHEN doc_id % 64 < 60 THEN 'mid3'
                     WHEN doc_id % 64 < 62 THEN 'tail1'
                     ELSE 'tail2' END AS source
              FROM documents),
         stats AS (SELECT source, count(*) AS n_s
                        FROM docs GROUP BY source),
         tot AS (SELECT sum(n_s) AS n_tot FROM stats),
         s6t AS (SELECT source, n_s,
                        CAST(round(sqrt(n_s / CAST(n_tot AS DOUBLE))
                                   * 1000000, 0) AS BIGINT) AS s6
                 FROM stats, tot),
         m AS (SELECT n_s AS m_n, s6 AS m_s6 FROM s6t a
               WHERE NOT EXISTS (SELECT 1 FROM s6t b
                 WHERE CAST(b.s6 AS HUGEINT) * a.n_s
                         > CAST(a.s6 AS HUGEINT) * b.n_s
                    OR (CAST(b.s6 AS HUGEINT) * a.n_s
                          = CAST(a.s6 AS HUGEINT) * b.n_s
                        AND b.source < a.source))),
         r AS (SELECT s6t.source, s6t.n_s, s6t.s6, m.m_n, m.m_s6
               FROM s6t, m),
         d AS (SELECT doc_id, source,
                      CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                           AS BIGINT) % 1000000 AS h
               FROM docs)
         SELECT d.source AS domain, count(*) AS n_total,
                CAST(sum(CASE WHEN CAST(d.h AS HUGEINT)
                                     * (CAST(r.n_s AS HUGEINT) * r.m_s6)
                                   < CAST(1000000 AS HUGEINT)
                                     * (CAST(r.s6 AS HUGEINT) * r.m_n)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                round(CAST(max(r.s6) AS DOUBLE) * CAST(max(r.m_n) AS DOUBLE)
                      / (CAST(max(r.n_s) AS DOUBLE)
                         * CAST(max(r.m_s6) AS DOUBLE)), 6) AS rate6
         FROM d JOIN r ON d.source = r.source
         GROUP BY d.source""",
    "q111_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id,
                CAST('0x' || substr(md5('e7:' || CAST(doc_id AS VARCHAR)),
                     1, 15) AS BIGINT) AS h
              FROM documents)
         SELECT doc_id, CAST(h % 8 AS INT) AS shard,
                row_number() OVER (PARTITION BY h % 8
                                   ORDER BY h, doc_id) AS pos
         FROM h""",
    // q115: same permutation CTE; the negative lookup is pure integer
    // arithmetic over it — (pos−1+j) is non-negative, so % ≡ pmod
    "q115_negative_samples" ->
      """WITH h AS (SELECT doc_id,
                CAST('0x' || substr(md5('e7:' || CAST(doc_id AS VARCHAR)),
                     1, 15) AS BIGINT) AS h
              FROM documents),
         p AS (SELECT doc_id, CAST(h % 8 AS INT) AS shard,
                      row_number() OVER (PARTITION BY h % 8
                                         ORDER BY h, doc_id) AS pos
               FROM h),
         n AS (SELECT shard, count(*) AS n_shard FROM p GROUP BY shard),
         e AS (SELECT a.doc_id AS anchor_id, a.shard, a.pos, n.n_shard,
                      CAST(t.j AS INT) AS j
               FROM p a JOIN n USING (shard) CROSS JOIN range(1, 5) t(j))
         SELECT e.anchor_id, e.j, b.doc_id AS neg_id, e.shard
         FROM e JOIN p b
           ON b.shard = e.shard
          AND b.pos = ((e.pos - 1 + e.j) % e.n_shard) + 1"""
  )
}
