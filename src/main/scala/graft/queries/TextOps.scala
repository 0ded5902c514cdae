package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table: tokenization,
  * word-count, language-ID heuristic, quality scoring, fingerprinting,
  * binary-column plumbing. All oracle-verified against DuckDB.
  *
  * Scale notes: every query is a narrow transform + (optionally) one hash
  * aggregation — no driver-side loops, no UDFs. At 100 TB these parallelize
  * per-file; the only shuffles are the final aggregates.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private def r4(c: Column): Column = round(c, 4)

  /** q168's blocklist — ONE list feeding both the Aho–Corasick automaton
    * and the generated oracle SQL (change it in one place or the gate
    * hash-fails). Chosen to exercise the automaton: "an"⊂"can"⊂"scan",
    * "able"⊂"table", "ash"⊂"hash", "in"⊂"window"/"join"/"line" — every
    * suffix relation is a failure-link/output-fold case. */
  private[graft] val AcBlocklist: Seq[String] =
    Seq("scan", "can", "an", "table", "able", "join", "in", "window",
      "row", "hash", "ash")

  /** Exact, order-independent 4dp mean of a 6dp-rounded double column.
    *
    * `round(avg(x6), 4)` is nondeterministic when `x6` is itself rounded:
    * Spark's float `avg` depends on partition merge order (doubles are not
    * associative), and means of 6dp values park exactly on 4dp half
    * boundaries, where a 1-ulp order difference flips the HALF_UP digit
    * (the r7 q88 driver-gate flake). Fix: recover the exact integer
    * micro-units — `x6` is within ~1e-8 of k/1e6, so `round(x6*1e6)` is
    * exactly k — sum as LONG (associative: any merge order gives the same
    * bits), then apply half-away-from-zero rounding to 4dp in pure
    * integer/floor arithmetic. `floor` is safe: the quotient is ≥ 1/(200n)
    * away from an integer when fractional, and the double division error
    * (~quotient·2⁻⁵³) is orders of magnitude smaller for any realistic
    * per-group n. The DuckDB oracle mirrors the formula literally
    * ([[mean4of6Sql]]). */
  private[queries] def mean4of6(c: Column): Column = {
    val s = sum(round(c * lit(1e6)).cast("long"))
    val n = count(lit(1))
    signum(s) * floor((abs(s) * 2 + n * 100) / (n * 200)) / lit(10000.0)
  }

  /** DuckDB mirror of [[mean4of6]]: same micro-unit sum + integer
    * half-away-from-zero rounding (DuckDB `/` on BIGINT is double division,
    * like Spark's). */
  private[queries] def mean4of6Sql(col6: String): String = {
    val s = s"sum(CAST(round($col6 * 1e6) AS BIGINT))"
    s"sign($s) * floor((abs($s) * 2 + count(*) * 100) / (count(*) * 200)) / 10000.0"
  }

  /** The q88 DSIR-weights plan, shared with q94's selection step (one
    * definition — the selection scores exactly what the gate verifies). */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val B = 256
    val keep = docs(s, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), gopherKeep.as("keep"))
    // keep is ONE ROW PER DOC — corpus-sized, never broadcast: both
    // sides hash-partition on doc_id (the exchange the final per-doc
    // aggregation reuses)
    val toks = docs(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("b", pmod(stableHash(col("tok")), lit(B)))
      .join(keep, Seq("doc_id"))
    // ONE aggregation pass yields BOTH 256-row distributions (raw +
    // target counts per bucket); totals and the log-likelihood ratios
    // derive from that 256-row table — no second and third corpus pass
    // for nr/nt, no Spark job per scalar.
    val dist = toks.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("ct"))
    val totals = dist.agg(sum("cr").as("nr"), sum("ct").as("nt"))
    val ratio = dist.crossJoin(broadcast(totals))
      .withColumn("llr6", round(
        log((col("ct") + 1).cast("double") / (col("nt") + B).cast("double")) -
          log((col("cr") + 1).cast("double") / (col("nr") + B).cast("double")),
        6))
    toks.join(broadcast(ratio.select("b", "llr6")), Seq("b"))
      .groupBy("doc_id").agg(
        count(lit(1)).cast("long").as("n_tokens"),
        first(col("keep")).as("keep"),
        mean4of6(col("llr6")).as("importance"))
  }

  /** Marker vocabularies for the language-ID heuristic (n-gram/stopword
    * scoring). Fixed lists so the oracle SQL can mirror them. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "que"),
    "de" -> Seq("der", "die", "und"))

  /** Gopher-rule signal columns (Rae et al. 2021 §A1.1), over a frame with
    * `text` and `toks` columns — shared by q77 (per-doc gate) and q80
    * (per-source report). All exact integer-ratio doubles, so both engines
    * agree bit-for-bit. */
  private val gopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private def gopherNWords: Column = size(col("toks"))
  private def gopherMeanLen: Column =
    length(regexp_replace(col("text"), " ", "")).cast("double") /
      gopherNWords.cast("double")
  private def gopherSymRatio: Column = {
    val nHash = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("double")
    val nEll = size(regexp_extract_all(col("text"), lit("\\.\\.\\."),
      lit(0))).cast("double")
    (nHash + nEll) / gopherNWords.cast("double")
  }
  private def gopherAlphaFrac: Column =
    size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("double") /
      gopherNWords.cast("double")
  private def gopherStopCount: Column = markerCount(col("toks"), gopherStopwords)
  private def gopherKeep: Column =
    gopherNWords >= 50 && gopherNWords <= 100000 &&
      gopherMeanLen >= 3.0 && gopherMeanLen <= 10.0 &&
      gopherSymRatio <= 0.1 && gopherAlphaFrac >= 0.8 &&
      gopherStopCount >= 2

  /** q129 epoch count E. The DuckDB oracle unrolls exactly this many
    * epochs as chained CTEs (both sides are generated from THIS constant,
    * so they can never drift apart). Kept small: each epoch is ~3 Spark
    * jobs, and 3 epochs already exercise a changing trajectory. */
  private[queries] val PerceptronEpochs = 3

  /** Bound on the perceptron's driver-held weight vector (the BpeTrainer
    * `driverMax` contract applied to MODEL STATE): the exact raw-vocab
    * path probes `|vocab| ≤ this` first and, above it, falls back to the
    * hashed-feature trainer — so no corpus, however large, can materialize
    * an unbounded weight map on the driver or an unbounded per-epoch
    * broadcast. Gate corpora have vocabularies in the low thousands, so
    * the gate always exercises the exact path. */
  private[graft] val PerceptronVocabMax = 200000L

  /** Bucket count B for the hashed-feature flavor (q138 and the q129
    * fallback). Small enough that the DuckDB oracle's unrolled epoch CTEs
    * stay cheap; the trainer itself takes any power-of-two-ish B. */
  private[graft] val PerceptronHashBuckets = 64

  /** The RAW (feat = token) perceptron design matrix — a SHARED
    * per-(session, dir) artifact (r17, guide §1.2.1 "don't compute things
    * twice"): q129 consumes it directly and q138 re-aggregates it into the
    * hashed feature space (Σ raw tf per bucket ≡ token count per bucket,
    * exactly the fallback path's fold), so the corpus
    * scan→tokenize→explode→groupBy runs ONCE per bench pass for both
    * perceptron gates instead of twice. */
  private val PerceptronMatrix =
    new ArtifactCache.Kind[DataFrame]("perceptronMatrix")

  /** The q107 winnowing fingerprints — the artifact a contamination
    * pipeline persists (fingerprints are computed at ingest, then scanned
    * by every audit): q107 emits it directly and q124 derives its
    * train/test split from it, so the corpus tokenize + double window pass
    * runs ONCE per bench pass for both gates (r18, guide §1.2.1). */
  private val Winnow = new ArtifactCache.Kind[DataFrame]("winnow")

  private def winnowCached(s: SparkSession, dir: String): DataFrame =
    ArtifactCache(s, dir, Winnow)(
      winnow(docs(s, dir)).localCheckpoint(eager = false))

  private def perceptronDesignMatrixCached(s: SparkSession,
      dir: String): DataFrame =
    ArtifactCache(s, dir, PerceptronMatrix) {
      docs(s, dir)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        // y is computed in its own projection BELOW the explode: the
        // Gopher label runs its regexps once per DOC. Fused into the
        // explode's projection it would re-evaluate per TOKEN — measured
        // 3× the whole query's wall at sf0.1 (stage timings, r13).
        .select(col("doc_id"),
          when(gopherKeep, 1L).otherwise(-1L).as("y"), col("toks"))
        .select(col("doc_id"), col("y"), explode(col("toks")).as("feat"))
        .groupBy("doc_id", "y", "feat").agg(count(lit(1)).as("tf"))
        .repartition(col("doc_id"))
        .localCheckpoint(eager = false)
    }

  /** Batch perceptron trainer (Rosenblatt 1958, batch update), shared by
    * q129 (exact raw-token features) and q138 (hashed features). Features
    * = token counts (raw or bucketed), labels y = ±1 from the q77 Gopher
    * rules, E epochs of w += Σ_misclassified y·tf, b += Σ y — ALL INTEGER,
    * so both engines agree bit-for-bit with zero rounding discipline. The
    * gate checks the whole TRAJECTORY (per-epoch weights, bias, and
    * misclassification count), not just the final model.
    *
    * Scale shape: the (doc, feat, tf) design matrix materializes ONCE
    * (partitioned by doc_id; per-epoch margins aggregate without a
    * re-shuffle and the miss join is co-partitioned); per-epoch weights
    * are driver state broadcast into the margin join, BOUNDED two ways —
    * hashed mode is O(B) by construction, and the exact mode probes
    * `|vocab| ≤ vocabMax` (take(limit), never an unbounded collect) and
    * falls back to hashed mode above it, the same size-gated-tier shape
    * as BpeTrainer/ConnectedComponents. Each epoch: the miss set
    * materializes ONCE (localCheckpoint — three consumers, one compute),
    * then two tiny collects (the bounded feature updates and the 1-row
    * bias/nmiss aggregate). E is a fixed hyperparameter: cost = E·2
    * passes over the checkpointed design matrix, independent of n².
    *
    * q138 (hashed mode) folds the shared raw matrix, so on a cold cache
    * where q129 has not run, an isolated hashed caller materializes the
    * vocabulary-sized raw checkpoint (one row per distinct (doc, token)
    * instead of per (doc, bucket)) plus one extra aggregation, which a
    * direct hashed build would avoid. The suite runs both queries every
    * pass, where one corpus scan for both is the win; an isolated q138
    * pays more time and memory. */
  private[graft] def perceptronTrajectory(s: SparkSession, dir: String,
      hashBuckets: Option[Int],
      vocabMax: Long = PerceptronVocabMax): DataFrame = {
    import s.implicits._
    def hashed(b: Int): Column => Column = tok =>
      pmod(graft.functions.TextFunctions.stableHash(tok), lit(b))
        .cast("string")
    val raw = perceptronDesignMatrixCached(s, dir)
    val dtf0 = hashBuckets match {
      case Some(b) =>
        // hashed-feature matrix DERIVED from the shared raw artifact — a
        // doc_id-co-partitioned fold (the raw checkpoint's HashPartitioning
        // (doc_id) satisfies the groupBy's clustering, so NO exchange),
        // never a second corpus scan/explode. tf sums are exact: the
        // bucket's token count is the sum of its member tokens' counts.
        raw.select(col("doc_id"), col("y"),
            hashed(b)(col("feat")).as("feat"), col("tf"))
          .groupBy("doc_id", "y", "feat").agg(sum(col("tf")).as("tf"))
          .localCheckpoint(eager = false)
      case None => raw
    }
    // model state: feature-keyed integer weights on the driver — the
    // SIZE-GATED probe, not an unbounded collect
    val bound = hashBuckets.map(_.toLong).getOrElse(vocabMax)
    var featRows = dtf0.select("feat").distinct()
      .take(graft.operators.DriverTier.probeLimit(bound))
    val dtf =
      if (featRows.length <= bound) dtf0
      else {
        // raw vocabulary exceeds what a driver-held weight vector may
        // hold: re-train in the hashed feature space (trajectory semantics
        // change, but only in the regime where the exact path is
        // impossible — the BpeTrainer driver-tier contract). The hashed
        // design matrix RE-AGGREGATES the checkpointed raw one — a B-way
        // co-partitioned fold, never a second corpus scan/explode.
        val h = dtf0
          .select(col("doc_id"), col("y"),
            hashed(PerceptronHashBuckets)(col("feat")).as("feat"), col("tf"))
          .groupBy("doc_id", "y", "feat").agg(sum(col("tf")).as("tf"))
          .localCheckpoint(eager = false)
        featRows = h.select("feat").distinct()
          .take(PerceptronHashBuckets + 1)
        h
      }
    val vocab = featRows.map(_.getString(0)).sorted
    var wmap = vocab.map(_ -> 0L).toMap
    var bias = 0L
    // r17 single-pass epoch (guide §2.4 "two operations keyed the same way
    // share one exchange"): the design matrix gains ONE synthetic row per
    // doc with feat = NULL, tf = 1 — the BIAS feature (NULL is unreachable
    // from real tokens, so a doc literally containing any marker string
    // cannot corrupt the model; the r15 `kind`-column concern, solved
    // structurally). Each epoch is then ONE query: broadcast-join the
    // weights (bias rides as the NULL-key weight, so the windowed
    // Σ tf·w over the doc IS margin + bias), filter misclassified rows
    // with a WINDOW over the already-doc_id-partitioned matrix (no
    // exchange, no checkpoint, no join-back), and aggregate per-feat
    // updates + bias delta + miss count in the SAME groupBy — the NULL
    // group's sum(y·tf) = Σ_miss y (bias delta) and its count = miss
    // docs. All integer arithmetic: margins, filters and updates are
    // bit-identical to the r16 three-consumer spelling (asserted by the
    // oracle's unrolled epoch CTEs and PerceptronSpec), but each epoch is
    // ~2 jobs instead of ~7 (measured: q129 29 → 11 jobs).
    val aug = dtf.unionByName(
        dtf.groupBy("doc_id", "y").agg(count(lit(1)).as("tf"))
          .select(col("doc_id"), col("y"),
            lit(null).cast("string").as("feat"), lit(1L).as("tf")))
      .repartition(col("doc_id"))
      .localCheckpoint(eager = false)
    val W = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val traj = Seq.newBuilder[(Long, String, Long)]
    (1 to PerceptronEpochs).foreach { e =>
      val wdf = broadcast(
        (wmap.toSeq.map { case (f, w) => (Option(f), w) } :+
          ((Option.empty[String], bias)))
          .toDF("wfeat", "w"))
      var nmiss = 0L
      aug.join(wdf, col("feat") <=> col("wfeat"))
        .withColumn("margin", sum(col("tf") * col("w")).over(W))
        .filter(col("y") * col("margin") <= 0)
        .groupBy("feat")
        .agg(sum(col("y") * col("tf")).as("v"),
          count(lit(1)).cast("long").as("cnt"))
        .collect()
        .foreach { r =>
          if (r.isNullAt(0)) { bias += r.getLong(1); nmiss = r.getLong(2) }
          else {
            val t = r.getString(0)
            wmap = wmap.updated(t, wmap(t) + r.getLong(1))
          }
        }
      traj += ((e.toLong, "__nmiss__", nmiss))
      wmap.foreach { case (t, w) => traj += ((e.toLong, t, w)) }
      traj += ((e.toLong, "__bias__", bias))
    }
    traj.result().toDF("epoch", "feat", "wgt")
  }

  /** The Gopher gate as a reusable transform over any frame with `doc_id`
    * and `text` columns — BATCH OR STREAMING (all signals are narrow
    * column expressions, so the same gate drops low-quality docs inside a
    * `readStream → writeStream` ingest pipeline with zero changes; see
    * TrainingPrepSpec's streaming ≡ batch test). */
  def gopherGate(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        gopherNWords.cast("long").as("n_words"),
        gopherStopCount.cast("long").as("stop_count"),
        gopherKeep.as("keep"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    // the bounded-memory frequency sketch — width × depth counters
    // regardless of key cardinality, mergeable by pure addition, so at
    // 100 TB frequency estimation costs a few hundred KB per executor
    // where an exact groupBy's hash table scales with the vocabulary.
    // The gate follows the q67 sketch-oracle SHAPE (output carries its
    // own bound check) with one honest difference: q67's rank bound is a
    // hard GK guarantee, while the CMS upper bound is a-priori
    // probabilistic over seed choice — est_ok ⟺ exact ≤ estimate ≤
    // exact + 2ε·N. The lower bound is unconditional (CMS only ever
    // over-counts; it also proves the aggregation and estimateCount hash
    // the same key bytes). The 2× margin puts the per-token a-priori
    // failure odds at ~4^-depth ≈ 1e-6 (Markov at twice the mean excess,
    // minimized over depth=10 rows) — and with the seed FIXED the sketch
    // is a deterministic, partition-order-free function of the token
    // multiset, so for a GIVEN corpus the booleans are recomputation-
    // stable facts, validated here at sf0.001/0.01/0.1. Sketch + top-20
    // are k-small driver state (q39-centroid precedent; builder eager
    // per the q67 contract).
    "q99_heavy_hitters" -> ((s, dir) => {
      val eps = 0.001
      val conf = 0.999
      val seed = 42
      val toks = docs(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
      val sketch = toks.stat.countMinSketch(col("word"), eps, conf, seed)
      val top = toks.groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word")).limit(20).collect()
      val bound = (2.0 * eps * sketch.totalCount()).toLong
      val rows = top.toSeq.zipWithIndex.map { case (r, i) =>
        val (w, n) = (r.getString(0), r.getLong(1))
        val est = sketch.estimateCount(w)
        (w, n, (i + 1).toLong, est >= n && est <= n + bound)
      }
      import s.implicits._
      rows.toDF("word", "n", "rnk", "est_ok")
    }),

    // F7 + A2: explode tokens → word frequency top-K (deterministic
    // tiebreak). The classic map-side-combinable aggregation.
    "q21_wordcount" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word"))
        .limit(20)
    }),

    // F6: 1-based element access (DuckDB list[1] == element_at(_, 1)).
    "q22_first_token" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        element_at(tokens(col("text")), 1).as("first_token"),
        element_at(tokens(col("text")), -1).as("last_token"))
    }),

    // Token counting: whitespace tokens + distinct-token cardinality.
    // Tokenize ONCE into a projected column — referencing `split(text)`
    // inside several expressions would re-split per reference (HOF lambdas
    // see the inlined expression, not a shared subexpression).
    "q23_token_stats" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars_calc"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct_tokens"))
    }),

    // Quality scoring: stopword ratio, punctuation ratio, mean token length
    // — the heuristics a pretraining filter applies per document.
    "q24_quality_score" -> ((s, dir) => {
      val nTok = size(col("toks")).cast("double")
      val stopRatio =
        markerCount(col("toks"), Seq("the", "a", "of")).cast("double") / nTok
      val avgTokLen =
        length(regexp_replace(col("text"), " ", "")).cast("double") / nTok
      docs(s, dir)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          r4(stopRatio).as("stopword_ratio"),
          r4(punctRatio(col("text"))).as("punct_ratio"),
          r4(avgTokLen).as("avg_token_len"),
          r4(stopRatio * lit(0.5) + (lit(1.0) - punctRatio(col("text"))) * lit(0.5))
            .as("quality"))
    }),

    // Language ID: marker-word scoring with fixed priority order. At scale:
    // narrow projection, zero shuffles.
    "q25_lang_id" -> ((s, dir) => {
      val scores = langMarkers.map { case (l, ws) =>
        l -> markerCount(col("toks"), ws)
      }
      val best = scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
        case ((bestScore, bestLang), (l, sc)) =>
          (greatest(bestScore, sc),
            when(sc > bestScore, lit(l)).otherwise(bestLang))
      }
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(
          col("doc_id"),
          when(best._1 > 0, best._2).otherwise(lit("und")).as("lang_guess"))
    }),

    // Document fingerprinting: min-md5-shingle (winnowing-style selection of
    // a content-stable representative shingle) + shingle cardinality.
    // Reads the SHARED per-doc distinct-shingle artifact (DedupOps stage
    // cache — the same 3-shingle sets q31/q58/q60 rescore from; a real
    // pipeline persists them once), so the tokenize→shingle stage never
    // reruns here, and because the artifact is already hash-partitioned by
    // doc_id the explode→groupBy(doc_id) aggregation is EXCHANGE-FREE.
    // Codegen'd md5 over exploded rows (a narrow array_min(transform(shs,
    // md5)) was MEASURED 7× SLOWER: higher-order-function lambdas evaluate
    // interpreted per element).
    "q26_fingerprint" -> ((s, dir) => {
      DedupOps.shingleSetCached(s, dir)
        .groupBy("doc_id").agg(
          min(md5(col("sh").cast("binary"))).as("fingerprint"),
          count(lit(1)).as("n_shingles"))
    }),

    // BPE-ish token counting: GPT-2-style pre-tokenizer split (runs of
    // letters / digits / other, each with an optional leading space) via
    // one regexp_extract_all, then a subword estimate of ceil(len/4) per
    // pre-token — the standard chars/4 heuristic applied piecewise, so
    // punctuation-heavy text estimates higher than plain prose. Narrow
    // projection, zero shuffles; the regex is RE2-safe (no lookahead) so
    // DuckDB extracts the identical pre-tokens.
    "q59_bpe_tokens" -> ((s, dir) => {
      val pre = regexp_extract_all(col("text"),
        lit(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"), lit(0))
      docs(s, dir)
        .select(col("doc_id"), pre.as("pre"))
        .select(col("doc_id"),
          size(col("pre")).cast("long").as("n_pretokens"),
          aggregate(col("pre"), lit(0L), (a, t) =>
            a + floor((length(ltrim(t)) + lit(3)) / lit(4.0)).cast("long"))
            .as("est_bpe_tokens"))
    }),

    // BPE ENCODING under a FIXED learned merge table — the oracle-gated
    // face of graft.operators.BpeTrainer: corpus → word-frequency table
    // (one hash aggregation, the only corpus pass) → greedy BPE encode of
    // each DISTINCT word under BpeTrainer.LearnedMerges (learned once,
    // offline, from sf0.01 via graft.tools.BpeLearn; applying a fixed
    // table is corpus-independent, so the query is well-defined at any
    // SF). Output is vocab-bounded. The oracle replays the identical
    // greedy encoder as a chain of literal string replaces over a
    // double-space-separated symbol string: replace() substitutes
    // non-overlapping occurrences scanning left to right — exactly the
    // BPE merge application rule (after a merge the new symbol pairs with
    // the NEXT input symbol, never re-scanning left).
    "q85_bpe_encode" -> ((s, dir) =>
      graft.operators.BpeTrainer.encodedLengths(docs(s, dir), "text",
          graft.operators.BpeTrainer.LearnedMerges)
        .withColumn("n_subwords", col("n_subwords").cast("long"))),

    // Multimodal plumbing: opaque binary column + typed metadata. The
    // decode/feature-extract step for real image/audio payloads lives in
    // graft.multimodal (stubbed deterministic transform); here: the
    // schema/byte-level ops that ARE engine-checkable.
    "q27_binary_meta" -> ((s, dir) => {
      val bin = col("text").cast("binary")
      docs(s, dir).select(
        col("doc_id"),
        length(bin).as("n_bytes"),
        md5(bin).as("content_md5"),
        substring(col("text"), 1, 4).as("magic"))
    }),

    // Multimodal frame sampling: the video/audio pattern (decode → sample
    // every k-th frame → per-frame features) with the byte-level part made
    // real and engine-checkable: 32-byte frames at stride 64 from the
    // payload, one row per (doc, frame) with its digest. The codec for real
    // media swaps in at the frame expression (graft.multimodal.Multimodal
    // stub); the explode/row-shape/digest plumbing is exactly what a real
    // extractor runs. Frames are sliced on the string (the fixture is
    // ASCII, so char offsets == byte offsets; DuckDB's md5/slicing is
    // VARCHAR-only) and hashed as bytes. Narrow (explode is
    // partition-local), no shuffle.
    "q61_frame_sample" -> ((s, dir) => {
      docs(s, dir)
        .filter(length(col("text")) >= 32)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0L),
            floor((length(col("text")) - lit(32)) / lit(64.0)).cast("long")))
            .as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          md5(expr("substring(text, cast(frame_idx * 64 + 1 as int), 32)")
            .cast("binary")).as("frame_md5"))
    }),

    // Tokenizer vocabulary: token → dense id by descending corpus
    // frequency (ties lexicographic) — the vocab-build step before
    // training a tokenizer. The global-order window runs over the
    // AGGREGATED vocabulary (vocab-bounded — ~1M rows even at web scale),
    // never over the token stream; the stream only feeds the hash
    // aggregation.
    "q72_vocab" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .withColumn("token_id", row_number()
          .over(Window.orderBy(desc("freq"), asc("tok"))).cast("long"))
    }),

    // tf-idf top-3 terms per document via the k-bounded TopKByScore
    // aggregate (map-side heap: ≤3 entries per doc cross the shuffle; the
    // oracle's window spelling sorts every doc's full term list). The
    // corpus is tokenized ONCE: tf is one row per (doc, tok), so df is an
    // aggregate OF tf (the tf exchange is reused at runtime, no second
    // scan) and stays vocab-bounded → broadcastable at any corpus size.
    // A window `count over (partition by tok)` would avoid the broadcast
    // but shuffles every tf row on the token — head tokens appear in
    // nearly every doc, so that partitioning is skew incarnate; the
    // broadcast-join form is the scale shape. The token string itself is
    // the heap payload (no id→name re-join). idf is rounded to 6 decimals
    // on BOTH engines (the q39 centroid precedent) so libm ulp drift
    // can't flip rankings; score ties break toward the lexicographically
    // smaller token in both engines (UTF8String bytewise == DuckDB binary
    // collation).
    "q73_tfidf_topterms" -> ((s, dir) => {
      // ONE data shuffle total: the doc rows (pre-explode — strictly less
      // data than the token stream) hash-partition on doc_id; projection
      // and explode preserve that partitioning, so the (doc_id, tok) tf
      // aggregate (subset-clustering rule) AND the final per-doc top-k
      // heap both run exchange-free. Only the vocab-bounded df aggregate
      // re-shuffles, and map-side combine collapses it to ~|vocab| rows.
      // In deployment, a doc_id-bucketed table makes even that one
      // shuffle disappear.
      val tf = docs(s, dir)
        .repartition(col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // df = docs containing the token = one count per element of the
      // per-doc DISTINCT token array — computed on its own narrow branch
      // (scan → in-row array_distinct → explode → vocab agg; map-side
      // combine collapses the shuffle to ~|vocab| rows per task). Deriving
      // it from tf would either re-shuffle the tf stream on tok or (as
      // measured) duplicate the whole tf subtree when exchange reuse
      // fails on differing pruned projections.
      val dft = docs(s, dir)
        .select(explode(array_distinct(tokens(col("text")))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
      // ndocs is k=1 driver state (the q39-centroid precedent): one
      // doc_id-only count job at build time instead of a 2-exchange
      // countDistinct branch + broadcast inside the plan. NOTE: this makes
      // the builder eager (constructing the DataFrame runs a Spark job),
      // the documented contract for q39/q73/q81.
      val ndocs = docs(s, dir).agg(countDistinct("doc_id")).collect()(0).getLong(0)
      tf.join(broadcast(dft), Seq("tok"))
        .withColumn("idf6", round(log(lit(ndocs.toDouble) / col("df")), 6))
        .withColumn("score", col("tf") * col("idf6"))
        .groupBy("doc_id")
        .agg(org.apache.spark.sql.graft.TopKByScore
          .columnFor(col("score"), col("tok"), 3).as("top"))
        .select(col("doc_id"), posexplode(col("top")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.payload").as("tok"), r4(col("col.score")).as("tfidf"))
    }),

    // Intra-document repetition (the Gopher-rule quality signal): fraction
    // of duplicate 3-grams WITH multiplicity — high values flag boilerplate
    // / looped text that survives inter-doc dedup. Pure narrow projection
    // (tokens materialized first — HOF lambdas re-evaluate a split per
    // element otherwise); zero shuffles at any scale.
    "q69_repetition" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), shingles(col("toks"), 3).as("shs"))
        .select(col("doc_id"),
          size(col("shs")).as("n_ngrams"),
          size(array_distinct(col("shs"))).as("n_distinct_ngrams"),
          r4(when(size(col("shs")) === 0, 0.0)
            .otherwise(lit(1.0) - size(array_distinct(col("shs")))
              .cast("double") / size(col("shs")).cast("double")))
            .as("rep_fraction"))
    }),

    // PII redaction (the scrub step every training pipeline runs before
    // release): regex-match emails/phone numbers, count them, replace with
    // typed placeholders. The synthetic corpus is PII-free, so the QUERY
    // ITSELF deterministically injects a fake email + phone derived from
    // doc_id — identically on both engines — then scrubs them back out:
    // the patterns, counting, and replacement plumbing are what's under
    // test. Patterns are RE2-safe (no lookarounds/backrefs) so Java regex
    // and DuckDB's RE2 match identical spans; replacement is global on
    // both sides (Spark regexp_replace default, DuckDB 'g' flag). Pure
    // narrow projection — zero shuffles at any scale.
    "q75_pii_redact" -> ((s, dir) => {
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phonePat = "\\+1-555-[0-9]{4}"
      docs(s, dir)
        .select(col("doc_id"), concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
          .as("txt"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("txt"), lit(emailPat), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(col("txt"), lit(phonePat), lit(0)))
            .cast("long").as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("txt"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>").cast("binary")).as("redacted_md5"))
    }),

    // AHO–CORASICK BLOCKLIST SCAN (Aho & Corasick CACM 18(6) 1975 — the
    // C4-style "bad words" filter at its real multi-pattern scale): ONE
    // codegen'd linear pass per doc ([[org.apache.spark.sql.graft
    // .AhoCorasickStatsExpr]] — goto trie + BFS failure links built once
    // on the driver, shipped as an expression reference object) emits
    // every-occurrence counts, the distinct-pattern hit count and the
    // leftmost match start. The blocklist here deliberately shares
    // prefixes/suffixes ("scan"⊃"can"⊃"an", "table"⊃"able",
    // "hash"⊃"ash") so the failure chain and output-set folding do real
    // work — exactly what the regex-alternation alternative cannot do in
    // linear time. Narrow projection + filter, zero shuffles at any
    // corpus size; the automaton is driver-built constant state
    // (a production blocklist of thousands of patterns is a few hundred
    // KB — broadcast-class, not join-class). Oracle: per-pattern
    // substring-position comprehensions generated from the SAME pattern
    // list (single source of truth, the Perm4 discipline).
    "q168_blocklist_ac" -> ((s, dir) => {
      val st = org.apache.spark.sql.graft.AhoCorasickStatsExpr
        .columnFor(col("text"), AcBlocklist)
      docs(s, dir)
        .select(col("doc_id"), st.as("st"))
        .select(col("doc_id"), col("st.n_matches").as("n_matches"),
          col("st.n_hit").as("n_hit"), col("st.first_pos").as("first_pos"))
        .filter(col("n_matches") > 0)
    }),

    // Training-chunk split: fixed-size token windows with overlap (size 32,
    // stride 24 → 8-token overlap), the context-window packing prep step.
    // One row per (doc, chunk) with the chunk's token count and content
    // digest. slice() clamps at the end of the doc on both engines, so the
    // last chunk is shorter. Narrow (explode is partition-local), zero
    // shuffles at any corpus size.
    "q76_chunk_overlap" -> ((s, dir) => {
      val sz = 32
      val stride = 24
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L),
            floor((size(col("toks")) - lit(1)) / lit(stride.toDouble))
              .cast("long"))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"),
            lit(sz)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))
    }),

    // Cross-document SEQUENCE PACKING with the full SPAN MAP — the
    // missing third of the packing family: q76 chunks WITHIN docs, q70
    // assigns each doc its START bin only (the pack-then-truncate
    // contract — a straddling doc's overflow tokens are untracked).
    // Here the concat-and-chunk layout is materialized exactly:
    // documents concatenate in a deterministic order, the token stream
    // splits into fixed L=64 training sequences, and every (chunk, doc)
    // row says WHICH tokens of which doc land in which sequence — so a
    // loader can reconstruct every training sequence, boundaries
    // included, from the map alone. DISTRIBUTED
    // CONTRACT: packing runs per SHARD (stableHash(doc_id) mod 8 — the
    // q48 recomputation-stable rule), each shard's token stream
    // independent — no global sequential dependency, so shards pack in
    // parallel at any corpus size (the per-file packing real pipelines
    // run); within a shard the ONE window (cumulative token offset in
    // doc_id order) is the sort any packer pays. Output is the
    // (chunk, doc) span map — exactly which tokens of which document
    // land in which training sequence; all boundary arithmetic is pure
    // integers, identical cross-engine.
    "q154_sequence_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val L = 64
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"),
          pmod(stableHash(col("doc_id").cast("string")), lit(8L))
            .as("shard"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .withColumn("start_off",
          coalesce(sum("n_tokens").over(w), lit(0L)))
        .withColumn("chunk_id", explode(sequence(
          floor(col("start_off") / L).cast("long"),
          floor((col("start_off") + col("n_tokens") - 1) / L)
            .cast("long"))))
        .select(col("shard"), col("chunk_id"), col("doc_id"),
          col("n_tokens"),
          (least(col("start_off") + col("n_tokens") - 1,
            (col("chunk_id") + 1) * L - 1)
            - greatest(col("start_off"), col("chunk_id") * L) + 1)
            .as("tok_in_chunk"))
    }),

    // TEXT-DISTRIBUTION DRIFT detection — the token-stream twin of the
    // q150 embedding drift gate, closing the drift family on both
    // modalities: an arriving batch's unigram distribution is scored by
    // smoothed KL(batch ∥ reference) over the union vocabulary
    // (add-one smoothing keeps disjoint-vocabulary batches finite —
    // exactly the case drift detection exists for). Reference = the en
    // training split (q48's stable hash rule); batches = an en holdout
    // (in-distribution: KL ≈ small) and the SAME holdout with every
    // token string-reversed — a planted near-disjoint-vocabulary shift
    // (the fixture's lang column is cosmetic: every lang draws the same
    // token salad, so a real-language batch would NOT drift — the q103
    // make-it-load-bearing injection precedent). Scale shape: token-count aggregations (map-side combined,
    // linear), per-batch scalars broadcast — the same two-pass shape as
    // q81/q109; ln-term sums round to 4dp so aggregation order (and the
    // engines' 1-ulp libm differences) cannot surface.
    "q155_text_drift" -> ((s, dir) => {
      val klBar = 1.0
      val bucket = pmod(stableHash(col("doc_id").cast("string")), lit(100))
      val toks = docs(s, dir)
        .select(col("doc_id"), col("lang"), bucket.as("b"),
          explode(tokens(col("text"))).as("tok"))
      val ref = toks.filter(col("lang") === "en" && col("b") < 80)
        .groupBy("tok").agg(count(lit(1)).as("pc"))
      val np = ref.agg(sum("pc").as("np"))
      val qcnt = toks.filter(col("lang") === "en" && col("b") >= 90)
        .select(lit("en_holdout").as("batch"), col("tok"))
        .unionByName(toks.filter(col("lang") === "en" && col("b") >= 90)
          .select(lit("shifted").as("batch"), reverse(col("tok")).as("tok")))
        .groupBy("batch", "tok").agg(count(lit(1)).as("qc"))
      // per-batch union vocabulary: every reference token appears for
      // every batch (qc 0), every batch token appears (pc 0 if unseen)
      val uni = qcnt.select("batch").distinct()
        .crossJoin(ref.select("tok"))
        .unionByName(qcnt.select("batch", "tok"))
        .distinct()
        .join(qcnt, Seq("batch", "tok"), "left")
        .join(ref, Seq("tok"), "left")
        .select(col("batch"), col("tok"),
          coalesce(col("qc"), lit(0L)).as("qc"),
          coalesce(col("pc"), lit(0L)).as("pc"))
      val stats = uni.groupBy("batch")
        .agg(sum("qc").as("nq"), count(lit(1)).as("v"))
      uni.join(broadcast(stats), Seq("batch"))
        .crossJoin(broadcast(np))
        .select(col("batch"), col("nq"), col("v"), col("np"),
          (((col("qc") + 1).cast("double") / (col("nq") + col("v"))) *
            log(((col("qc") + 1).cast("double") / (col("nq") + col("v"))) /
              ((col("pc") + 1).cast("double") / (col("np") + col("v")))))
            .as("term"))
        .groupBy("batch")
        .agg(max(col("nq")).as("n_batch_tokens"),
          max(col("np")).as("n_ref_tokens"),
          max(col("v")).as("vocab"),
          round(sum("term"), 4).as("kl"))
        .select(col("batch"), col("n_batch_tokens"), col("n_ref_tokens"),
          col("vocab"), col("kl"), (col("kl") > klBar).as("drifted"))
    }),

    // CCNet PERPLEXITY FILTERING (Wenzek et al. LREC 2020 §4.3 — the
    // head/middle/tail partition every CommonCrawl-derived pretraining
    // corpus ships through): every en doc is scored by its per-token
    // log-perplexity under the reference unigram LM (the en training
    // split, b < 80 — the q155/q156 reference rule; add-one smoothing so
    // OOV stays finite), and the corpus splits at the exact 1/3 and 2/3
    // perplexity quantiles — head = cleanest third, tail = dropped.
    // Congruence is the q87 micro-unit recipe: per-token ln p is rounded
    // to 6dp and scaled to an exact BIGINT, so per-doc sums are
    // order-independent integers; the division back to logppl and the
    // 4dp round are identical double chains. Scale shape: token-count
    // aggregation (map-side combined) + ONE vocab-bounded broadcast join
    // for the per-token table; the tercile cutoffs come from the q49
    // two-level-bucket exact-percentile operator (never a corpus-wide
    // single-task sort) and fold back as two broadcast literals — the
    // per-doc bucket assignment is then a narrow codegen'd comparison.
    "q161_ppl_filter" -> ((s, dir) => {
      val en = docs(s, dir).filter(col("lang") === "en")
        .select(col("doc_id"),
          pmod(stableHash(col("doc_id").cast("string")), lit(100)).as("b"),
          tokens(col("text")).as("toks"))
      val tox = en.select(col("doc_id"), col("b"),
        explode(col("toks")).as("tok"))
      // vocab-bounded reference counts, materialized ONCE (r18, guide
      // §1.2.1): the oovMu collect and the broadcast-mu build otherwise
      // each re-run the corpus tokenize+explode+groupBy (sibling
      // consumers — exchange reuse does not fire across jobs, the q119
      // lesson). A/B against no checkpoint (tools/Probe, sf0.1, 4 cores,
      // 6 alternating fresh-JVM pairs): 15 vs 16 jobs warm, 16,239 vs
      // 21,177 input records; warm wall 2.37 vs 3.12 s median (faster in
      // 6 of 6 pairs), cold 13.35 vs 15.83 s (4 of 6). PERF.md has the runs.
      val ref = tox.filter(col("b") < 80)
        .groupBy("tok").agg(count(lit(1)).as("pc"))
        .localCheckpoint(eager = false)
      val st = ref.agg(sum("pc").as("np"), count(lit(1)).as("v"))
      val mu = ref.crossJoin(broadcast(st))
        .select(col("tok"),
          round(round(log((col("pc") + 1).cast("double") /
            (col("np") + col("v"))), 6) * 1000000).cast("long").as("mu"))
      val oovMu = st.select(
          round(round(log(lit(1.0) / (col("np") + col("v"))), 6) * 1000000)
            .cast("long").as("mu"))
        .collect()(0).getLong(0)
      val lp = tox.join(broadcast(mu), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("mu"), lit(oovMu))).as("sm"))
        .select(col("doc_id"), col("n_tokens"),
          round((lit(0.0) - col("sm")) / lit(1000000.0) / col("n_tokens"),
            4).as("logppl"))
        .localCheckpoint(eager = true)
      val cutRow = graft.operators.Percentiles.exactByGroup(
        lp.select(lit("g").as("g"), col("logppl")), "g", "logppl",
        Seq("c1" -> 1.0 / 3, "c2" -> 2.0 / 3)).collect()(0)
      val (c1, c2) = (cutRow.getAs[Double]("pc1"), cutRow.getAs[Double]("pc2"))
      lp.select(col("doc_id"), col("n_tokens"), col("logppl"),
        when(col("logppl") <= c1, "head")
          .when(col("logppl") <= c2, "middle")
          .otherwise("tail").as("bucket"),
        (when(col("logppl") <= c1, "head")
          .when(col("logppl") <= c2, "middle")
          .otherwise("tail") =!= "tail").as("keep"))
    }),

    // BEST-FIT-DECREASING WHOLE-DOC PACKING (r15 verdict item 8 — the
    // non-sequential packer real loaders run beside q154's
    // concat-and-chunk): docs stay WHOLE (no cross-doc attention
    // contamination, the trade q154's span map makes the other way) and
    // pay padding instead; BFD is the classic ~11/9·OPT bin-packing
    // greedy — sort docs by token count desc, place each into the
    // fullest bin that still fits (min remaining, tie = earliest bin),
    // open a new bin otherwise. DISTRIBUTED CONTRACT: packing runs per
    // SHARD (stableHash mod 8 — the q48/q154 rule), each shard's greedy
    // independent, so shards pack in parallel at any corpus size; the
    // within-shard greedy is genuinely sequential state (bins' remaining
    // capacities), which is the documented mapPartitions case — shards
    // are contiguous after the one repartition+sort any packer pays, and
    // the state is O(bins per shard). All arithmetic is integers, so
    // cross-engine congruence is structural; the oracle replays the
    // greedy as a per-shard recursive CTE (one doc per step, the bin
    // list carried as state). Output: the (shard, bin, doc) assignment
    // map — docs over L truncate to L (the loader contract).
    // TrainingPrepSpec measures the padding-waste comparison vs q154.
    "q160_pack_bfd" -> ((s, dir) => bfdPack(s, dir)),

    // TOKENIZER RETRAIN LIFECYCLE (r15 verdict item 4 — q155's detection
    // CONSUMED): the streaming [[graft.streaming.DriftingTokenizerStore]]
    // driven end to end, the text twin of the q150 embedding lifecycle.
    // Standing = the en training split (b < 80) — trains the initial
    // top-V vocab and lands as epoch 0; micro-batch A (the en holdout,
    // b >= 90 — in-distribution) scores KL ≈ 0.01 and encodes under the
    // frozen vocab; micro-batch B (the SAME holdout with every token
    // string-reversed, re-keyed — q155's planted near-disjoint-vocabulary
    // shift) scores KL ≈ 5 over the 1.0 bar, triggering a vocab re-learn
    // on store ∪ batch and a distributed re-encode into epoch 1. The
    // gate serves per-batch token coverage (docs, tokens, in-vocab, OOV)
    // under the FINAL epoch's ids tier — so the re-encode itself is
    // load-bearing — and carries the lifecycle evidence (both KLs, both
    // decisions, retrain count) as columns; the oracle replays all three
    // candidate vocab chains, DERIVES both decisions from the same
    // 4dp-rounded KLs, CASE-selects the surviving vocabulary and counts
    // coverage over the same streams (the q150 3-chain recipe).
    "q156_tokenizer_retrain_endstate" ->
      ((s, dir) => tokenizerRetrainServe(s, dir)),

    // Gopher quality rules (Rae et al. 2021 §A1.1): word-count bounds,
    // mean-word-length band, symbol-to-word ratio ('#' chars + '...'
    // runs), alphabetic-word fraction, minimum stopword hits — the
    // standard pretraining keep/drop gate. Every signal and the composite
    // keep flag are emitted per doc. Pure narrow projection, zero
    // shuffles; all predicates compare exact integer-ratio doubles so both
    // engines agree bit-for-bit.
    "q77_gopher_filter" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          gopherNWords.cast("long").as("n_words"),
          r4(gopherMeanLen).as("mean_word_len"),
          r4(gopherSymRatio).as("symbol_ratio"),
          r4(gopherAlphaFrac).as("alpha_frac"),
          gopherStopCount.cast("long").as("stop_count"),
          gopherKeep.as("keep"))
    }),

    // URL/domain extraction + per-domain corpus stats (the source-mix
    // accounting every web-corpus pipeline runs). The synthetic corpus is
    // URL-free, so the query deterministically appends one URL derived
    // from doc_id — identically on both engines (the q75 injection
    // precedent); the regex extraction, domain grouping, and stats are
    // what's under test. One map-side-combinable hash aggregation.
    "q78_url_domains" -> ((s, dir) => {
      val urlPat = "https?://([A-Za-z0-9.-]+)"
      docs(s, dir)
        .select(col("doc_id"), concat(
          col("text"), lit(" see https://site"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string")).as("txt"))
        .select(col("doc_id"),
          regexp_extract(col("txt"), urlPat, 1).as("domain"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    }),

    // Corpus report card by source: doc/token volume, Gopher keep rate,
    // mean quality signals per source — the dataset-audit table reviewed
    // before every training-mix decision. Reuses the q77 signal columns;
    // one narrow projection + one map-side-combinable hash aggregation on
    // the (low-cardinality but GROUPED, never windowed) source key.
    "q80_source_report" -> ((s, dir) => {
      docs(s, dir)
        .select(col("source"), col("text"), tokens(col("text")).as("toks"))
        .select(col("source"),
          gopherNWords.cast("long").as("nw"),
          gopherKeep.cast("int").as("kp"),
          gopherMeanLen.as("ml"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("total_tokens"),
          r4(avg(col("nw"))).as("avg_tokens"),
          sum(col("kp")).cast("long").as("n_keep"),
          r4(sum(col("kp")).cast("double") / count(lit(1)).cast("double"))
            .as("keep_rate"),
          r4(avg(col("ml"))).as("avg_word_len"))
    }),

    // Interpolated-smoothing BIGRAM language model quality score — the
    // step past q81's unigram LM toward CCNet-grade perplexity filtering:
    // add-one-smoothed conditional p(w2|w1) = (c2+1)/(c1+|V|), scored as
    // the per-doc mean log-prob over its bigrams. Scale shape: the bigram
    // stream is partitioned ONCE on (w1, w2); the LM count aggregation
    // consumes that exchange and the score join-back REUSES it
    // (ReusedExchange, the q74 pattern) — the LM table is vocab²-bounded
    // but NOT broadcast (at corpus scale it can be billions of rows; the
    // shuffle equi-join on the bigram key is the 100 TB plan). c1 derives
    // from c2 (one more tiny agg), and since round 8 so does |V| (distinct
    // w1 ∪ w2 of the bigram stream — the vocabulary the LM actually
    // conditions on): no third corpus scan, no eager driver job, the
    // builder is side-effect-free (JobCountSpec asserts it). The scalar
    // rides in as a broadcast 1-row cross join, exactly the oracle's
    // CROSS JOIN v. Log-probs rounded to 6dp on BOTH engines
    // (libm-parity, the q81 precedent); the per-doc mean is the exact
    // micro-unit form ([[mean4of6]]) — r4(avg(lp6)) was the r7 q88
    // nondeterminism trap.
    "q87_bigram_lm" -> ((s, dir) => {
      val withToks = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
      val big = withToks
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), size(col("ts")) - 2),
            i => struct(element_at(col("ts"), i + 1).as("w1"),
              element_at(col("ts"), i + 2).as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .repartition(col("w1"), col("w2"))
      val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
      val vocab = c2.select(col("w1").as("t"))
        .union(c2.select(col("w2").as("t")))
        .agg(count_distinct(col("t")).as("vv"))
      val lp = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
        .withColumn("lp6", round(log((col("c2") + 1).cast("double") /
          (col("c1") + col("vv")).cast("double")), 6))
      big.join(lp.select("w1", "w2", "lp6"), Seq("w1", "w2"))
        .groupBy("doc_id").agg(
          count(lit(1)).cast("long").as("n_bigrams"),
          mean4of6(col("lp6")).as("mean_logprob"))
    }),

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling" — public algorithm,
    // hashed-n-gram flavor): features = unigrams hashed into 256 buckets;
    // the TARGET distribution is the Gopher-keep subset (q77's gate), the
    // RAW distribution is the whole corpus; a doc's importance is the mean
    // log-likelihood ratio of its tokens' buckets. Docs resembling the
    // quality subset score high — THE data-mixture reweighting step before
    // sampling (composes with q71's rate-based mixing). Scale shape: two
    // aggregate passes over the token stream (distributions, then the
    // per-doc score), two 256-row distributions (driver-size regardless
    // of corpus — broadcast). Log-ratios rounded 6dp on both engines.
    // Since round 8 the whole chain is LAZY: the bucket distribution, its
    // totals, and the 256-row llr table are DataFrames (broadcast 1-row /
    // 256-row cross joins) instead of collected driver state — zero Spark
    // jobs at build time, and the shared `toks` exchange appears twice in
    // ONE plan where ReusedExchange dedupes it (the two passes previously
    // ran as separate jobs and re-scanned). The per-doc mean is the exact
    // micro-unit form ([[mean4of6]]) — r4(avg(llr6)) was the r7 driver-gate
    // flake: float avg is partition-merge-order-sensitive and means of 6dp
    // values park exactly on 4dp half boundaries.
    "q88_dsir_weight" -> ((s, dir) => dsirWeights(s, dir)),

    // DSIR SELECTION — the step q88's weights exist for (Xie et al. 2023
    // §2.3: sample the training subset WITHOUT replacement with
    // probability ∝ importance). Sampling-without-replacement ∝ softmax
    // weights ≡ Gumbel top-k (a published equivalence): score_i =
    // importance_i + Gumbel_i, take the k largest. The Gumbel draw is
    // DETERMINISTIC — u_i = (stableHash(doc_id)+1)/(2^60+1) ∈ (0,1),
    // g_i = −ln(−ln u_i) rounded 6dp on both engines (libm-parity, the
    // q81 precedent) — so the same docs are selected everywhere: no
    // rand() seed drift, recomputation-stable, exactly the q48
    // hash-split philosophy applied to weighted sampling. The top-k runs
    // as TakeOrderedAndProject (per-partition heaps, k rows per
    // partition cross the exchange — never a global sort; the q63
    // scale shape).
    "q94_dsir_select" -> ((s, dir) => {
      val k = 100
      val u = (stableHash(col("doc_id").cast("string")) + 1).cast("double") /
        lit(1152921504606846977.0) // 2^60 + 1: u ∈ (0,1) exclusive
      val g6 = round(-log(-log(u)), 6)
      dsirWeights(s, dir)
        .select(col("doc_id"), col("importance"), g6.as("g6"))
        .withColumn("score", col("importance") + col("g6"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(k)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
    }),

    // Unicode NFC normalization (TR15 canonical composition) — the step
    // a curation pipeline runs BEFORE any content hashing: "é" as one
    // codepoint and "e"+combining-acute are the same text but different
    // md5 bytes, so un-normalized corpora under-deduplicate. Runs as a
    // custom codegen'd Catalyst expression (NfcNormalizeExpr — Spark has
    // no built-in; a UDF would break WSCG on this per-doc hot path) with
    // an isNormalized zero-alloc fast path. The synthetic docs are
    // ASCII, so a deterministic mixed decomposed/composed suffix is
    // injected (the q75/q78 injection precedent) to make the operator
    // load-bearing; DuckDB's nfc_normalize implements the same TR15
    // algorithm, which is what makes the oracle exact.
    "q103_nfc_normalize" -> ((s, dir) => {
      // " Cafe"+U+0301 (decomposed) + " d"+é(composed)+"ja"+U+0300+" vu"
      val raw = concat(col("text"), lit(" Café déjà vu"))
      docs(s, dir)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("n_chars_raw"),
          org.apache.spark.sql.graft.NfcNormalizeExpr.columnFor(col("raw"))
            .as("norm"))
        .select(col("doc_id"), col("n_chars_raw"),
          length(col("norm")).cast("long").as("n_chars_nfc"),
          md5(col("norm").cast("binary")).as("norm_md5"))
    }),

    // Multinomial Naive Bayes quality classifier (McCallum & Nigam 1998),
    // trained IN-PLAN on the Gopher gate's rule labels and scoring every
    // doc — the bootstrap-classifier step the GPT-3/CCNet curation
    // pipelines run (seed labels from rules, a cheap linear model
    // generalizes them; NB is the deterministic published stand-in for
    // fastText here, training and inference both pure aggregation).
    // Add-one smoothing over the shared vocabulary: per-token log-odds
    // lo6 = round(ln p(t|keep) − ln p(t|reject), 6); doc score = prior
    // log-odds + Σ lo6 over token INSTANCES. The score is carried in
    // exact integer MICRO-UNITS (the mean4of6 discipline: long sums are
    // associative, so partition merge order can't move the 4dp output)
    // and the prior folds in as one more micro-int. Scale shape: labels
    // are one row per doc co-partitioned on doc_id (q88 shape, never
    // broadcast); per-class token counts are vocab-bounded → broadcast
    // back onto the single token-stream exchange (ReusedExchange); every
    // scalar (class token totals, |V|, the prior) rides as a broadcast
    // 1-row cross join — zero build-time Spark jobs.
    "q101_nb_quality_classifier" -> ((s, dir) => {
      val tokStream = docs(s, dir)
        .repartition(col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val labels = docs(s, dir)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), gopherKeep.as("keep"))
      val toks = tokStream.join(labels, Seq("doc_id"))
      val counts = toks.groupBy("tok").agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("ck"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("cr"))
      val totals = counts.agg(sum("ck").as("nk"), sum("cr").as("nr"),
        count(lit(1)).as("vv"))
      val lo = counts.crossJoin(broadcast(totals))
        .withColumn("lo6", round(
          log((col("ck") + 1).cast("double") /
            (col("nk") + col("vv")).cast("double")) -
            log((col("cr") + 1).cast("double") /
              (col("nr") + col("vv")).cast("double")), 6))
      // prior log-odds as one exact micro-int (6dp-rounded, q81 libm
      // parity), broadcast onto the per-doc sums
      val prior = labels.agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("dk"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("dr"))
        .select(round(round(log((col("dk") + 1).cast("double") /
          (col("dr") + 1).cast("double")), 6) * lit(1e6)).cast("long")
          .as("pk"))
      val t = toks.join(broadcast(lo.select("tok", "lo6")), Seq("tok"))
        .groupBy("doc_id").agg(
          count(lit(1)).cast("long").as("n_tokens"),
          first(col("keep")).as("rule_keep"),
          sum(round(col("lo6") * lit(1e6)).cast("long")).as("m"))
        .crossJoin(broadcast(prior))
      val sc = col("m") + col("pk")
      t.select(col("doc_id"), col("n_tokens"), col("rule_keep"),
        // half-away-from-zero micro→4dp in pure integer arithmetic
        // (mean4of6's rounding shape, same floor-safety argument)
        (signum(sc) * floor((abs(sc) + 50) / 100) / lit(10000.0))
          .as("score"),
        (sc > 0).as("pred_keep"))
    }),

    // Batch perceptron quality classifier (Rosenblatt 1958, batch update;
    // the trained-by-ITERATION counterpart of q101's closed-form Naive
    // Bayes — together they cover both halves of the bootstrap-classifier
    // curation step: NB generalizes rule labels in one pass, the
    // perceptron is the minimal example of the fit-loop every
    // fastText-grade quality filter runs). Features = raw token counts,
    // labels y = ±1 from the q77 Gopher rules, E epochs of
    // w += Σ_misclassified y·tf, b += Σ y — ALL INTEGER, so both engines
    // agree bit-for-bit with zero rounding discipline needed. The gate
    // checks the whole TRAJECTORY (per-epoch weights, bias, and
    // misclassification count), not just the final model. Scale shape:
    // the (doc, tok, tf) design matrix materializes ONCE (partitioned by
    // doc_id; per-epoch margins aggregate without a re-shuffle and the
    // miss join is co-partitioned); per-epoch weights are VOCAB-BOUNDED
    // driver state broadcast into the margin join (the BpeTrainer
    // size-gated-loop contract — model state never scales with the
    // corpus). Each epoch: the miss set materializes ONCE
    // (localCheckpoint — three consumers, one compute), then two tiny
    // collects (the |vocab|-bounded token updates and the 1-row
    // bias/nmiss aggregate). E is a fixed hyperparameter: cost = E·2
    // passes over the checkpointed design matrix, independent of n².
    "q129_perceptron_classifier" -> ((s, dir) =>
      perceptronTrajectory(s, dir, hashBuckets = None)),

    // Hashed-feature perceptron (Weinberger et al., ICML 2009 "feature
    // hashing"; the fastText bucket trick): IDENTICAL trainer, but
    // features are stableHash(tok) mod B buckets instead of raw tokens —
    // the flavor whose driver state is O(B) BY CONSTRUCTION, independent
    // of the raw vocabulary, i.e. the one you run at corpus scale where
    // q129's exact-vocab weights cannot fit any driver. Oracle: the same
    // unrolled epoch CTEs over the bucketed design matrix (both engines
    // hash with the md5-60bit [[stableHash]], so the trajectories match
    // bit-for-bit).
    "q138_perceptron_hashed" -> ((s, dir) =>
      perceptronTrajectory(s, dir, hashBuckets = Some(PerceptronHashBuckets))),

    // Unigram LM scoring (the CCNet-style perplexity-lite quality signal):
    // train a unigram model on the corpus (token → log p, vocab-bounded →
    // broadcast), score each doc by its mean token log-prob. Rare-token /
    // gibberish docs score low. Per-token log-probs are rounded to 6
    // decimals on BOTH engines before the per-doc mean (the q73 idf
    // precedent) so libm ulp drift can't move the 4-decimal output; the
    // mean itself is the exact micro-unit form ([[mean4of6]]). The token
    // stream partitions once on doc_id pre-explode (q73 shape); the vocab
    // aggregate reads the SAME exchange (ReusedExchange — one corpus
    // scan), and the model total is a broadcast 1-row cross join, not
    // collected driver state: the builder is side-effect-free since
    // round 8 (JobCountSpec asserts zero build-time jobs).
    "q81_unigram_lm" -> ((s, dir) => {
      val tokStream = docs(s, dir)
        .repartition(col("doc_id"))
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val vocab = tokStream.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum("cnt").as("total"))
      val lp = vocab.crossJoin(broadcast(total))
        .withColumn("lp6",
          round(log(col("cnt").cast("double") / col("total").cast("double")), 6))
      tokStream
        .join(broadcast(lp.select(col("tok"), col("lp6"))), Seq("tok"))
        .groupBy("doc_id").agg(
          count(lit(1)).cast("long").as("n_tokens"),
          mean4of6(col("lp6")).as("mean_logprob"))
    }),

    // Positional winnowing fingerprints (Schleimer, Kleinberg & Aiken,
    // SIGMOD'03 — the MOSS algorithm): hash every K-gram of tokens, slide
    // a window of W consecutive hashes, and in each window select the
    // MINIMUM hash (rightmost position on ties). The distinct selected
    // (position, hash) set is the document's fingerprint, with the paper's
    // guarantee: any shared token run of length >= W+K-1 between two
    // documents shares at least one fingerprint — the substring-level
    // contamination/overlap detector that complements q26's whole-doc
    // min-shingle. Spark shape: one hash-partition by doc_id + one sort by
    // position feeds BOTH window passes (lead() for the K-gram, frame-min
    // for the window — same spec, the sort is computed once); the rightmost
    // tie-break rides INSIDE the min as a lexicographic key (md5 is
    // fixed-width 32 hex chars, so appending the zero-padded reversed
    // position makes string-min == (min hash, max pos)) — no second
    // ranking pass. The final distinct's exchange is pre-shrunk by partial
    // aggregation. At 100 TB: per-doc work only — the one exchange is the
    // doc_id partition, which any per-document operator pays.
    "q107_winnowing" -> ((s, dir) => winnowCached(s, dir)),

    // Substring-level train→test CONTAMINATION via winnowing fingerprints
    // (the MOSS overlap detector pointed at eval leakage — complements
    // q58's whole-shingle containment with the SIGMOD'03 positional
    // guarantee: any shared run of ≥ W+K−1 tokens shares a fingerprint,
    // so a leaked PASSAGE is caught even when whole-doc similarity is
    // negligible). Splits are q48's stable hash rule (train <80 /
    // test ≥90 — recomputation-stable, no stored assignment); fingerprints
    // with train document-frequency > MaxDf are dropped before the join
    // (boilerplate spans — the q74 rationale — and the join-fanout cap:
    // the (fingerprint)-keyed join then fans out ≤ MaxDf per test row,
    // never the head-fingerprint n²); a (test,train) pair reports when it
    // shares ≥ MinShared fingerprints. All counts are distinct-fingerprint
    // counts (both sides pre-distinct per doc); frac6 = shared/test-size,
    // an int ratio rounded once — identical doubles in both engines.
    "q124_winnow_contamination" -> ((s, dir) => {
      val (maxDf, minShared) = (64L, 2L)
      val bucket = pmod(stableHash(col("doc_id").cast("string")), lit(100))
      val fps = winnowCached(s, dir)
        .select(col("doc_id"), col("fingerprint")).distinct()
        .withColumn("b", bucket)
      val train = fps.filter(col("b") < 80)
        .select(col("doc_id").as("train_doc"), col("fingerprint"))
      val test = fps.filter(col("b") >= 90)
        .select(col("doc_id").as("test_doc"), col("fingerprint"))
      val rare = train.groupBy("fingerprint")
        .agg(count(lit(1)).as("fdf"))
        .filter(col("fdf") <= maxDf).select("fingerprint")
      val testSize = test.groupBy("test_doc").agg(count(lit(1)).as("test_fp"))
      test.join(rare, Seq("fingerprint"))
        .join(train, Seq("fingerprint"))
        .groupBy("test_doc", "train_doc")
        .agg(count(lit(1)).as("shared_fp"))
        .filter(col("shared_fp") >= minShared)
        .join(testSize, Seq("test_doc"))
        .select(col("test_doc"), col("train_doc"), col("shared_fp"),
          col("test_fp"),
          round(col("shared_fp").cast("double") / col("test_fp"), 6)
            .as("frac6"))
    }),

    // Vocabulary-truncation coverage (the OOV-rate report behind every
    // tokenizer-size decision): take the top-N vocabulary by (freq desc,
    // tok asc) — a unique total order, so the cut is deterministic — and
    // measure per-source what fraction of token INSTANCES it covers.
    // Scale shape: the vocab aggregate is one hash exchange of ~|vocab|
    // rows; the top-N cut is a TakeOrdered (driver state bounded by N);
    // the coverage pass joins the BROADCAST cut and aggregates per
    // source — two narrow corpus passes, no sort of the token stream.
    "q113_vocab_coverage" -> ((s, dir) => {
      val N = 500
      val toks = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
        .orderBy(desc("freq"), asc("tok")).limit(N)
        .select(col("tok"), lit(1L).as("in_vocab"))
      toks.join(broadcast(top), Seq("tok"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_tokens"),
          sum(coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
        .withColumn("cov6",
          round(col("n_covered").cast("double") / col("n_tokens"), 6))
    })
  )

  /** q156's vocab size: small enough that the final vocabulary (learned
    * over standing ∪ holdout ∪ reversed-holdout, ~2× the 31-token fixture
    * vocabulary) genuinely splits tokens into in-vocab and OOV — the
    * coverage signal the gate serves. */
  private[graft] val TokVocabSize = 16
  /** q156's re-keying offset for the reversed-holdout batch (the same
    * docs as batch A arrive again with shifted content — distinct ids
    * keep store provenance and oracle doc-counts unambiguous). */
  private[graft] val TokDriftIdOffset = 1000000L

  private val TokenizerServe =
    new ArtifactCache.Kind[DataFrame]("tokenizerServe")

  private[graft] def tokenizerRetrainServe(s: SparkSession,
      dir: String): DataFrame =
    ArtifactCache(s, dir, TokenizerServe)(tokenizerRetrainServeUncached(s, dir))

  /** q156's body — see the `queries` entry for the lifecycle story. The
    * micro-batch staging (one file per batch, pinned modification times
    * so FileStreamSource's order is deterministic) is the q150 recipe. */
  private def tokenizerRetrainServeUncached(s: SparkSession,
      dir: String): DataFrame = {
    val en = docs(s, dir).filter(col("lang") === "en")
      .select(col("doc_id"),
        pmod(stableHash(col("doc_id").cast("string")), lit(100)).as("b"),
        tokens(col("text")).as("toks"))
    val standing = en.filter(col("b") < 80).select("doc_id", "toks")
    val batchA = en.filter(col("b") >= 90).select("doc_id", "toks")
    val batchB = en.filter(col("b") >= 90)
      .select((col("doc_id") + TokDriftIdOffset).as("doc_id"),
        transform(col("toks"), t => reverse(t)).as("toks"))
    val base = java.nio.file.Files.createTempDirectory("q156_store").toString
    try {
      val inDir = s"$base/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      Seq(batchA, batchB).zipWithIndex.foreach { case (bdf, i) =>
        val stage = s"$base/stage$i"
        bdf.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).get
        val dest = java.nio.file.Paths.get(inDir, s"b$i.parquet")
        java.nio.file.Files.move(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000L))
      }
      val dts = new graft.streaming.DriftingTokenizerStore(
        s"$base/store", TokVocabSize)
      dts.init(s, standing)
      dts.start(inDir, standing.schema, s"$base/ckpt").awaitTermination()
      val reps = dts.reports
      require(reps.size == 2,
        s"q156 lifecycle expected 2 micro-batches, saw ${reps.size}")
      val summary = s.range(1).select(
        round(lit(reps(0).kl), 4).as("kl_a"),
        lit(reps(0).retrained).as("retrained_a"),
        round(lit(reps(1).kl), 4).as("kl_b"),
        lit(reps(1).retrained).as("retrained_b"),
        lit(dts.retrains).as("n_retrains"))
      // serve per-batch coverage from the FINAL epoch's ids tier — the
      // re-encode is what the gate consumes, not a recomputed encode
      val grp = when(col("batch") === 0, "standing")
        .when(col("batch") === 1, "batch_a").otherwise("batch_b")
      dts.store
        .select(grp.as("batch"),
          size(col("toks")).cast("long").as("nt"),
          size(filter(col("ids"), i => i =!= -1L)).cast("long").as("iv"))
        .groupBy("batch")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
          sum("iv").as("n_invocab"),
          (sum("nt") - sum("iv")).as("n_oov"))
        .crossJoin(broadcast(summary))
        .localCheckpoint(eager = true)
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  /** Winnowing fingerprint selection over a (doc_id, text) frame — the
    * q107 body, factored so specs can feed synthetic corpora. K/W fixed so
    * the oracle SQL stays a literal mirror. */
  /** q160's body — BFD whole-doc packing, factored so the SHARD COUNT is
    * a knob: packing runs per shard (stableHash mod `shards`), each
    * shard's greedy independent, so shards pack in parallel at any
    * corpus size — `shards` is the parallelism lever a production loader
    * raises with the corpus (ScaleStress's pack stage measures exactly
    * that; the gate pins shards = 8, the q48/q154 rule, so the oracle's
    * per-shard recursive CTE replays verbatim). */
  private[graft] def bfdPack(s: SparkSession, dir: String,
      shards: Long = 8L, L: Long = 64L): DataFrame = {
    import s.implicits._
    val prepared = docs(s, dir)
      .select(
        pmod(stableHash(col("doc_id").cast("string")), lit(shards))
          .as("shard"),
        col("doc_id"),
        least(size(tokens(col("text"))).cast("long"), lit(L))
          .as("n_eff"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("n_eff").desc,
        col("doc_id"))
      .as[(Long, Long, Long)]
    prepared.mapPartitions { it =>
      var curShard = Long.MinValue
      val rem = scala.collection.mutable.ArrayBuffer[Long]()
      it.map { case (shard, docId, n) =>
        if (shard != curShard) { curShard = shard; rem.clear() }
        var bi = -1
        var best = Long.MaxValue
        var i = 0
        while (i < rem.length) {
          if (rem(i) >= n && rem(i) < best) { best = rem(i); bi = i }
          i += 1
        }
        if (bi < 0) { rem += (L - n); bi = rem.length - 1 }
        else rem(bi) -= n
        (shard, bi.toLong, docId, n)
      }
    }.toDF("shard", "bin_id", "doc_id", "n_eff")
  }

  private[graft] def winnow(docsDf: DataFrame, K: Int = 3, W: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val grams = docsDf
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .where(col("n") >= K + W - 1)
      .select(col("doc_id"), col("n"), posexplode(col("t")).as(Seq("pos", "tok")))
      .withColumn("g", concat_ws(" ",
        (0 until K).map(i => if (i == 0) col("tok") else lead("tok", i).over(byDoc)): _*))
      .where(col("pos") <= col("n") - K)
      .withColumn("key", concat(md5(col("g")),
        lpad((lit(1000000000) - col("pos")).cast("string"), 10, "0")))
    grams
      .withColumn("wmin", min("key").over(byDoc.rowsBetween(0, W - 1)))
      .where(col("pos") <= col("n") - K - W + 1) // complete windows only
      .select(col("doc_id"),
        (lit(1000000000) - substring(col("wmin"), 33, 10).cast("int"))
          .as("fp_pos"),
        substring(col("wmin"), 1, 32).as("fingerprint"))
      .distinct()
  }

  /** The q107 winnowing chain as a reusable WITH-body ending in `fp107`
    * (doc_id, fp_pos, fingerprint) — shared verbatim by the q107 and q124
    * oracles, so the contamination gate provably runs over the exact
    * fingerprints the fingerprint gate pins. */
  private lazy val winnowSqlChain: String =
    """toks AS (SELECT doc_id, string_split(text,' ') AS t,
                              len(string_split(text,' ')) AS n
                       FROM documents),
         base AS (SELECT doc_id, t, n FROM toks WHERE n >= 6),
         g AS (SELECT doc_id, n, t, unnest(range(0, n - 2)) AS pos FROM base),
         keyed AS (SELECT doc_id, n, pos,
                          md5(t[pos+1] || ' ' || t[pos+2] || ' ' || t[pos+3])
                            || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0')
                            AS key
                   FROM g),
         wm AS (SELECT doc_id, n, pos,
                       min(key) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN CURRENT ROW
                                      AND 3 FOLLOWING) AS wmin
                FROM keyed),
         fp107 AS (SELECT DISTINCT doc_id,
                1000000000 - CAST(substr(wmin, 33, 10) AS INT) AS fp_pos,
                substr(wmin, 1, 32) AS fingerprint
         FROM wm WHERE pos <= n - 6)"""

  private def markersSql(words: Seq[String]): String = {
    val preds = words.map(w => s"t = '$w'").mkString(" OR ")
    s"len(list_filter(string_split(text, ' '), t -> $preds))"
  }

  /** q77 oracle SQL, extracted so q88 can embed the identical keep
    * predicate as a subquery. */
  private[graft] lazy val oracle77ForReuse: String = {
      val stop = markersSql(gopherStopwords)
      s"""WITH m AS (SELECT doc_id,
            len(string_split(text, ' ')) AS nw,
            length(replace(text, ' ', '')) * 1.0
              / len(string_split(text, ' ')) AS mean_len,
            (length(text) - length(replace(text, '#', ''))
             + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0
              / len(string_split(text, ' ')) AS sym_ratio,
            len(list_filter(string_split(text, ' '),
                x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
              / len(string_split(text, ' ')) AS alpha_frac,
            $stop AS stop_count
          FROM documents)
          SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
                 round(mean_len, 4) AS mean_word_len,
                 round(sym_ratio, 4) AS symbol_ratio,
                 round(alpha_frac, 4) AS alpha_frac,
                 CAST(stop_count AS BIGINT) AS stop_count,
                 (nw >= 50 AND nw <= 100000
                  AND mean_len >= 3.0 AND mean_len <= 10.0
                  AND sym_ratio <= 0.1 AND alpha_frac >= 0.8
                  AND stop_count >= 2) AS keep
          FROM m"""
    }

  /** The q88 oracle chain — also the `w` CTE of q94's selection. */
  private lazy val dsirWeightSql: String = {
    val keepQ = oracle77ForReuse
    s"""WITH keepq AS (SELECT doc_id, keep FROM ($keepQ) k77),
       tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
       tb AS (SELECT t.doc_id,
                     CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256
                       AS b,
                     k.keep
              FROM tk t JOIN keepq k USING (doc_id)),
       raw AS (SELECT b, count(*) AS cr FROM tb GROUP BY b),
       tgt AS (SELECT b, count(*) AS ct FROM tb WHERE keep GROUP BY b),
       nr AS (SELECT count(*) AS nr FROM tb),
       nt AS (SELECT count(*) AS nt FROM tb WHERE keep),
       ratio AS (SELECT raw.b,
               round(ln((coalesce(ct, 0) + 1) * 1.0 / (nt + 256))
                   - ln((cr + 1) * 1.0 / (nr + 256)), 6) AS llr6
                 FROM raw LEFT JOIN tgt ON raw.b = tgt.b
                 CROSS JOIN nr CROSS JOIN nt)
       SELECT tb.doc_id, count(*) AS n_tokens, bool_or(keep) AS keep,
              ${mean4of6Sql("llr6")} AS importance
       FROM tb JOIN ratio USING (b)
       GROUP BY tb.doc_id"""
  }

  /** The perceptron oracle generator, shared by q129 (raw-token features)
    * and q138 (stableHash-mod-B bucketed features — the same md5-60bit
    * mirror every hashed oracle in this codebase uses). */
  private def perceptronOracleSql(hashBuckets: Option[Int]): String = {
    val tokExpr = hashBuckets match {
      case Some(b) =>
        s"CAST(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % $b " +
          "AS VARCHAR)"
      case None => "tok"
    }
    val epochCtes = (1 to PerceptronEpochs).map { e =>
      val pw = if (e == 1) "w0" else s"w${e - 1}"
      val pb = if (e == 1) "b0" else s"b${e - 1}"
      s"""marg$e AS (SELECT d.doc_id, d.y,
              CAST(sum(d.tf * w.w) AS BIGINT) AS m0
            FROM dtf d JOIN $pw w USING (tok)
            GROUP BY d.doc_id, d.y),
         miss$e AS (SELECT doc_id, y FROM marg$e CROSS JOIN $pb
                    WHERE y * (m0 + b) <= 0),
         upd$e AS (SELECT tok, CAST(sum(d.y * d.tf) AS BIGINT) AS v
                   FROM dtf d JOIN miss$e m USING (doc_id)
                   GROUP BY tok),
         w$e AS (SELECT w.tok AS tok, w.w + coalesce(u.v, 0) AS w
                 FROM $pw w LEFT JOIN upd$e u USING (tok)),
         b$e AS (SELECT b + (SELECT CAST(coalesce(sum(y), 0) AS BIGINT)
                             FROM miss$e) AS b FROM $pb),
         nm$e AS (SELECT count(*) AS nm FROM miss$e)"""
    }.mkString(",\n")
    val trajOut = (1 to PerceptronEpochs).map { e =>
      s"""SELECT $e AS epoch, tok AS feat, w AS wgt FROM w$e
          UNION ALL SELECT $e, '__bias__', b FROM b$e
          UNION ALL SELECT $e, '__nmiss__', nm FROM nm$e"""
    }.mkString("\nUNION ALL\n")
    s"""WITH keepq AS (SELECT doc_id, keep FROM ($oracle77ForReuse) k77),
       dtf AS (SELECT t.doc_id,
                 CAST(CASE WHEN k.keep THEN 1 ELSE -1 END AS BIGINT) AS y,
                 $tokExpr AS tok, count(*) AS tf
               FROM (SELECT doc_id,
                            unnest(string_split(text, ' ')) AS tok
                     FROM documents) t
               JOIN keepq k USING (doc_id)
               GROUP BY t.doc_id, y, $tokExpr),
       vocab AS (SELECT DISTINCT tok FROM dtf),
       w0 AS (SELECT tok, CAST(0 AS BIGINT) AS w FROM vocab),
       b0 AS (SELECT CAST(0 AS BIGINT) AS b),
       $epochCtes
       SELECT CAST(epoch AS BIGINT) AS epoch, feat,
              CAST(wgt AS BIGINT) AS wgt
       FROM ($trajOut)"""
  }

  val oracle: Map[String, String] = Map(
    // exact top-20 + TRUE bound flags (the q67 sketch-oracle recipe:
    // DuckDB gates the exact part and that every CMS bound held)
    "q99_heavy_hitters" ->
      """SELECT word, n,
                row_number() OVER (ORDER BY n DESC, word) AS rnk,
                TRUE AS est_ok
         FROM (SELECT word, count(*) AS n FROM (
                 SELECT unnest(string_split(text, ' ')) AS word
                 FROM documents)
               GROUP BY word ORDER BY n DESC, word LIMIT 20)""",
    "q21_wordcount" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 20""",
    "q22_first_token" ->
      """SELECT doc_id, string_split(text, ' ')[1] AS first_token,
                string_split(text, ' ')[-1] AS last_token
         FROM documents""",
    "q23_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars_calc,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
         FROM documents""",
    "q24_quality_score" -> {
      val stop = markersSql(Seq("the", "a", "of"))
      s"""SELECT doc_id,
          round($stop * 1.0 / len(string_split(text,' ')), 4) AS stopword_ratio,
          round(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0
                / greatest(length(text), 1), 4) AS punct_ratio,
          round(length(replace(text, ' ', '')) * 1.0
                / len(string_split(text,' ')), 4) AS avg_token_len,
          round($stop * 0.5 / len(string_split(text,' '))
                + (1.0 - length(regexp_replace(text, '[^.,!?;:]', '', 'g')) * 1.0
                   / greatest(length(text), 1)) * 0.5, 4) AS quality
          FROM documents"""
    },
    "q25_lang_id" -> {
      val scored = langMarkers.map { case (l, ws) => s"${markersSql(ws)} AS s_$l" }
        .mkString(", ")
      // same fold as the Spark side: later lang wins only on strictly
      // greater score
      s"""SELECT doc_id, CASE
            WHEN greatest(s_en, s_fr, s_es, s_de) = 0 THEN 'und'
            WHEN s_de > s_es AND s_de > s_fr AND s_de > s_en THEN 'de'
            WHEN s_es > s_fr AND s_es > s_en THEN 'es'
            WHEN s_fr > s_en THEN 'fr'
            ELSE 'en' END AS lang_guess
          FROM (SELECT doc_id, $scored FROM documents)"""
    },
    "q26_fingerprint" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t)-1, 1))) AS i
                 FROM toks WHERE len(t) >= 3),
         sh AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh FROM idx)
         SELECT doc_id, min(md5(sh)) AS fingerprint,
                count(DISTINCT sh) AS n_shingles
         FROM sh GROUP BY doc_id""",
    "q27_binary_meta" ->
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
                md5(text) AS content_md5,
                substr(text, 1, 4) AS magic
         FROM documents""",
    "q61_frame_sample" ->
      """WITH b AS (SELECT doc_id, text FROM documents
                    WHERE length(text) >= 32),
         idx AS (SELECT doc_id, text,
                        unnest(range(0, (length(text) - 32) // 64 + 1))
                          AS frame_idx
                 FROM b)
         SELECT doc_id, frame_idx,
                md5(substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 32))
                  AS frame_md5
         FROM idx""",
    "q72_vocab" ->
      """SELECT tok, count(*) AS freq,
                row_number() OVER (ORDER BY count(*) DESC, tok) AS token_id
         FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         GROUP BY tok""",
    "q73_tfidf_topterms" ->
      """WITH d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM d GROUP BY 1, 2),
         dft AS (SELECT tok, count(DISTINCT doc_id) AS df FROM d GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         s AS (SELECT tf.doc_id, tf.tok,
                      tf.tf * round(ln(n.n * 1.0 / dft.df), 6) AS score
               FROM tf JOIN dft USING (tok) CROSS JOIN n),
         r AS (SELECT doc_id, tok, score,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, tok) AS rnk
               FROM s)
         SELECT doc_id, rnk, tok, round(score, 4) AS tfidf
         FROM r WHERE rnk <= 3""",
    "q69_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, t,
                        unnest(range(1, greatest(len(t) - 1, 1))) AS i
                 FROM toks WHERE len(t) >= 3),
         g AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
               FROM idx),
         agg AS (SELECT doc_id, count(*) AS n_ngrams,
                        count(DISTINCT sh) AS n_distinct_ngrams
                 FROM g GROUP BY doc_id)
         SELECT doc_id, n_ngrams, n_distinct_ngrams,
                round(1.0 - n_distinct_ngrams * 1.0 / n_ngrams, 4)
                  AS rep_fraction
         FROM agg
         UNION ALL
         SELECT doc_id, 0, 0, 0.0 FROM toks WHERE len(t) < 3""",
    "q75_pii_redact" ->
      """WITH inj AS (SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com or +1-555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS txt
              FROM documents)
         SELECT doc_id,
            CAST(len(regexp_extract_all(txt,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
              AS n_emails,
            CAST(len(regexp_extract_all(txt, '\+1-555-[0-9]{4}')) AS BIGINT)
              AS n_phones,
            md5(regexp_replace(
                  regexp_replace(txt,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                  '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
         FROM inj""",
    // generated from AcBlocklist — every-occurrence position lists per
    // pattern (range is empty when the doc is shorter than the pattern,
    // list_min of an empty list is NULL, LEAST skips NULLs like
    // Postgres), so n_matches/n_hit/first_pos are the automaton's exact
    // semantics spelled as substring comprehensions
    "q168_blocklist_ac" -> {
      val pos = AcBlocklist.zipWithIndex.map { case (p, i) =>
        s"""[i FOR i IN range(1, len(text) - ${p.length} + 2)
           | IF substr(text, i, ${p.length}) = '$p'] AS l$i""".stripMargin
      }.mkString(",\n                ")
      val is = AcBlocklist.indices
      s"""WITH pl AS (SELECT doc_id,
                $pos
              FROM documents),
         st AS (SELECT doc_id,
                  ${is.map(i => s"len(l$i)").mkString(" + ")} AS n_matches,
                  ${is.map(i => s"CASE WHEN len(l$i) > 0 THEN 1 ELSE 0 END")
                     .mkString(" + ")} AS n_hit,
                  LEAST(${is.map(i => s"list_min(l$i)").mkString(", ")})
                    AS fp
                FROM pl)
         SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches,
                CAST(n_hit AS BIGINT) AS n_hit,
                CAST(coalesce(fp, 0) AS BIGINT) AS first_pos
         FROM st WHERE n_matches > 0"""
    },
    "q76_chunk_overlap" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, t,
                        unnest(range(0, (len(t) - 1) // 24 + 1)) AS chunk_idx
                 FROM toks),
         ch AS (SELECT doc_id, chunk_idx,
                       t[(chunk_idx * 24 + 1):(chunk_idx * 24 + 32)] AS chunk
                FROM idx)
         SELECT doc_id, chunk_idx, CAST(len(chunk) AS BIGINT) AS n_tokens,
                md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM ch""",
    "q77_gopher_filter" -> oracle77ForReuse,
    // q155: same smoothing, same division spellings, same ln-term —
    // the 4dp round on the sum absorbs aggregation order and libm ulps
    "q155_text_drift" ->
      """WITH tk AS (SELECT doc_id, lang,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) % 100 AS b,
           unnest(string_split(text, ' ')) AS tok
         FROM documents),
       ref AS (SELECT tok, count(*) AS pc FROM tk
               WHERE lang = 'en' AND b < 80 GROUP BY tok),
       np AS (SELECT sum(pc) AS np FROM ref),
       qc AS (SELECT batch, tok, count(*) AS qc FROM (
                SELECT 'en_holdout' AS batch, tok FROM tk
                WHERE lang = 'en' AND b >= 90
                UNION ALL
                SELECT 'shifted' AS batch, reverse(tok) AS tok FROM tk
                WHERE lang = 'en' AND b >= 90)
              GROUP BY batch, tok),
       uni AS (SELECT u.batch, u.tok,
                 coalesce(q.qc, 0) AS qc, coalesce(r.pc, 0) AS pc
               FROM (SELECT DISTINCT batch, tok FROM (
                       SELECT b.batch, r.tok
                       FROM (SELECT DISTINCT batch FROM qc) b, ref r
                       UNION ALL SELECT batch, tok FROM qc)) u
               LEFT JOIN qc q ON q.batch = u.batch AND q.tok = u.tok
               LEFT JOIN ref r ON r.tok = u.tok),
       st AS (SELECT batch, sum(qc) AS nq, count(*) AS v
              FROM uni GROUP BY batch)
       SELECT u.batch,
              CAST(max(st.nq) AS BIGINT) AS n_batch_tokens,
              CAST(max(np.np) AS BIGINT) AS n_ref_tokens,
              max(st.v) AS vocab,
              round(sum(((u.qc + 1)::DOUBLE / (st.nq + st.v)) *
                    ln(((u.qc + 1)::DOUBLE / (st.nq + st.v)) /
                       ((u.pc + 1)::DOUBLE / (np.np + st.v)))), 4) AS kl,
              round(sum(((u.qc + 1)::DOUBLE / (st.nq + st.v)) *
                    ln(((u.qc + 1)::DOUBLE / (st.nq + st.v)) /
                       ((u.pc + 1)::DOUBLE / (np.np + st.v)))), 4) > 1.0
                AS drifted
       FROM uni u JOIN st USING (batch), np
       GROUP BY u.batch""",
    // q161: the same micro-unit log-prob table, the same exact integer
    // per-doc sums, the same division/round chain; cutoffs via
    // quantile_cont (≡ the q49 exact-percentile operator, rounded 4dp)
    "q161_ppl_filter" ->
      """WITH tk AS MATERIALIZED (
           SELECT doc_id,
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 100 AS b,
                  unnest(string_split(text, ' ')) AS tok
           FROM documents WHERE lang = 'en'),
         ref AS MATERIALIZED (SELECT tok, count(*) AS pc FROM tk
                WHERE b < 80 GROUP BY tok),
         st AS (SELECT sum(pc) AS np, count(*) AS v FROM ref),
         mu AS MATERIALIZED (SELECT tok,
                  CAST(round(round(ln((pc + 1)::DOUBLE / (np + v)), 6)
                       * 1000000) AS BIGINT) AS mu
                FROM ref, st),
         oov AS (SELECT CAST(round(round(ln(1.0 / (np + v)), 6)
                       * 1000000) AS BIGINT) AS mu FROM st),
         lp AS MATERIALIZED (
           SELECT tk.doc_id, count(*) AS n_tokens,
                  round((0.0 - sum(coalesce(mu.mu, (SELECT mu FROM oov))))
                        / 1000000.0 / count(*), 4) AS logppl
           FROM tk LEFT JOIN mu ON mu.tok = tk.tok
           GROUP BY tk.doc_id),
         c AS (SELECT round(quantile_cont(logppl, 1.0 / 3), 4) AS c1,
                      round(quantile_cont(logppl, 2.0 / 3), 4) AS c2
               FROM lp)
         SELECT doc_id, n_tokens, logppl,
                CASE WHEN logppl <= c1 THEN 'head'
                     WHEN logppl <= c2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
                (CASE WHEN logppl <= c1 THEN 'head'
                      WHEN logppl <= c2 THEN 'middle'
                      ELSE 'tail' END) != 'tail' AS keep
         FROM lp, c""",

    // q160: the BFD greedy replayed as a per-shard RECURSIVE CTE — one
    // doc per recursion step in the same (n DESC, doc_id) order, the bin
    // remainders carried as a BIGINT list, best-fit = min remaining
    // among fitting bins with the earliest-bin tie (the [..][1] pick of
    // the filtered comprehension), all integer arithmetic — congruence
    // is structural, no fp anywhere.
    "q160_pack_bfd" -> {
      // d/o/m MATERIALIZED: they are referenced INSIDE the recursion,
      // and an inlined o (md5 + tokenize + window over every document)
      // re-evaluates once per recursion step — measured 535 s at sf0.1
      // before materialization, the q148 CTE-re-inlining lesson again
      s"""WITH RECURSIVE d AS MATERIALIZED (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |              AS BIGINT) % 8 AS shard,
         |         least(len(string_split(text, ' ')), 64) AS n
         |  FROM documents),
         |o AS MATERIALIZED (SELECT shard, doc_id, CAST(n AS BIGINT) AS n,
         |        row_number() OVER (PARTITION BY shard
         |          ORDER BY n DESC, doc_id) AS pos
         |      FROM d),
         |m AS MATERIALIZED (SELECT shard, max(pos) AS mx FROM o GROUP BY shard),
         |st AS (
         |  SELECT shard, CAST(0 AS BIGINT) AS pos,
         |         CAST([] AS BIGINT[]) AS rem,
         |         CAST([] AS BIGINT[]) AS assign
         |  FROM m
         |  UNION ALL
         |  SELECT shard, pos + 1,
         |         CASE WHEN bi IS NULL THEN list_append(rem, 64 - n)
         |              ELSE [CASE WHEN i = bi THEN rem[i] - n
         |                         ELSE rem[i] END
         |                    FOR i IN range(1, len(rem)+1)] END,
         |         list_append(assign,
         |           CASE WHEN bi IS NULL THEN len(rem)
         |                ELSE bi - 1 END)
         |  FROM (
         |    -- best fit in O(bins): the min remaining among fitting
         |    -- bins (any bin HOLDING that value fits, min >= n), then
         |    -- its first position = the earliest such bin — the
         |    -- comprehension-with-embedded-min spelling was
         |    -- O(bins^2) per step and read minutes at sf0.1
         |    SELECT s.shard, s.pos, s.rem, s.assign, o.n,
         |           list_position(s.rem,
         |             list_min(list_filter(s.rem, r -> r >= o.n))) AS bi
         |    FROM st s JOIN o ON o.shard = s.shard
         |     AND o.pos = s.pos + 1) t),
         |fin AS (SELECT st.shard, st.assign FROM st
         |        JOIN m ON m.shard = st.shard AND st.pos = m.mx)
         |SELECT o.shard, CAST(fin.assign[CAST(o.pos AS INTEGER)] AS BIGINT)
         |         AS bin_id,
         |       o.doc_id, o.n AS n_eff
         |FROM o JOIN fin ON fin.shard = o.shard""".stripMargin
    },

    // q156: the lifecycle replayed relationally (the q150 3-chain
    // recipe) — all three candidate vocabularies (trained on standing /
    // standing∪A / standing∪A∪B) instantiated, both KLs computed with
    // q155's exact smoothing/rounding, both retrain decisions DERIVED
    // via scalar subqueries (never hard-coded to the planted outcome),
    // the surviving vocab CASE-selected, coverage counted over the same
    // streams. Multi-referenced CTEs MATERIALIZED (the q148 rule).
    "q156_tokenizer_retrain_endstate" -> {
      val klTerm = (u: String, s: String) =>
        s"""round(sum((($u.qc + 1)::DOUBLE / ($s.nq + $s.v)) *
           |      ln((($u.qc + 1)::DOUBLE / ($s.nq + $s.v)) /
           |         (($u.pc + 1)::DOUBLE / ($s.np + $s.v)))), 4)""".stripMargin
      s"""WITH tk AS MATERIALIZED (
         |  SELECT doc_id,
         |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |              AS BIGINT) % 100 AS b,
         |         unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE lang = 'en'),
         |std AS MATERIALIZED (SELECT doc_id, tok FROM tk WHERE b < 80),
         |ba AS MATERIALIZED (SELECT doc_id, tok FROM tk WHERE b >= 90),
         |bb AS MATERIALIZED (SELECT doc_id + $TokDriftIdOffset AS doc_id,
         |       reverse(tok) AS tok FROM tk WHERE b >= 90),
         |rc0 AS MATERIALIZED (SELECT tok, count(*) AS pc
         |       FROM std GROUP BY tok),
         |qa AS (SELECT tok, count(*) AS qc FROM ba GROUP BY tok),
         |ua AS MATERIALIZED (
         |  SELECT u.tok, coalesce(q.qc, 0) AS qc, coalesce(r.pc, 0) AS pc
         |  FROM (SELECT tok FROM rc0 UNION SELECT tok FROM qa) u
         |  LEFT JOIN qa q ON q.tok = u.tok
         |  LEFT JOIN rc0 r ON r.tok = u.tok),
         |sa AS (SELECT sum(qc) AS nq, count(*) AS v, sum(pc) AS np FROM ua),
         |ka AS MATERIALIZED (SELECT ${klTerm("u", "s")} AS kl
         |       FROM ua u, sa s),
         |da AS MATERIALIZED (SELECT (SELECT kl FROM ka) > 1.0 AS d),
         |rc1 AS MATERIALIZED (
         |  SELECT tok, count(*) AS pc FROM (
         |    SELECT tok FROM std UNION ALL SELECT tok FROM ba) t
         |  WHERE (SELECT d FROM da) GROUP BY tok
         |  UNION ALL
         |  SELECT tok, pc FROM rc0 WHERE NOT (SELECT d FROM da)),
         |qb AS (SELECT tok, count(*) AS qc FROM bb GROUP BY tok),
         |ub AS MATERIALIZED (
         |  SELECT u.tok, coalesce(q.qc, 0) AS qc, coalesce(r.pc, 0) AS pc
         |  FROM (SELECT tok FROM rc1 UNION SELECT tok FROM qb) u
         |  LEFT JOIN qb q ON q.tok = u.tok
         |  LEFT JOIN rc1 r ON r.tok = u.tok),
         |sb AS (SELECT sum(qc) AS nq, count(*) AS v, sum(pc) AS np FROM ub),
         |kb AS MATERIALIZED (SELECT ${klTerm("u", "s")} AS kl
         |       FROM ub u, sb s),
         |db AS MATERIALIZED (SELECT (SELECT kl FROM kb) > 1.0 AS d),
         |c1 AS (SELECT tok, count(*) AS pc FROM (
         |    SELECT tok FROM std UNION ALL SELECT tok FROM ba) GROUP BY tok),
         |c2 AS (SELECT tok, count(*) AS pc FROM (
         |    SELECT tok FROM std UNION ALL SELECT tok FROM ba
         |    UNION ALL SELECT tok FROM bb) GROUP BY tok),
         |fc AS (
         |  SELECT tok, pc FROM c2 WHERE (SELECT d FROM db)
         |  UNION ALL
         |  SELECT tok, pc FROM c1
         |  WHERE NOT (SELECT d FROM db) AND (SELECT d FROM da)
         |  UNION ALL
         |  SELECT tok, pc FROM rc0
         |  WHERE NOT (SELECT d FROM db) AND NOT (SELECT d FROM da)),
         |fv AS MATERIALIZED (SELECT tok FROM (
         |  SELECT tok, row_number() OVER (ORDER BY pc DESC, tok) AS rn
         |  FROM fc) WHERE rn <= $TokVocabSize),
         |g AS (SELECT 'standing' AS batch, doc_id, tok FROM std
         |  UNION ALL SELECT 'batch_a' AS batch, doc_id, tok FROM ba
         |  UNION ALL SELECT 'batch_b' AS batch, doc_id, tok FROM bb)
         |SELECT g.batch,
         |  count(DISTINCT g.doc_id) AS n_docs,
         |  count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN fv.tok IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_invocab,
         |  CAST(sum(CASE WHEN fv.tok IS NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_oov,
         |  (SELECT kl FROM ka) AS kl_a,
         |  (SELECT d FROM da) AS retrained_a,
         |  (SELECT kl FROM kb) AS kl_b,
         |  (SELECT d FROM db) AS retrained_b,
         |  CAST((CASE WHEN (SELECT d FROM da) THEN 1 ELSE 0 END) +
         |       (CASE WHEN (SELECT d FROM db) THEN 1 ELSE 0 END)
         |       AS INTEGER) AS n_retrains
         |FROM g LEFT JOIN fv ON fv.tok = g.tok
         |GROUP BY g.batch""".stripMargin
    },
    // q154: the same shard hash, the same 1-preceding cumulative window,
    // the same integer boundary arithmetic; generate_series unrolls the
    // chunk span exactly like Spark's sequence+explode
    "q154_sequence_pack" ->
      """WITH t AS (SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) % 8 AS shard,
           len(string_split(text, ' ')) AS n_tokens
         FROM documents),
       o AS (SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
             ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS start_off
         FROM t),
       sp AS (SELECT *, start_off // 64 AS c0,
                     (start_off + n_tokens - 1) // 64 AS c1
              FROM o),
       ex AS (SELECT shard, doc_id, n_tokens, start_off,
                     unnest(generate_series(c0, c1)) AS chunk_id
              FROM sp)
       SELECT shard, CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
              n_tokens,
              CAST(least(start_off + n_tokens - 1, (chunk_id + 1) * 64 - 1)
                   - greatest(start_off, chunk_id * 64) + 1 AS BIGINT)
                AS tok_in_chunk
       FROM ex""",

    "q80_source_report" -> {
      val stop = markersSql(gopherStopwords)
      s"""WITH m AS (SELECT source,
            len(string_split(text, ' ')) AS nw,
            length(replace(text, ' ', '')) * 1.0
              / len(string_split(text, ' ')) AS ml,
            CASE WHEN len(string_split(text, ' ')) >= 50
                  AND len(string_split(text, ' ')) <= 100000
                  AND length(replace(text, ' ', '')) * 1.0
                      / len(string_split(text, ' ')) >= 3.0
                  AND length(replace(text, ' ', '')) * 1.0
                      / len(string_split(text, ' ')) <= 10.0
                  AND (length(text) - length(replace(text, '#', ''))
                       + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0
                      / len(string_split(text, ' ')) <= 0.1
                  AND len(list_filter(string_split(text, ' '),
                        x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
                      / len(string_split(text, ' ')) >= 0.8
                  AND $stop >= 2
             THEN 1 ELSE 0 END AS kp
          FROM documents)
          SELECT source, count(*) AS n_docs,
                 CAST(sum(nw) AS BIGINT) AS total_tokens,
                 round(avg(nw), 4) AS avg_tokens,
                 CAST(sum(kp) AS BIGINT) AS n_keep,
                 round(sum(kp) * 1.0 / count(*), 4) AS keep_rate,
                 round(avg(ml), 4) AS avg_word_len
          FROM m GROUP BY source"""
    },
    "q87_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
                    FROM documents),
         d AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
               FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
                     FROM t WHERE len(ts) >= 2)),
         c2 AS (SELECT w1, w2, count(*) AS c2 FROM d GROUP BY w1, w2),
         c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
         v AS (SELECT count(DISTINCT tk) AS vv FROM (
                 SELECT w1 AS tk FROM c2 UNION ALL SELECT w2 FROM c2)),
         lp AS (SELECT w1, w2,
                       round(ln((c2 + 1) * 1.0 / (c1 + vv)), 6) AS lp6
                FROM c2 JOIN c1 USING (w1) CROSS JOIN v)
         SELECT d.doc_id, count(*) AS n_bigrams,
                ${mean4of6Sql("lp6")} AS mean_logprob
         FROM d JOIN lp USING (w1, w2)
         GROUP BY d.doc_id""",
    "q88_dsir_weight" -> dsirWeightSql,
    // q88's weights + the deterministic Gumbel (same hash-to-(0,1) map
    // as the q48 split; ln rounded 6dp — libm parity) + top-k
    "q94_dsir_select" ->
      s"""WITH w AS ($dsirWeightSql),
         g AS (SELECT doc_id, importance,
                      round(-ln(-ln(
                        (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                           1, 15) AS BIGINT) + 1) / 1152921504606846977.0)),
                        6) AS g6
               FROM w)
         SELECT doc_id, round(importance + g6, 6) AS score
         FROM g
         ORDER BY importance + g6 DESC, doc_id
         LIMIT 100""",
    // same decomposed/composed injection (raw codepoints ride through
    // the JSON dump as UTF-8); DuckDB's nfc_normalize is the same TR15
    // canonical composition. length() counts codepoints on both engines
    "q103_nfc_normalize" ->
      s"""WITH inj AS (SELECT doc_id,
             text || ' Café déjà vu' AS raw
           FROM documents)
         SELECT doc_id, length(raw) AS n_chars_raw,
                length(nfc_normalize(raw)) AS n_chars_nfc,
                md5(nfc_normalize(raw)) AS norm_md5
         FROM inj""",
    // the NB chain re-derived in pure SQL: q77's keep labels, per-class
    // add-one token counts, 6dp log-odds, exact micro-int score + prior
    "q101_nb_quality_classifier" ->
      s"""WITH keepq AS (SELECT doc_id, keep FROM ($oracle77ForReuse) k77),
         tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents),
         tl AS (SELECT t.doc_id, t.tok, k.keep
                FROM tk t JOIN keepq k USING (doc_id)),
         cnt AS (SELECT tok,
                        sum(CASE WHEN keep THEN 1 ELSE 0 END) AS ck,
                        sum(CASE WHEN keep THEN 0 ELSE 1 END) AS cr
                 FROM tl GROUP BY tok),
         tot AS (SELECT sum(ck) AS nk, sum(cr) AS nr, count(*) AS vv
                 FROM cnt),
         pri AS (SELECT CAST(round(round(ln(
                     (sum(CASE WHEN keep THEN 1 ELSE 0 END) + 1) * 1.0
                   / (sum(CASE WHEN keep THEN 0 ELSE 1 END) + 1)), 6) * 1e6)
                   AS BIGINT) AS pk
                 FROM keepq),
         lo AS (SELECT tok,
                       round(ln((ck + 1) * 1.0 / (nk + vv))
                           - ln((cr + 1) * 1.0 / (nr + vv)), 6) AS lo6
                FROM cnt CROSS JOIN tot),
         sc AS (SELECT tl.doc_id, count(*) AS n_tokens,
                       bool_or(keep) AS rule_keep,
                       CAST(sum(CAST(round(lo6 * 1e6) AS BIGINT)) AS BIGINT)
                         AS m
                FROM tl JOIN lo USING (tok)
                GROUP BY tl.doc_id)
         SELECT doc_id, n_tokens, rule_keep,
                sign(m + pk) * floor((abs(m + pk) + 50) / 100) / 10000.0
                  AS score,
                (m + pk) > 0 AS pred_keep
         FROM sc CROSS JOIN pri""",
    // the q129/q138 trajectories re-derived in pure SQL: the E epochs are
    // UNROLLED as chained CTEs (marg→miss→upd→w/b/nm per epoch), each
    // generated from the SAME PerceptronEpochs constant the Spark loop
    // iterates — the two sides cannot drift. All-integer arithmetic, so
    // the per-epoch weights/bias/miss-count match bit-for-bit.
    "q129_perceptron_classifier" -> perceptronOracleSql(hashBuckets = None),
    "q138_perceptron_hashed" ->
      perceptronOracleSql(hashBuckets = Some(PerceptronHashBuckets)),
    "q81_unigram_lm" ->
      s"""WITH d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents),
         v AS (SELECT tok, count(*) AS cnt FROM d GROUP BY tok),
         t AS (SELECT count(*) AS total FROM d),
         lp AS (SELECT tok, round(ln(cnt * 1.0 / total), 6) AS lp6
                FROM v CROSS JOIN t)
         SELECT d.doc_id, count(*) AS n_tokens,
                ${mean4of6Sql("lp.lp6")} AS mean_logprob
         FROM d JOIN lp USING (tok)
         GROUP BY d.doc_id""",
    "q78_url_domains" ->
      """WITH inj AS (SELECT doc_id,
              text || ' see https://site' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS txt
            FROM documents)
         SELECT regexp_extract(txt, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
                count(*) AS n_docs, min(doc_id) AS min_doc,
                max(doc_id) AS max_doc
         FROM inj GROUP BY domain""",
    "q85_bpe_encode" -> {
      def esc(x: String) = x.replace("'", "''")
      // per-word symbol string: chars double-space-joined, single-space
      // padded, '</w>' glued to the last char — ' h  e  y</w> '
      val init = "' ' || array_to_string([w[i] for i in " +
        "range(1, len(w)+1)], '  ') || '</w> '"
      val enc = graft.operators.BpeTrainer.LearnedMerges.foldLeft(init) {
        (acc, m) => s"replace($acc, ' ${esc(m.left)}  ${esc(m.right)} '," +
          s" ' ${esc(m.left + m.right)} ')"
      }
      s"""WITH words AS (SELECT unnest(string_split(text, ' ')) AS w
                         FROM documents),
         wf AS (SELECT w, count(*) AS freq FROM words
                WHERE len(w) > 0 GROUP BY w),
         enc AS (SELECT w, freq, $enc AS s FROM wf)
         SELECT w AS word, freq,
                len(s) - len(replace(s, '  ', ' ')) + 1 AS n_subwords
         FROM enc"""
    },
    "q59_bpe_tokens" ->
      """WITH pre AS (
           SELECT doc_id,
                  regexp_extract_all(text,
                    ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+') AS p
           FROM documents)
         SELECT doc_id, len(p) AS n_pretokens,
                coalesce(CAST(list_sum(list_transform(p, t ->
                  CAST(floor((length(ltrim(t)) + 3) / 4.0) AS BIGINT)))
                  AS BIGINT), 0) AS est_bpe_tokens
         FROM pre""",
    // same K=3/W=4 geometry; DuckDB lists are 1-indexed so t[pos+1..] is
    // the 0-based token at pos; range(0, n-2) is 0..n-3 = the valid gram
    // starts; the frame-min + reversed-position tie key mirror literally
    "q107_winnowing" ->
      s"""WITH $winnowSqlChain
         SELECT doc_id, fp_pos, fingerprint FROM fp107""",
    // the q107 chain verbatim + q48's split hash + the MaxDf boilerplate
    // cut + the shared-fingerprint pair aggregation
    "q124_winnow_contamination" ->
      s"""WITH $winnowSqlChain,
         fps AS (SELECT DISTINCT doc_id, fingerprint FROM fp107),
         sp AS (SELECT doc_id, fingerprint,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                         AS BIGINT) % 100 AS b
                FROM fps),
         train AS (SELECT doc_id AS train_doc, fingerprint FROM sp
                   WHERE b < 80),
         test AS (SELECT doc_id AS test_doc, fingerprint FROM sp
                  WHERE b >= 90),
         rare AS (SELECT fingerprint FROM train GROUP BY fingerprint
                  HAVING count(*) <= 64),
         tsz AS (SELECT test_doc, count(*) AS test_fp FROM test GROUP BY 1),
         pairs AS (SELECT t.test_doc, tr.train_doc, count(*) AS shared_fp
                   FROM test t
                   JOIN rare r ON r.fingerprint = t.fingerprint
                   JOIN train tr ON tr.fingerprint = t.fingerprint
                   GROUP BY 1, 2
                   HAVING count(*) >= 2)
         SELECT p.test_doc, p.train_doc, p.shared_fp, z.test_fp,
                round(CAST(p.shared_fp AS DOUBLE) / z.test_fp, 6) AS frac6
         FROM pairs p JOIN tsz z ON z.test_doc = p.test_doc""",
    "q113_vocab_coverage" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
         v AS (SELECT tok, count(*) AS freq FROM tk GROUP BY tok),
         top AS (SELECT tok FROM v ORDER BY freq DESC, tok LIMIT 500),
         c AS (SELECT source, count(*) AS n_tokens,
                      CAST(sum(CASE WHEN tok IN (SELECT tok FROM top)
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
               FROM tk GROUP BY source)
         SELECT source, n_tokens, n_covered,
                round(CAST(n_covered AS DOUBLE) / n_tokens, 6) AS cov6
         FROM c"""
  )
}
