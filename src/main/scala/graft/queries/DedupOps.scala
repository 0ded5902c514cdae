package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.TextFunctions._

/** Deduplication operators over `documents`: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. Every one is oracle-verified against DuckDB — the hash
  * pipeline is built on the engine-portable [[stableHash]] (md5-derived
  * 60-bit long) with explicit integer arithmetic that both engines evaluate
  * identically.
  *
  * Scale design:
  *  - exact dedup = single hash aggregation on a digest (never on raw text);
  *  - MinHash signatures are computed in ONE aggregation over the exploded
  *    shingle set (64 mins at once), candidate pairs come only from capped LSH
  *    buckets (shuffle keyed on (band, bandHash) — never an O(n²) cross
  *    join);
  *  - SimHash is a pure narrow projection after one explode+agg;
  *  - the tokenize→shingle→hash stages are MATERIALIZED ONCE per
  *    (session, dir) and shared by every consumer (q31/q32/q33/q58/q60 and
  *    q47's pair generation) — in a real dedup pipeline the shingle sets and
  *    signatures are persisted artifacts computed in one pass, not
  *    recomputed per downstream query (lazily localCheckpoint'ed
  *    [[ArtifactCache]] entries).
  */
object DedupOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** The q74/q102 span stream: docs cut into non-overlapping W-token
    * spans, partitioned on span content ONCE — the frequency aggregate
    * consumes that exchange directly and the join-back reuses the SAME
    * exchange (ReusedExchange) for its left side, so the stream is
    * content-shuffled once, not twice. Docs with < W tokens have no
    * spans and are absent (oracles mirror). */
  private def spanStream(s: SparkSession, dir: String, W: Int = 3): DataFrame = {
    val toks = col("toks")
    val spanArr = when(size(toks) < W, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), (size(toks) / lit(W)).cast("int") - 1),
        i => concat_ws(" ",
          (1 to W).map(j => element_at(toks, i * W + j)): _*)))
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(spanArr))
      .withColumnsRenamed(Map("pos" -> "span_idx", "col" -> "span"))
      .repartition(col("span"))
  }

  /** Minimum duplicated-run length (in tokens) for q139's variable-length
    * ExactSubstr. Lee et al. 2022 use 50 BPE tokens on web corpora; the
    * gate corpus averages 54 whitespace tokens per doc, so 8 keeps the
    * operator exercised on real duplicated runs (1,015 duplicated 8-grams
    * at sf0.01). Mirrored literally into the DuckDB oracle. */
  private[queries] val ExactSubstrMinRun = 8

  /** q143's store/batch split: doc_id < this is the standing corpus
    * whose gram counts are the persisted store; the rest ingests. */
  private[graft] val ExactSubstrSplit = 300L

  /** Variable-length exact-substring removal (see the q139 entry for the
    * algorithm + scale notes). Parameterized on L for ScrubSpec's
    * fixed-width-subcase equivalence. Output: one row per doc —
    * (doc_id, n_tokens, n_removed tokens, md5 of the kept tokens joined
    * by ' '). Every doc appears, including docs shorter than L
    * (n_removed = 0) — unlike the fixed-width grid there is no
    * dropped-trailing-remainder, so short docs are meaningful here. */
  /** The sliding L-gram digest stream (doc_id, pos, gh), content-
    * partitioned once and checkpointed as a SHARED artifact: q139 and
    * q142 consume the identical stream (a real scrub pipeline computes
    * gram digests once and applies both retention policies from them) —
    * the shingle-artifact discipline applied to ExactSubstr. */
  /** The sliding L-gram digest stream of an EXPLICIT (doc_id, text)
    * frame — the row generator behind the cached artifact and the
    * ingest-store paths. */
  private def gramStreamOf(d: DataFrame, L: Int): DataFrame = {
    val toks = col("toks")
    d.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(toks) >= L)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(toks) - L),
        i => md5(concat_ws(" ", slice(toks, i + 1, lit(L))).cast("binary")))))
      .withColumnsRenamed(Map("pos" -> "pos", "col" -> "gh"))
      .repartition(col("gh"))
  }

  private def gramStreamCached(s: SparkSession, dir: String,
      L: Int): DataFrame =
    cachedStage(s, dir, s"grams$L")(gramStreamOf(docs(s, dir), L))

  /** The ExactSubstr family's persisted STORE row format: per-gram
    * occurrence counts of an explicit (doc_id, text) frame — the
    * signature-store pattern ([[signaturesOf]]) at gram granularity. A
    * corpus build writes this once; each ingest batch contributes its
    * own counts and the merge is a pure additive fold (counts add), so
    * duplicate detection never re-tokenizes the standing corpus. */
  def gramCountsOf(d: DataFrame, L: Int = ExactSubstrMinRun): DataFrame =
    gramStreamOf(d, L).groupBy("gh").agg(count(lit(1)).as("freq"))

  /** The scrub tail shared by q139/q143: mark tokens covered by any
    * occurrence of a duplicated gram, rebuild per doc. */
  private def scrubByDup(base: DataFrame, grams: DataFrame,
      dup: DataFrame, L: Int): DataFrame = {
    val toks = col("toks")
    val starts = grams.join(dup, Seq("gh"))
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("ps"))
    val covered: Column => Column = ti =>
      exists(col("ps"), p => p <= ti && ti < p + L)
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("ps", coalesce(col("ps"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, (_, i) => covered(i))).cast("long").as("n_removed"),
        md5(concat_ws(" ", filter(toks, (_, i) => !covered(i)))
          .cast("binary")).as("kept_md5"))
  }

  private[graft] def exactSubstrRemoval(s: SparkSession, dir: String,
      L: Int): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = gramStreamCached(s, dir, L)
    // a gram occurring >= 2 times ANYWHERE (across docs or twice within
    // one doc) marks tokens [pos, pos+L) of every occurrence
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= 2).select("gh")
    scrubByDup(base, grams, dup, L)
  }

  /** INCREMENTAL ExactSubstr (the family's ingest twin — MinHash, IVF,
    * postings, PCA, graph, RP-forest all have one): duplicate detection
    * against the MERGED gram store (standing counts ⊎ the batch's
    * counts — a pure additive fold on the digest, never a re-tokenize
    * of the standing corpus). Note the CROSS-BATCH flip this models: an
    * OLD doc's once-unique run becomes duplicated the moment a new doc
    * repeats it, so the scrub verdict of standing docs legitimately
    * changes on ingest — which is why the store holds counts, not a
    * frozen duplicate set. Equivalence (ScrubSpec): counts add, so the
    * merged store ≡ counting corpus ∪ batch in one pass, at any split. */
  private[graft] def exactSubstrIngest(s: SparkSession, dir: String,
      L: Int, split: Long): DataFrame = {
    val all = docs(s, dir)
    val grams = gramStreamCached(s, dir, L)
    // the persisted artifact (standing-corpus gram counts) and the batch's
    // counts are doc_id FILTERS of the ONE cached digest stream — the r18
    // fix: the old spelling called gramCountsOf(all.filter(...)) twice,
    // re-tokenizing + re-hashing the ENTIRE corpus once per side on top of
    // the cached stream the scrub tail reads (guide §1.2.1: three full
    // gram-digest passes for one). Row-local generation commutes with a
    // doc_id filter, so the counts — and the additive merge fold the
    // operator models — are unchanged; both aggregations ride the stream's
    // gh partitioning with no exchange.
    val store = grams.filter(col("doc_id") < split)
      .groupBy("gh").agg(count(lit(1)).as("freq"))
    val batchCounts = grams.filter(col("doc_id") >= split)
      .groupBy("gh").agg(count(lit(1)).as("freq"))
    val merged = store.unionByName(batchCounts)
      .groupBy("gh").agg(sum(col("freq")).as("freq"))
    val dup = merged.filter(col("freq") >= 2).select("gh")
    val base = all.select(col("doc_id"), tokens(col("text")).as("toks"))
    scrubByDup(base, grams, dup, L)
  }

  /** Variable-length exact-substring removal with CANONICAL RETENTION —
    * the q102 rule at q139's granularity (Lee et al. 2022 keep one copy:
    * repeated content should still appear ONCE in a pre-training
    * corpus). Per duplicated L-gram, the lexicographically-min
    * (doc_id, pos) occurrence is canonical; a token is removed iff some
    * NON-canonical duplicated-gram occurrence covers it. Consequence:
    * the first doc (by id, then position) carrying a duplicated run
    * keeps it whole, every other occurrence is scrubbed — and the
    * canonical choice is per-GRAM, so two runs overlapping in one doc
    * resolve deterministically in both engines. Same one-shuffle scale
    * shape as q139; the canonical is a min-struct inside the same hash
    * aggregation that counts frequencies (the q102 discipline — never a
    * window over the gram stream). */
  private[graft] def exactSubstrCanonical(s: SparkSession, dir: String,
      L: Int): DataFrame = {
    val toks = col("toks")
    val base = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = gramStreamCached(s, dir, L)
    val canon = grams.groupBy("gh").agg(
      count(lit(1)).as("freq"),
      min(struct(col("doc_id"), col("pos"))).as("canon"))
    // non-canonical occurrences of duplicated grams mark their intervals
    val starts = grams.join(canon, Seq("gh"))
      .filter(col("freq") >= 2 &&
        !(col("canon.doc_id") === col("doc_id") &&
          col("canon.pos") === col("pos")))
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("ps"))
    val covered: Column => Column = ti =>
      exists(col("ps"), p => p <= ti && ti < p + L)
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("ps", coalesce(col("ps"), array().cast("array<int>")))
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, (_, i) => covered(i))).cast("long").as("n_removed"),
        md5(concat_ws(" ", filter(toks, (_, i) => !covered(i)))
          .cast("binary")).as("kept_md5"))
  }

  /** Shared stages, one artifact per (session, dir, stage name); the
    * build only constructs a lazy plan (the checkpoint materializes on
    * first action). */
  private val Stage = new ArtifactCache.Kind[DataFrame]("dedupStage")

  private def cachedStage(s: SparkSession, dir: String, stage: String)
      (build: => DataFrame): DataFrame =
    ArtifactCache(s, dir, Stage, stage)(build.localCheckpoint(eager = false))

  /** THE materialized shingle artifact: one row per doc carrying BOTH the
    * distinct shingle-set array (exact-rescoring side of q31/q60) and the
    * 64 MinHash mins (q32/q33/q47 signatures) — produced by a single
    * tokenize→shingle→groupBy(doc_id) aggregation and checkpointed once.
    * One build job instead of three chained checkpoints (shingles →
    * arrays, → signatures): at any scale the expensive part — tokenizing
    * and hashing the corpus — runs exactly once, and the artifact is
    * what a real dedup pipeline persists. */
  private def docShinglesCached(s: SparkSession, dir: String): DataFrame =
    cachedStage(s, dir, "docShingles") {
      val h = stableHash(col("sh"))
      shingleSet(docs(s, dir)).groupBy("doc_id").agg(
        collect_set(col("sh")).as("shs"),
        (0 until NumHashes).map(i => min(perm(h, i)).as(s"mh$i")): _*)
    }

  /** Exploded distinct (doc_id, sh) pairs — a NARROW view of the per-doc
    * artifact (shared with ScaleOps' contamination audit). */
  private[queries] def shingleSetCached(s: SparkSession, dir: String): DataFrame =
    docShinglesCached(s, dir)
      .select(col("doc_id"), explode(col("shs")).as("sh"))

  /** Per-doc shingle-set arrays — the exact-rescoring side of the
    * LSH-then-verify queries (q31, q60). */
  private def shingleArraysCached(s: SparkSession, dir: String): DataFrame =
    docShinglesCached(s, dir).select(col("doc_id"), col("shs"))

  /** MinHash signatures (doc_id, mh0..mh63). */
  private def signaturesCached(s: SparkSession, dir: String): DataFrame =
    docShinglesCached(s, dir).select(
      (col("doc_id") +: (0 until NumHashes).map(i => col(s"mh$i"))): _*)

  /** Materialized (doc_id, simhash) fingerprints shared by q34/q38. */
  private def simhashCached(s: SparkSession, dir: String): DataFrame =
    cachedStage(s, dir, "simhash")(simhashDf(docs(s, dir)))

  // ---- shared MinHash constants (mirrored literally into the oracle SQL) --
  // SCALE GEOMETRY (round 7): the gated pipeline runs the tuned
  // 64-hash / 8-rows-per-band / bucket-cap-64 geometry that ScaleStress
  // proved candidate-linear at 10×/30× data (SCALE.md) — the old fixed
  // 16×4 produced 654k candidates for ~6k true near-dups at 10× because a
  // 4-row band bucket's population grows with corpus size. Band collision
  // probability is J^rows: 8 rows drops a J≈0 chance collision to ~p^8
  // while 8 bands keep P(detect J≥0.9) ≈ 99%; the cap skips pathological
  // boilerplate buckets (a capped bucket's true pairs still collide in
  // another band — recall measured at 99.6% on planted dups).
  private val P = 1000000007L // modulus
  private val NumHashes = 64
  private val BandRows = 8 // 8 bands × 8 rows
  /** Max band-bucket population paired by the gated queries — buckets
    * larger than this are boilerplate collisions, not near-dup signal. */
  private val MaxBucket = 64L
  /** Permutation coefficients, defined for ANY i (the shipped queries use
    * i < 64; other geometries may use fewer or more). */
  private def aCoef(i: Int): Long = ((i + 1) * 2654435761L) % P
  private def bCoef(i: Int): Long = ((i + 1) * 40503L * 65537L) % P
  private val As: Seq[Long] = (0 until NumHashes).map(aCoef)
  private val Bs: Seq[Long] = (0 until NumHashes).map(bCoef)

  /** minhash_i input term: ((a_i * (h % P) + b_i) % P). */
  private def perm(h: Column, i: Int): Column =
    (lit(aCoef(i)) * (h % lit(P)) + lit(bCoef(i))) % lit(P)

  private def permSql(h: String, i: Int): String =
    s"((${As(i)} * ($h % $P) + ${Bs(i)}) % $P)"

  private val hashSql = "CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)"

  /** DuckDB CTE chain: `banded` = one row per (doc, band) with the band's
    * concatenated signature key, `capped` = banded minus over-populated
    * buckets — the SQL mirror of [[cappedBandedSignatures]]. Assumes a
    * `sig` CTE (from [[sigSql]]) is in scope. */
  private lazy val bandedCte: String =
    s"""banded0 AS (SELECT doc_id,
       [${(0 until NumHashes).map(i => s"mh$i").mkString(", ")}] AS sig,
       unnest([${(0 until NumHashes / BandRows).map { b =>
      val key = (0 until BandRows).map(r => s"CAST(mh${b * BandRows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"{'band': $b, 'key': $key}"
    }.mkString(", ")}]) AS bk
       FROM sig),
       banded AS (SELECT doc_id, sig,
                         struct_extract(bk, 'band') AS band,
                         struct_extract(bk, 'key') AS key
                  FROM banded0),
       okb AS (SELECT band, key FROM banded
               GROUP BY band, key HAVING count(*) <= $MaxBucket),
       capped AS (SELECT b.doc_id, b.sig, b.band, b.key
                  FROM banded b JOIN okb USING (band, key))"""

  /** (doc_id, shingle) distinct pairs. Tokens are materialized into a
    * column first so the shingle lambda doesn't re-split the text per
    * element access. Shared with ScaleOps' contamination check. */
  private[queries] def shingleSet(d: DataFrame): DataFrame =
    d.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks"), 3))).as("sh"))

  // ---- q128: weighted sparse-vector (tf·idf) cosine similarity join ----

  /** Rare-anchor candidate cut for q128: only shingles appearing in ≤ this
    * many docs generate candidate pairs (SpotSigs / Bayardo-style
    * df-ordered pruning, collapsed to its cheapest sound form: a true
    * near-dup pair shares shingles seen almost nowhere else — in the limit
    * a PAIR-UNIQUE shingle with df = 2 — so anchoring on the df tail keeps
    * the high-cosine pairs while cutting candidate cost from Σ df² over
    * the whole vocabulary to Σ df² over the tail, which grows ∝ corpus
    * because rare-shingle counts scale with vocabulary, not n². Measured
    * at sf0.1: 249 of the 253 sim ≥ 0.9 pairs survive the cut while
    * candidate enumeration drops ~6×). */
  private val AnchorMaxDf = 8L

  /** df split point for q128's dot product: shingles with df ≤ this are
    * "tail" and their pair contributions come from a DIRECT posting-list
    * self-join (output Σ df² ≤ D·|tail postings| — linear in the corpus
    * at fixed D); shingles above it are "head" (boilerplate) and their
    * contributions ride the bounded candidate-expansion join instead
    * (|cand| × head-shingles-per-doc — never a head self-join). The
    * split is an exact partition of each pair's shared shingles, so the
    * dot product is unchanged — only the plan shape moves. Must be
    * ≥ [[AnchorMaxDf]] so every anchored pair surfaces in the tail join.
    *
    * 64 is measured, not guessed (ScaleStress x10, df distribution
    * BIMODAL — true-rare tail + replication-inflated head at df
    * 64–228): D=256 put the whole corpus in the self-join (Σ df² =
    * 450M rows, 123 s, 2.2 GB shuffle); D=64 leaves 1.2k postings in
    * the tail class there (Σ df² = 3.8k) while still covering the
    * entire sf0.1 corpus (max df 25) so the dup-dense small-SF case
    * keeps the cheap direct join. Worst case at ANY distribution:
    * D·|postings| join rows — the same linear-with-~50×-constant class
    * as the expansion path's |cand|·(shingles/doc). */
  private val DotTailMaxDf = 64L
  require(AnchorMaxDf <= DotTailMaxDf)

  /** q128 output threshold on the ROUNDED cosine (boundary pairs agree
    * across engines by construction). */
  private val CosTau = 0.5

  /** THE weighted forward/inverted index for q128 — (doc_id, shid, df, w)
    * with w = tf · idf6, idf6 = round(ln(n/df), 6): one shingle-tf pass,
    * df via a partial-aggregating `groupBy(sh)` joined back on the same
    * (sh)-exchange — NOT a `Window.partitionBy(sh)`, which would funnel
    * every occurrence of a head shingle (boilerplate: df ≈ n) through one
    * task's buffer. Map-side combine collapses hot keys before the
    * shuffle, and the sort-merge join back streams — no per-key buffering
    * anywhere. The 1-row doc count rides in as a broadcast cross join (no
    * eager driver job). Materialized once per (session, dir): the norms
    * aggregate, the rare-anchor candidate join, and BOTH dot-product
    * sides read it — the same persisted-artifact shape a production
    * similarity pipeline keeps (weights are computed at ingest, not per
    * query).
    *
    * tf/df/w are computed on the EXACT shingle strings (oracle-mirrored);
    * the artifact then carries `shid = xxhash64(sh)` INSTEAD of the ~25-
    * byte 3-token string — every downstream shuffle/join (the tail
    * self-join, the head expansion join) moves an 8-byte long (guide
    * §2.3 "narrower types / shuffle keys instead of payloads"). This is
    * the engine's standing shingle-digest discipline (MinHash signatures
    * hash shingles to 64-bit and pair on the digests); a cross-shingle
    * xxhash64 collision within one corpus (~|V|²/2⁶⁵, ≈3e-9 at the gate
    * vocab) is the same accepted risk class. */
  private def shingleTfIdfCached(s: SparkSession, dir: String): DataFrame =
    cachedStage(s, dir, "shingleTfIdf") {
      val stf = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(shingles(col("toks"), 3)).as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("tf"))
      // n_docs rides its own corpus scan ON PURPOSE: deriving it from stf
      // (count_distinct over the materialized exchange) was MEASURED
      // SLOWER (isolated bench 2.27→3.3 s) — the broadcast build runs
      // CONCURRENTLY with the stf chain (guide §2.6 overlap), so the scan
      // is latency-hidden, while the derived spelling serializes two extra
      // agg stages behind stf's exchange
      val n = docs(s, dir)
        .select(tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .agg(count(lit(1)).as("n_docs"))
      val dfBySh = stf.groupBy("sh").agg(count(lit(1)).as("df"))
      stf
        .join(dfBySh, Seq("sh"))
        .crossJoin(broadcast(n))
        .withColumn("w", col("tf").cast("double") *
          round(log(col("n_docs").cast("double") / col("df").cast("double")),
            6))
        .select(col("doc_id"), xxhash64(col("sh")).as("shid"), col("df"),
          col("w"))
    }

  /** DuckDB CTEs producing `sh(doc_id, sh)` — the distinct 3-shingle set
    * over `documents WHERE pred`, the SQL mirror of [[shingleSet]]. */
  private def shingleCteSqlWhere(pred: String): String =
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
                 WHERE $pred),
       idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t)-1, 1))) AS i
               FROM toks WHERE len(t) >= 3),
       sh AS (SELECT DISTINCT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh FROM idx)"""

  private[queries] val shingleCteSql: String = shingleCteSqlWhere("TRUE")

  private def sigSqlWhere(pred: String): String =
    s"""WITH ${shingleCteSqlWhere(pred)},
       hs AS (SELECT doc_id, $hashSql AS h FROM sh),
       sig AS (SELECT doc_id,
         ${(0 until NumHashes).map(i => s"min(${permSql("h", i)}) AS mh$i").mkString(", ")}
         FROM hs GROUP BY doc_id)"""

  private val sigSql = sigSqlWhere("TRUE")

  /** Complete DuckDB query emitting the exact LSH-then-verify near-dup
    * pairs (doc_a, doc_b, jaccard) over `documents WHERE pred` — the
    * oracle-side mirror of [[lshPairsTuned]] at the gated geometry
    * (64 hashes, 8-row bands; `capped` toggles the bucket cap). Shared by
    * q31 (capped, 0.2) and the clustering oracles in CurationOps. */
  private[queries] def exactPairsSql(pred: String, capped: Boolean,
      minJaccard: Double): String = {
    val src = if (capped) "capped" else "banded"
    s"""${sigSqlWhere(pred)},
       $bandedCte,
       cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
                FROM $src l JOIN $src r
                  ON l.band = r.band AND l.key = r.key
                 AND l.doc_id < r.doc_id),
       cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
                 FROM cand c
                 JOIN sh a ON a.doc_id = c.doc_a
                 JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
                 GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              round(i * 1.0 / (ca.n + cb.n - i), 4) AS jaccard
       FROM inter
       JOIN cnt ca ON ca.doc_id = doc_a
       JOIN cnt cb ON cb.doc_id = doc_b
       WHERE i * 1.0 / (ca.n + cb.n - i) >= $minJaccard"""
  }

  /** q164 Bloom geometry: m = 2¹⁴ bits (256 64-bit words), k = 4 seeded
    * hashes — sized so the false-positive path provably FIRES at the
    * gate SF (load factor k·n/m ≈ 1 at sf0.01 ⇒ fp ≈ 15%; a production
    * deployment sizes m up, the artifact stays one bounded broadcast). */
  private[graft] val BloomBits = 16384L
  private[graft] val BloomWords = (BloomBits / 64).toInt
  private[graft] val BloomK = 4

  /** q164's body — see the `queries` entry for the story. The gate
    * ground-truths EVERY probe (exact join over the full probe side) so
    * the confusion surface is complete; the scale deployment joins only
    * the might-contain survivors — the whole point of the filter. */
  private[graft] def bloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"),
      pmod(stableHash(col("doc_id").cast("string")), lit(100)).as("b"))
    val train = d.filter(col("b") < 80).select("text")
    // k bit positions per key: seeded md5-prefix hashes — the
    // cross-engine stableHash family, no engine-private hash function
    def posCol(j: Int): Column =
      pmod(stableHash(concat(col("text"), lit(s"#bloom$j"))), lit(BloomBits))
    // build: ONE map-side-combined bit_or aggregation into m/64 words;
    // only BloomWords rows ever reach the driver
    val words = train
      .select(explode(array((0 until BloomK).map(posCol): _*)).as("pos"))
      .groupBy(shiftright(col("pos"), 6).as("w"))
      .agg(expr(
        "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))")
        .as("word"))
    val wmap = words.collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1))).toMap
    val wordArr = array(
      (0 until BloomWords).map(i => lit(wmap.getOrElse(i, 0L))): _*)
    // probe: k literal-array lookups per row, staged so each position
    // computes once (the q159 staged-projection rule)
    val staged = d.filter(col("b") >= 90)
      .select(col("doc_id") +: col("text") +:
        (0 until BloomK).map(j => posCol(j).as(s"p$j")): _*)
    val hits = staged.select(col("doc_id") +: col("text") +:
      (0 until BloomK).map { j =>
        (element_at(wordArr, (shiftright(col(s"p$j"), 6) + 1).cast("int"))
          .bitwiseAND(expr(
            s"shiftleft(CAST(1 AS BIGINT), CAST(p$j % 64 AS INT))"))
          =!= lit(0L)).as(s"h$j")
      }: _*)
    val might = (0 until BloomK).map(j => col(s"h$j")).reduce(_ && _)
    val seen = train.distinct().withColumn("seen", lit(true))
    hits.select(col("doc_id"), col("text"), might.as("might_contain"))
      .join(seen, Seq("text"), "left")
      .select(col("doc_id"), col("might_contain"),
        coalesce(col("seen"), lit(false)).as("in_train"))
      .withColumn("false_positive",
        col("might_contain") && !col("in_train"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group on content digest, keep lowest doc_id
    // (hash-groupBy; at 100 TB group on the digest, never the text).
    "q30_dedup_exact" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(md5(col("text").cast("binary")).as("text_md5"))
        .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("dup_count"))
    }),

    // BLOOM-FILTER PRE-JOIN MEMBERSHIP (Bloom CACM'70 — the seen-set
    // pre-filter every streaming dedup/decontamination tier runs before
    // its exact join: a fixed-m-bit artifact answers "definitely new"
    // scan-locally, so the expensive exact equi-join touches only the
    // might-contain survivors + a bounded false-positive tax). Fully
    // DETERMINISTIC and cross-engine: the k bit positions are seeded
    // md5-prefix hashes (the stableHash family — no engine-private
    // hash), the filter is ONE map-side-combined bit_or aggregation
    // into m/64 words (bounded artifact: 2 KiB here; a production m of
    // 2³³ bits is a 1 GiB broadcast — still executor-local probing),
    // and probes test k literal-array word lookups per row, codegen'd.
    // The gate emits the full confusion surface per probe doc —
    // might_contain, exact membership, and the false-positive flag —
    // and the oracle replays positions, words and bit tests with
    // identical integer arithmetic. Geometry is sized so the FP path
    // provably FIRES at the bench SF (sf0.1's 5000 docs ⇒ load ≈ 1 ⇒
    // fp ≈ 15%, asserted against the analytic bound in SketchSpec; the
    // 500-doc gate corpus sits in the near-zero-fp regime). A Bloom MISS is PROOF of absence
    // (no false negatives) — that direction is what lets the exact join
    // skip ~(1−fp)·|new| of its probe side at scale.
    "q164_bloom_prefilter" -> ((s, dir) => bloomPrefilter(s, dir)),

    // Exact duplicate-SPAN removal (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better" — the fixed-width
    // variant of ExactSubstr): docs are cut into non-overlapping 3-token
    // spans; a span whose exact text occurs ≥2 times ACROSS THE CORPUS is
    // boilerplate and removed; each doc is rebuilt from its surviving
    // spans in order. Scale shape: span frequencies via hash aggregation
    // on the span text, then a shuffle equi-join back on the span — the
    // frequency table is corpus-sized (NOT broadcastable), so both sides
    // hash-partition on content; AQE's skew join handles the
    // every-doc-shares-it boilerplate span. Rebuild is
    // collect_list(kept struct) → array_sort → join: per-doc memory only.
    // Docs with <3 tokens have no spans and are absent (oracle mirrors).
    "q74_dup_span_removal" -> ((s, dir) => {
      val spans = spanStream(s, dir)
      val freq = spans.groupBy("span").agg(count(lit(1)).as("freq"))
      spans.join(freq, Seq("span"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_spans"),
          sum(when(col("freq") >= 2, 1L).otherwise(0L)).as("n_removed"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(when(col("freq") < 2,
              struct(col("span_idx"), col("span"))))),
            x => x.getField("span"))).cast("binary")).as("kept_md5"))
    }),

    // Duplicate-span removal with CANONICAL RETENTION — Lee et al.
    // 2022's actual ExactSubstr rule: of all occurrences of a duplicated
    // span, exactly ONE canonical copy survives. q74 is the "boilerplate:
    // drop everywhere" flavor; this is the "keep one copy" flavor a
    // pre-training corpus wants, so repeated content still appears once.
    // Canonical = lexicographic-min (doc_id, span_idx), computed as a
    // min over a STRUCT inside the same hash aggregation that counts
    // frequencies — no window sort of the span stream (a row_number
    // per span would sort every partition); the freq+canonical table
    // joins back on the one span-content exchange (q74's shape).
    "q102_dup_span_canonical" -> ((s, dir) => {
      val spans = spanStream(s, dir)
      val canon = spans.groupBy("span").agg(
        count(lit(1)).as("freq"),
        min(struct(col("doc_id"), col("span_idx"))).as("canon"))
      spans.join(canon, Seq("span"))
        .withColumn("keep", col("freq") < 2 ||
          (col("canon.doc_id") === col("doc_id") &&
            col("canon.span_idx") === col("span_idx")))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_spans"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("span_idx"), col("span"))))),
            x => x.getField("span"))).cast("binary")).as("kept_md5"))
    }),

    // VARIABLE-LENGTH exact-substring removal — Lee et al. 2022's actual
    // ExactSubstr operator (q74/q102 are the fixed-width-grid
    // simplification, which misses any duplicate that straddles a span
    // boundary): remove every token covered by a duplicated substring of
    // >= L tokens, wherever it starts. Exactness comes from a window
    // identity: a substring of length >= L is duplicated iff every one of
    // its sliding L-token windows is duplicated, so token-coverage by
    // duplicated >=L substrings EQUALS token-coverage by duplicated
    // L-grams — no suffix array needed, and the check distributes as
    // hash aggregation. Scale shape: the gram TEXT never leaves the map
    // side — each sliding window is digested to md5 immediately (the q30
    // "group on the digest" discipline), so the one corpus-sized shuffle
    // carries (digest, doc_id, pos) rows, partitioned on the digest ONCE
    // (frequency aggregate and join-back probe side both consume that
    // exchange — the q74 shape). The duplicated-gram table is join-as-
    // filter by STATS: tiny at gate SF (broadcast, the pinned plan), and
    // past the broadcast threshold Catalyst shuffles it onto the already-
    // digest-partitioned gram stream. Interval union + rebuild are per-doc
    // array expressions: memory bounded by doc length, no window sort.
    "q139_exact_substr" -> ((s, dir) =>
      exactSubstrRemoval(s, dir, ExactSubstrMinRun)),

    // INCREMENTAL ExactSubstr end state (the ingest-twin gate, the
    // q121/q131/q140 recipe): the corpus splits at ExactSubstrSplit —
    // the standing half's gram counts are the persisted store, the rest
    // ingests as a batch, duplicate detection runs against the MERGED
    // counts, and the gate checks the complete scrub of ALL docs. The
    // oracle is q139's one-shot SQL verbatim: counts add, so the merged
    // store answers exactly what a full recount would (the q137
    // store-round-trip argument applied to the frequency artifact).
    "q143_exact_substr_ingest_endstate" -> ((s, dir) =>
      exactSubstrIngest(s, dir, ExactSubstrMinRun, ExactSubstrSplit)),

    // q139 with CANONICAL RETENTION — Lee et al. 2022's keep-one-copy
    // rule at variable length (the q102↔q74 pairing, completed): the
    // lexicographically-first occurrence of each duplicated gram
    // survives; every other occurrence's interval is scrubbed. See
    // [[exactSubstrCanonical]] for semantics and scale shape.
    "q142_exact_substr_canonical" -> ((s, dir) =>
      exactSubstrCanonical(s, dir, ExactSubstrMinRun)),

    // Exact n-gram Jaccard — UNBOUNDED. Candidate pairs come from the
    // MinHash-LSH band buckets (same generator as q33: shuffle keyed on
    // (band, key), never an n² self-join); candidates are then EXACTLY
    // rescored from their full shingle sets via array_intersect. This is
    // the standard LSH-then-verify dedup pipeline: banding bounds the pair
    // space, the verify step removes LSH's false positives, so every
    // emitted jaccard is exact. The oracle computes the identical banding
    // + rescoring in DuckDB.
    "q31_ngram_jaccard" -> ((s, dir) => {
      val wb = cappedBandedSignatures(signaturesCached(s, dir))
      val l = wb.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      val r = wb.select(col("band"), col("key"), col("doc_id").as("doc_b"))
      val cand = l.join(r, Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      // per-doc shingle sets: one row per doc, bounded by doc length
      val sets = shingleArraysCached(s, dir)
      cand
        .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")),
          Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")),
          Seq("doc_b"))
        .withColumn("inter",
          size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) - col("inter")))
        .filter(col("jaccard") >= 0.2)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
    }),

    // MinHash signatures (64 permutations over 3-shingles).
    "q32_minhash_sig" -> ((s, dir) =>
      signaturesCached(s, dir).select(
        (col("doc_id") +: (0 until NumHashes).map(i => col(s"mh$i"))): _*)),

    // MinHash + LSH candidate pairs: band the signature (8 bands × 8 rows,
    // buckets over the population cap skipped), bucket-join on (band, band
    // key), estimate Jaccard as matching-signature fraction. Only
    // surviving-bucket collisions are ever paired.
    "q33_minhash_lsh_pairs" -> ((s, dir) => {
      val withBands = cappedBandedSignatures(signaturesCached(s, dir))
      val l = withBands.select(col("band"), col("key"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val r = withBands.select(col("band"), col("key"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      l.join(r, Seq("band", "key")).filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (aggregate(
            zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, v) => acc + v)
            .cast("double") / lit(NumHashes.toDouble)).as("est_jaccard"))
        .distinct()
        .select(col("doc_a"), col("doc_b"),
          round(col("est_jaccard"), 4).as("est_jaccard"))
    }),

    // Containment (asymmetric Jaccard): |A∩B| / min(|A|,|B|) — catches a
    // short doc EMBEDDED in a long one (quotes, boilerplate wrappers,
    // subset pages), which symmetric Jaccard dilutes below any threshold.
    // Same LSH-then-verify shape as q31: candidates from the band buckets,
    // exact rescoring from the full shingle sets.
    "q60_containment" -> ((s, dir) => {
      val wb = cappedBandedSignatures(signaturesCached(s, dir))
      val l = wb.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      val r = wb.select(col("band"), col("key"), col("doc_id").as("doc_b"))
      val cand = l.join(r, Seq("band", "key"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val sets = shingleArraysCached(s, dir)
      cand
        .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")),
          Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")),
          Seq("doc_b"))
        .withColumn("inter",
          size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
        .withColumn("containment", col("inter").cast("double") /
          least(size(col("shs_a")), size(col("shs_b"))))
        .filter(col("containment") >= 0.5)
        .select(col("doc_a"), col("doc_b"),
          round(col("containment"), 4).as("containment"))
    }),

    // SimHash: 60-bit signed-sum fingerprint over token hashes (with
    // multiplicity). Pure projection + one aggregation. 60 bits (not 64)
    // because the engine-portable stableHash is a 60-bit positive long.
    "q34_simhash" -> ((s, dir) => simhashCached(s, dir)),

    // SimHash near-dup pairs — UNBOUNDED and EXACT. The 60-bit fingerprint
    // is cut into 5 bands of 12 bits: a pair within Hamming distance ≤ 4
    // differs in at most 4 bands, so it is GUARANTEED to collide on ≥ 1
    // band (Manku et al., WWW'07 pigeonhole banding). Candidates come only
    // from band-bucket collisions — shuffle keyed on (band, key), never an
    // n² theta-join — and the Hamming filter removes false positives, so
    // the output is exactly all pairs with Hamming ≤ 4.
    "q38_simhash_pairs" -> ((s, dir) => simhashPairsTuned(s, dir)),

    // BATCH-INCREMENTAL hamming-dedup END-STATE, oracle-gated: build the
    // standing corpus' simhash clusters (doc_id < 300), then ingest the
    // rest of the slice (300..600) through
    // [[graft.operators.HammingPairs.pairsIncremental]] + incremental
    // connected components — per-ingest cost ∝ batch, the corpus is never
    // re-paired. The oracle clusters the WHOLE slice in one shot from
    // BRUTE-FORCE Hamming pairs (pigeonhole exactness: banding ≡ brute at
    // the radius, so the oracle needn't mirror any banding): the gate
    // proves the shared Hamming engine's incremental contract under the
    // driver's hash gate, not just ScalaTest.
    "q89_hamming_ingest_endstate" -> ((s, dir) => {
      import graft.operators.{ConnectedComponents, HammingPairs}
      // materialize the slice's simhashes ONCE (lazy checkpoint): store
      // pairing, incremental pairing, and the vertex set all read this
      // relation, and sibling subtrees re-execute otherwise (the q119
      // lesson — exchange reuse does not fire across consumers)
      val sliced = simhashDf(docs(s, dir).filter(col("doc_id") < 600))
        .localCheckpoint(eager = false)
      val store = sliced.filter(col("doc_id") < 300)
      val batch = sliced.filter(col("doc_id") >= 300)
      val assign0 = ConnectedComponents.hashMin(
        HammingPairs.pairs(store, "doc_id", "simhash", SimhashBits,
            SimhashBandBits, 4, outA = "doc_a", outB = "doc_b")
          .select(col("doc_a"), col("doc_b")),
        store.select(col("doc_id")))
      val incPairs = HammingPairs.pairsIncremental(store, batch,
        "doc_id", "simhash", SimhashBits, SimhashBandBits, 4,
        outA = "doc_a", outB = "doc_b")
      ConnectedComponents.incremental(assign0,
          incPairs.select(col("doc_a"), col("doc_b")),
          sliced.select(col("doc_id")))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"),
          (col("id") === col("component")).as("is_keeper"))
    }),

    // Weighted sparse-vector similarity join (Bayardo/Chaudhuri all-pairs
    // similarity search, rare-anchor flavor): exact tf·idf COSINE over
    // word-3-shingle vectors for every pair sharing a rare shingle
    // (df ≤ AnchorMaxDf), thresholded at CosTau — the WEIGHTED complement
    // of q31's set-Jaccard (tf·idf cosine is what near-dup mining uses
    // when term frequency matters: boilerplate-heavy docs score low even
    // with large set overlap, because head shingles carry ~zero idf).
    // Scale shape — a df-SPLIT dot product ([[DotTailMaxDf]]): tail
    // shingles (df ≤ D) contribute through a direct posting-list
    // self-join whose output is Σ df² ≤ D·|postings| (linear at fixed
    // D), and the candidate set falls out of the SAME join for free
    // (bool_or(df ≤ AnchorMaxDf) — a pair is anchored iff it shares a
    // rare shingle, and rare ⊂ tail); head shingles (boilerplate,
    // df > D) contribute through the bounded candidate-expansion join
    // (broadcast cand × head-shingles-per-doc — never a head
    // self-join, never n²). The split partitions each pair's shared
    // shingles exactly, so the dot product — and the oracle — is
    // unchanged; only the plan shape moves. (The previous spelling
    // expanded cand × ALL shingles of doc_a — a 10M-row intermediate
    // double-shuffled on string keys at sf0.1, vs Σ df² = 2.8M for the
    // direct tail join.) Determinism: w = tf · idf6 is an IEEE product
    // of exact inputs; every sum crosses partitions as LONG micro-units
    // (round(·,6)·1e6 — the mean4of6 discipline), summed associatively
    // across the tail/head split; the final cosine is dot/√(s2a·s2b) in
    // IEEE doubles of identical longs, rounded once to 4dp, thresholded
    // AFTER rounding so boundary pairs agree.
    "q128_tfidf_cosine_pairs" -> ((s, dir) => {
      val w = shingleTfIdfCached(s, dir)
      def micro(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        sum(round(round(x * y, 6) * lit(1e6)).cast("long"))
      // anchored pairs + their tail-shingle dot, one join: materialized
      // once (two consumers: the head join's broadcast + the union);
      // keyed on the 8-byte shingle digest, not the string (guide §2.3).
      // BOTH self-join sides are the IDENTICAL projection of the tail so
      // they canonicalize equal and the planner/AQE computes the shid
      // exchange ONCE and reads it twice (guide §2.4 "share one
      // exchange") — projecting df on only one side defeated the reuse
      val tail = w.filter(col("df") <= DotTailMaxDf)
        .select(col("shid"), col("df"), col("doc_id"), col("w"))
      val dt = tail.toDF("shid", "df", "doc_a", "w_a")
        .join(tail.toDF("shid", "df_b", "doc_b", "w_b"), Seq("shid"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(micro(col("w_a"), col("w_b")).as("dp"),
          bool_or(col("df") <= AnchorMaxDf).as("anchored"))
        .filter(col("anchored"))
        .select("doc_a", "doc_b", "dp")
        .localCheckpoint(eager = false)
      val cand = dt.select("doc_a", "doc_b")
      val head = w.filter(col("df") > DotTailMaxDf)
      val dh = broadcast(cand)
        .join(head.select(col("doc_id").as("doc_a"), col("shid"),
          col("w").as("w_a")), Seq("doc_a"))
        .join(head.select(col("doc_id").as("doc_b"), col("shid"),
          col("w").as("w_b")), Seq("doc_b", "shid"))
        .groupBy("doc_a", "doc_b")
        .agg(micro(col("w_a"), col("w_b")).as("dp"))
      val dot = dt.unionByName(dh)
        .groupBy("doc_a", "doc_b").agg(sum(col("dp")).as("dp"))
      // the s2a/s2b subtrees LOOK duplicated in the initial plan but AQE
      // stage reuse deduplicates them at runtime (canonicalized broadcast
      // stages match); a localCheckpoint here was MEASURED SLOWER (3.1 s
      // vs 2.2 s isolated) — it replaces the stats-driven broadcast with
      // an ExistingRDD the planner can't size, so leave this stats-visible
      val ssq = w.groupBy("doc_id")
        .agg(sum(round(round(col("w") * col("w"), 6) * lit(1e6))
          .cast("long")).as("s2"))
      dot
        .join(ssq.select(col("doc_id").as("doc_a"), col("s2").as("s2a")),
          Seq("doc_a"))
        .join(ssq.select(col("doc_id").as("doc_b"), col("s2").as("s2b")),
          Seq("doc_b"))
        .withColumn("sim", round(col("dp").cast("double") /
          sqrt(col("s2a").cast("double") * col("s2b").cast("double")), 4))
        .filter(col("sim") >= CosTau)
        .select(col("doc_a"), col("doc_b"), col("sim"))
    })
  )

  /** SimHash near-dup pairs with PARAMETERIZED banding (the enumeration-
    * family knob the r6 verdict asked for). The 60-bit fingerprint is cut
    * into 60/bandBits bands; same-band-bucket collisions are candidates,
    * the Hamming filter removes false positives. Pigeonhole exactness: a
    * pair within Hamming ≤ maxHamming differs in at most maxHamming bands,
    * so with `maxHamming < nBands` (required) and no cap the output is
    * EXACTLY all pairs at that radius — geometry never changes the answer,
    * only the candidate population. Chance collisions under a fixed band
    * width are Θ(n²/2^bandBits) per band: the scale levers are WIDER bands
    * (smaller guaranteed radius — the Manku et al. trade) and `maxBucket`
    * (skips boilerplate buckets; lossy-but-audited, measured by
    * ScaleStress). Defaults (12-bit bands, Hamming ≤ 4, no cap) are
    * EXACTLY the gated q38, which delegates here; the scale geometry is
    * e.g. (20, 2, 64): 3 bands of 20 bits, 2^20 keys per band. */
  def simhashPairsTuned(s: SparkSession, dir: String, bandBits: Int = 12,
      maxHamming: Int = 4, maxBucket: Long = 0L): DataFrame = {
    graft.operators.HammingPairs.requireExact(SimhashBits, bandBits, maxHamming)
    graft.operators.HammingPairs.pairs(simhashCached(s, dir),
      "doc_id", "simhash", SimhashBits, bandBits, maxHamming, maxBucket,
      outA = "doc_a", outB = "doc_b")
  }

  // ---- simhash banding constants (5 × 12 bits over the 60-bit hash) ----
  private val SimhashBits = 60
  private val SimhashBands = 5
  private val SimhashBandBits = SimhashBits / SimhashBands

  /** SCALE-PATH MinHash-LSH near-dup pairs with parameterized geometry —
    * the knob set behind the gated pipeline (q31/q33 run the 64×8+cap
    * default since round 7; this entry point exists for other corpora,
    * whose optimal geometry differs with shingle vocabulary and dup rate).
    *
    * Why it exists (measured by [[graft.tools.ScaleStress]]): with a small
    * shingle vocabulary, the population of a 4-row band bucket grows with
    * corpus size — at 10× the sf0.1 corpus the 4×4 geometry produced 654k
    * candidate pairs of which ~6k were true near-dups, and the verify
    * stage's array-carrying joins inherited the 100× false-positive blowup
    * (0.5 s → 21 s). Band collision probability is J^rows per band: the
    * scale levers are MORE hashes with MORE rows per band (8×8 at 64
    * hashes drops a J≈0 chance collision to ~p^8 while keeping
    * P(detect J≥0.9) ≈ 99%) and a bucket-population cap (`maxBucket`) that
    * skips pathological boilerplate buckets outright — the standard
    * lossy-but-audited guard (a capped bucket's TRUE pairs still usually
    * collide in another, uncapped band). Recall against planted
    * duplicates is measured per scale by ScaleStress, not assumed.
    *
    * Same LSH-then-verify contract as q31: emitted jaccards are EXACT
    * (false positives rescored away); geometry only moves the
    * candidate-recall curve. With (numHashes=64, bandRows=8, maxBucket=64)
    * this is exactly q31's pipeline — since round 7 the GATED queries run
    * this geometry themselves (asserted in ScrubSpec).
    */
  def lshPairsTuned(s: SparkSession, dir: String,
      numHashes: Int = 64, bandRows: Int = 8,
      maxBucket: Long = 0L, minJaccard: Double = 0.2): DataFrame = {
    require(numHashes % bandRows == 0,
      s"numHashes $numHashes must be a multiple of bandRows $bandRows")
    val h = stableHash(col("sh"))
    // per-doc artifact for THIS hash count (64-hash calls — the gated
    // default — share the q31/q33 artifact; other geometries build and
    // cache their own)
    val sigs =
      if (numHashes == NumHashes) docShinglesCached(s, dir)
      else cachedStage(s, dir, s"docShingles$numHashes") {
        shingleSet(docs(s, dir)).groupBy("doc_id").agg(
          collect_set(col("sh")).as("shs"),
          (0 until numHashes).map(i => min(perm(h, i)).as(s"mh$i")): _*)
      }
    val banded = bandedFor(sigs, numHashes, bandRows)
    val within = if (maxBucket > 0L) {
      // bucket sizes shuffle on the same (band, key) the pair join uses —
      // the exchange is shared, so the cap costs one co-partitioned agg
      val sizes = banded.groupBy("band", "key")
        .agg(count(lit(1)).as("bcnt"))
        .filter(col("bcnt") <= maxBucket)
        .select("band", "key")
      banded.join(sizes, Seq("band", "key"))
    } else banded
    val cand = within.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(within.select(col("band"), col("key"), col("doc_id").as("doc_b")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sets = sigs.select(col("doc_id"), col("shs"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** (doc_id, band, key) banding of an (doc_id, mh0..mh{n-1}, …) signature
    * frame under an arbitrary geometry — shared by [[lshPairsTuned]] and
    * [[lshPairsIncremental]]. */
  private def bandedFor(sigs: DataFrame, numHashes: Int,
      bandRows: Int): DataFrame = {
    val nBands = numHashes / bandRows
    sigs.select(col("doc_id"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          concat_ws("_", (0 until bandRows).map(r =>
            col(s"mh${b * bandRows + r}")): _*).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Per-doc shingle artifact (doc_id, shs, mh0..mh{n-1}) for an EXPLICIT
    * (doc_id, text) frame — the SIGNATURE STORE row format. At corpus
    * build this is written once as a parquet table; each ingest batch
    * appends its own rows ([[lshPairsIncrementalAgainst]]), so near-dup
    * detection never re-tokenizes the standing corpus. */
  def signaturesOf(d: DataFrame, numHashes: Int = 64): DataFrame =
    docShinglesOf(d.select(col("doc_id"), col("text")), numHashes)

  private def docShinglesOf(d: DataFrame, numHashes: Int): DataFrame = {
    val h = stableHash(col("sh"))
    shingleSet(d).groupBy("doc_id").agg(
      collect_set(col("sh")).as("shs"),
      (0 until numHashes).map(i => min(perm(h, i)).as(s"mh$i")): _*)
  }

  /** INCREMENTAL near-dup pair generation (the text mirror of
    * [[graft.queries.SimilarityOps.assignIncremental]], feeding
    * [[graft.operators.ConnectedComponents.incremental]]): band a NEW
    * batch of documents against the persisted corpus signature artifact
    * and emit exactly the near-dup pairs that involve ≥1 new doc — cost
    * ∝ |batch| (+ one artifact read), never a corpus re-scan.
    *
    * Union semantics (proved in ScrubSpec): with the same geometry and no
    * bucket cap, `pairs(corpus) ⊎ lshPairsIncremental(corpus, batch)` is
    * exactly `pairs(corpus ∪ batch)` — per-doc signatures are independent,
    * so ingesting in batches loses nothing. (With a bucket cap the cap is
    * evaluated against the UNION's bucket populations, matching what a
    * full recompute would see.)
    *
    * @param newDocs (doc_id, text) batch; ids must not collide with the
    *                corpus */
  def lshPairsIncremental(s: SparkSession, dir: String, newDocs: DataFrame,
      numHashes: Int = 64, bandRows: Int = 8,
      maxBucket: Long = 0L, minJaccard: Double = 0.2): DataFrame = {
    val corpusSigs =
      if (numHashes == NumHashes) docShinglesCached(s, dir)
      else cachedStage(s, dir, s"docShingles$numHashes") {
        docShinglesOf(docs(s, dir), numHashes)
      }
    lshPairsIncrementalAgainst(corpusSigs, newDocs, numHashes, bandRows,
      maxBucket, minJaccard)
  }

  /** [[lshPairsIncremental]] against an explicit PERSISTED signature store
    * (rows in the [[signaturesOf]] format — e.g. `spark.read.parquet` of
    * the store table). The 100 TB ingest loop: read store → pair the batch
    * → append `signaturesOf(batch)` to the store → fold the pairs into the
    * cluster assignment via `ConnectedComponents.incremental`. Multi-batch
    * convergence (store grows batch by batch, pairs union to the full
    * recompute) is proved in ScrubSpec. */
  def lshPairsIncrementalAgainst(store: DataFrame, newDocs: DataFrame,
      numHashes: Int = 64, bandRows: Int = 8,
      maxBucket: Long = 0L, minJaccard: Double = 0.2): DataFrame =
    lshPairsFromSigs(store,
      docShinglesOf(newDocs.select(col("doc_id"), col("text")), numHashes)
        .localCheckpoint(eager = false),
      numHashes, bandRows, maxBucket, minJaccard)

  /** [[lshPairsIncrementalAgainst]] with PRECOMPUTED batch signatures
    * (rows in the [[signaturesOf]] format) — callers that also persist the
    * batch's signatures (the ingest loop) compute them once and reuse. */
  def lshPairsFromSigs(store: DataFrame, batchSigs: DataFrame,
      numHashes: Int = 64, bandRows: Int = 8,
      maxBucket: Long = 0L, minJaccard: Double = 0.2): DataFrame = {
    require(numHashes % bandRows == 0,
      s"numHashes $numHashes must be a multiple of bandRows $bandRows")
    val corpusSigs = store
    val newBanded = bandedFor(batchSigs, numHashes, bandRows)
    val allBanded = bandedFor(corpusSigs, numHashes, bandRows)
      .union(newBanded)
    val cappedAll = if (maxBucket > 0L) {
      val sizes = allBanded.groupBy("band", "key")
        .agg(count(lit(1)).as("bcnt"))
        .filter(col("bcnt") <= maxBucket)
        .select("band", "key")
      allBanded.join(sizes, Seq("band", "key"))
    } else allBanded
    // one side is ALWAYS the batch: the join streams the corpus banding
    // past the batch's buckets; orientation normalizes to (lo, hi) so a
    // new-new pair isn't emitted twice
    val cand = bandedFilter(cappedAll, newBanded)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sets = corpusSigs.select(col("doc_id"), col("shs"))
      .union(batchSigs.select(col("doc_id"), col("shs")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Candidate join for the incremental path: batch buckets × all
    * bucket members, both orientations so the (lo, hi) normalization
    * upstream sees every pair once. (`all` already carries any bucket cap;
    * the inner join restricts the batch side to surviving keys, so no
    * separate batch pre-filter is needed.) */
  private def bandedFilter(all: DataFrame, batch: DataFrame): DataFrame = {
    val l = batch.select(col("band"), col("key"),
      col("doc_id").as("doc_n"))
    val r = all.select(col("band"), col("key"), col("doc_id").as("doc_o"))
    l.join(r, Seq("band", "key"))
      .filter(col("doc_n") =!= col("doc_o"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"))
  }

  /** [[bandedSignatures]] minus over-populated buckets — the gated
    * queries' banding (q31/q33/q60). The bucket-size aggregate shuffles on
    * the same (band, key) the downstream pair join uses, so the exchange
    * is shared and the cap costs one co-partitioned aggregation. */
  private def cappedBandedSignatures(sigs: DataFrame): DataFrame = {
    val banded = bandedSignatures(sigs)
    val ok = banded.groupBy("band", "key")
      .agg(count(lit(1)).as("bcnt"))
      .filter(col("bcnt") <= MaxBucket)
      .select("band", "key")
    banded.join(ok, Seq("band", "key"))
  }

  /** doc_id, sig (64-long array), band, key — the MinHash-LSH banding
    * shared by q33 (estimate from collisions) and q31 (exact rescoring of
    * collisions). A cheap narrow explode over the materialized signatures —
    * never worth caching itself. */
  private def bandedSignatures(sigs: DataFrame): DataFrame = {
    val sigArr = array((0 until NumHashes).map(i => col(s"mh$i")): _*)
    sigs.select(col("doc_id"), sigArr.as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array((0 until NumHashes / BandRows).map { b =>
          struct(lit(b).as("band"),
            concat_ws("_", (0 until BandRows).map(r =>
              element_at(col("sig"), b * BandRows + r + 1)): _*).as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** (doc_id, simhash) — 60-bit fingerprint, shared by q34 and q38. */
  private def simhashDf(d: DataFrame): DataFrame = {
    val h = stableHash(col("tok"))
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(h, j) % 2 === 1, 1).otherwise(-1)).as(s"s$j")
    }
    d.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** q139/q143's shared oracle: the one-shot window-identity SQL
    * (counts add, so the merged-store ingest path answers exactly
    * what the one-shot count does). */
  private def exactSubstrOracleSql: String = {
      val L = ExactSubstrMinRun
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
         g AS (SELECT doc_id, i AS pos,
                      md5(array_to_string(t[i+1:i+$L], ' ')) AS gh
               FROM (SELECT doc_id, t,
                            unnest(range(0, len(t) - $L + 1)) AS i
                     FROM toks WHERE len(t) >= $L)),
         dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         st AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
         tok2 AS (SELECT doc_id, ti, t[ti+1] AS tok
                  FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS ti
                        FROM toks)),
         cov AS (SELECT DISTINCT k.doc_id, k.ti
                 FROM tok2 k JOIN st s ON k.doc_id = s.doc_id
                   AND s.pos <= k.ti AND k.ti < s.pos + $L)
         SELECT k.doc_id, count(*) AS n_tokens,
                CAST(count(c.ti) AS BIGINT) AS n_removed,
                md5(coalesce(string_agg(CASE WHEN c.ti IS NULL THEN k.tok END,
                                        ' ' ORDER BY k.ti), '')) AS kept_md5
         FROM tok2 k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.ti = c.ti
         GROUP BY k.doc_id"""
  }

  val oracle: Map[String, String] = Map(
    "q30_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_doc_id,
         count(*) AS dup_count
         FROM documents GROUP BY md5(text)""",
    // q164: positions, words and bit tests replayed with identical
    // integer arithmetic (seeded md5-prefix hashes, nonneg % ≡ pmod,
    // 64-bit shifts — bit 63 spelled as the Long.MinValue literal
    // because DuckDB range-checks 1<<63 where Spark's shiftleft wraps);
    // a probe position whose word row is absent is a definite miss
    // (coalesce FALSE ≡ the Spark side's getOrElse(0))
    "q164_bloom_prefilter" -> {
      def bit1(b: String) =
        s"""(CASE WHEN $b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
           |      ELSE CAST(1 AS BIGINT) << CAST($b AS INT) END)""".stripMargin
      s"""WITH d AS (SELECT doc_id, text,
         |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) % 100 AS b FROM documents),
         |tr AS MATERIALIZED (SELECT text FROM d WHERE b < 80),
         |pos AS (SELECT CAST('0x' || substr(md5(text || '#bloom' ||
         |            CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % $BloomBits
         |          AS pos
         |        FROM tr, range(0, $BloomK) t(j)),
         |words AS MATERIALIZED (
         |  SELECT pos >> 6 AS w, bit_or(${bit1("pos % 64")}) AS word
         |  FROM pos GROUP BY pos >> 6),
         |ph AS (SELECT doc_id, text, j,
         |         CAST('0x' || substr(md5(text || '#bloom' ||
         |           CAST(j AS VARCHAR)), 1, 15) AS BIGINT) % $BloomBits
         |         AS pos
         |       FROM d, range(0, $BloomK) t(j) WHERE b >= 90),
         |hit AS (SELECT ph.doc_id, ph.text,
         |          bool_and(coalesce(
         |            (w.word & ${bit1("ph.pos % 64")}) != 0,
         |            FALSE)) AS might_contain
         |        FROM ph LEFT JOIN words w ON w.w = ph.pos >> 6
         |        GROUP BY ph.doc_id, ph.text)
         |SELECT h.doc_id, h.might_contain,
         |       (t.text IS NOT NULL) AS in_train,
         |       (h.might_contain AND t.text IS NULL) AS false_positive
         |FROM hit h LEFT JOIN (SELECT DISTINCT text FROM tr) t
         |  ON t.text = h.text""".stripMargin
    },
    // string_agg skips the NULLed-out (removed) spans and orders by
    // span_idx — the SQL mirror of collect_list(when(kept, struct)) →
    // array_sort → concat_ws on the Spark side
    "q74_dup_span_removal" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, t, unnest(range(0, len(t) // 3)) AS i
                 FROM toks),
         spans AS (SELECT doc_id, i AS span_idx,
                          t[i*3+1] || ' ' || t[i*3+2] || ' ' || t[i*3+3]
                            AS span
                   FROM idx),
         freq AS (SELECT span, count(*) AS freq FROM spans GROUP BY 1)
         SELECT doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN freq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_removed,
                md5(coalesce(string_agg(CASE WHEN freq < 2 THEN span END,
                                        ' ' ORDER BY span_idx), ''))
                  AS kept_md5
         FROM spans JOIN freq USING (span)
         GROUP BY doc_id""",
    // canonical = the (doc_id, span_idx)-first occurrence: rank 1 of the
    // per-span window IS the lexicographic-min struct the Spark side
    // aggregates (the canonical is unique, so the two spellings agree
    // exactly); keep = unique span OR canonical occurrence
    "q102_dup_span_canonical" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         idx AS (SELECT doc_id, t, unnest(range(0, len(t) // 3)) AS i
                 FROM toks),
         spans AS (SELECT doc_id, i AS span_idx,
                          t[i*3+1] || ' ' || t[i*3+2] || ' ' || t[i*3+3]
                            AS span
                   FROM idx),
         r AS (SELECT doc_id, span_idx, span,
                      count(*) OVER (PARTITION BY span) AS freq,
                      row_number() OVER (PARTITION BY span
                        ORDER BY doc_id, span_idx) AS rk
               FROM spans)
         SELECT doc_id, count(*) AS n_spans,
                CAST(sum(CASE WHEN freq >= 2 AND rk > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_removed,
                md5(coalesce(string_agg(
                  CASE WHEN freq < 2 OR rk = 1 THEN span END,
                  ' ' ORDER BY span_idx), '')) AS kept_md5
         FROM r GROUP BY doc_id""",
    // the same window identity in SQL: duplicated L-grams (count >= 2
    // over md5'd sliding windows) mark their covered token indices; a
    // token survives iff no duplicated gram covers it. The coverage test
    // is a per-doc range join (pos <= ti < pos+L) — the set-based mirror
    // of the Spark side's exists() over the starts array.
    "q139_exact_substr" -> exactSubstrOracleSql,
    "q143_exact_substr_ingest_endstate" -> exactSubstrOracleSql,
    // q139's oracle with the q102 canonical rule: rank-1 of the per-gram
    // (doc_id, pos) window IS the lexicographic-min struct the Spark
    // side aggregates (the canonical is unique, so the spellings agree
    // exactly); coverage comes from non-canonical duplicated occurrences
    "q142_exact_substr_canonical" -> {
      val L = ExactSubstrMinRun
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents),
         g AS (SELECT doc_id, i AS pos,
                      md5(array_to_string(t[i+1:i+$L], ' ')) AS gh
               FROM (SELECT doc_id, t,
                            unnest(range(0, len(t) - $L + 1)) AS i
                     FROM toks WHERE len(t) >= $L)),
         r AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY gh) AS freq,
                      row_number() OVER (PARTITION BY gh
                        ORDER BY doc_id, pos) AS rk
               FROM g),
         st AS (SELECT doc_id, pos FROM r WHERE freq >= 2 AND rk > 1),
         tok2 AS (SELECT doc_id, ti, t[ti+1] AS tok
                  FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS ti
                        FROM toks)),
         cov AS (SELECT DISTINCT k.doc_id, k.ti
                 FROM tok2 k JOIN st s ON k.doc_id = s.doc_id
                   AND s.pos <= k.ti AND k.ti < s.pos + $L)
         SELECT k.doc_id, count(*) AS n_tokens,
                CAST(count(c.ti) AS BIGINT) AS n_removed,
                md5(coalesce(string_agg(CASE WHEN c.ti IS NULL THEN k.tok END,
                                        ' ' ORDER BY k.ti), '')) AS kept_md5
         FROM tok2 k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.ti = c.ti
         GROUP BY k.doc_id"""
    },
    // identical LSH banding as q33 generates the candidates; the exact
    // jaccard is then recomputed from the full shingle sets (sh CTE comes
    // from sigSql) — mirrors the Spark LSH-then-verify pipeline 1:1
    "q31_ngram_jaccard" ->
      exactPairsSql("TRUE", capped = true, minJaccard = 0.2),
    // mirror of q128: same shingle-tf stream, df per shingle, w = tf·idf6,
    // micro-unit LONG sums for norms and dot products, rare-anchor
    // candidates (both sides df ≤ AnchorMaxDf), cosine rounded 4dp then
    // thresholded
    "q128_tfidf_cosine_pairs" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
                        FROM documents),
         n AS (SELECT count(*) AS n_docs FROM toks WHERE len(t) >= 3),
         idx AS (SELECT doc_id, t,
                        unnest(range(1, greatest(len(t)-1, 1))) AS i
                 FROM toks WHERE len(t) >= 3),
         stf AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh,
                        count(*) AS tf
                 FROM idx GROUP BY 1, 2),
         dfs AS (SELECT sh, count(*) AS df FROM stf GROUP BY sh),
         w AS (SELECT s.doc_id, s.sh, d.df,
                      CAST(s.tf AS DOUBLE) *
                        round(ln(CAST(n.n_docs AS DOUBLE) /
                          CAST(d.df AS DOUBLE)), 6) AS w
               FROM stf s JOIN dfs d USING (sh) CROSS JOIN n),
         ssq AS (SELECT doc_id,
                        CAST(sum(CAST(round(round(w*w, 6) * 1e6) AS BIGINT))
                          AS BIGINT) AS s2
                 FROM w GROUP BY 1),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM w a JOIN w b ON a.sh = b.sh AND a.doc_id < b.doc_id
                  WHERE a.df <= $AnchorMaxDf AND b.df <= $AnchorMaxDf),
         dot AS (SELECT c.doc_a, c.doc_b,
                        CAST(sum(CAST(round(round(a.w*b.w, 6) * 1e6)
                          AS BIGINT)) AS BIGINT) AS dp
                 FROM cand c
                 JOIN w a ON a.doc_id = c.doc_a
                 JOIN w b ON b.doc_id = c.doc_b AND b.sh = a.sh
                 GROUP BY 1, 2),
         sims AS (SELECT d.doc_a, d.doc_b,
                         round(CAST(d.dp AS DOUBLE) /
                           sqrt(CAST(sa.s2 AS DOUBLE) *
                                CAST(sb.s2 AS DOUBLE)), 4) AS sim
                  FROM dot d
                  JOIN ssq sa ON sa.doc_id = d.doc_a
                  JOIN ssq sb ON sb.doc_id = d.doc_b)
         SELECT doc_a, doc_b, sim FROM sims WHERE sim >= $CosTau""",
    "q32_minhash_sig" ->
      s"""$sigSql SELECT * FROM sig""",
    "q33_minhash_lsh_pairs" ->
      s"""$sigSql,
         $bandedCte,
         cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                         l.sig AS sig_a, r.sig AS sig_b
                  FROM capped l JOIN capped r
                    ON l.band = r.band AND l.key = r.key
                   AND l.doc_id < r.doc_id)
         SELECT doc_a, doc_b,
                round(len(list_filter(range(1, ${NumHashes + 1}),
                      i -> sig_a[i] = sig_b[i])) * 1.0 / $NumHashes, 4)
                  AS est_jaccard
         FROM cand""",
    // 5 × 12-bit pigeonhole banding (exact for Hamming ≤ 4), mirrored
    "q38_simhash_pairs" -> {
      s"""WITH sh AS ($simhashSql),
         banded AS (SELECT doc_id, simhash, b AS band,
                           (simhash >> CAST($SimhashBandBits * b AS INTEGER))
                             & ${(1L << SimhashBandBits) - 1} AS key
                    FROM sh, range(0, $SimhashBands) t(b))
         SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
         FROM banded a JOIN banded c
           ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
         WHERE bit_count(xor(a.simhash, c.simhash)) <= 4"""
    },
    "q34_simhash" -> s"SELECT * FROM ($simhashSql) AS simhash_t",
    // q31's CTE chain with the asymmetric denominator
    "q60_containment" ->
      s"""$sigSql,
         $bandedCte,
         cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
                  FROM capped l JOIN capped r
                    ON l.band = r.band AND l.key = r.key
                   AND l.doc_id < r.doc_id),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
                   FROM cand c
                   JOIN sh a ON a.doc_id = c.doc_a
                   JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                round(i * 1.0 / least(ca.n, cb.n), 4) AS containment
         FROM inter
         JOIN cnt ca ON ca.doc_id = doc_a
         JOIN cnt cb ON cb.doc_id = doc_b
         WHERE i * 1.0 / least(ca.n, cb.n) >= 0.5""",
    // one-shot clustering of the SAME slice the incremental path built
    // batch-by-batch: brute-force Hamming pairs (banding-free — exactness
    // argued above) + recursive-CTE transitive closure
    "q89_hamming_ingest_endstate" ->
      s"""WITH RECURSIVE sh AS (${simhashSqlWhere("doc_id < 600")}),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sh a JOIN sh b
                     ON a.doc_id < b.doc_id
                    AND bit_count(xor(a.simhash, b.simhash)) <= 4),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(node, lbl) AS (
           SELECT doc_id, doc_id FROM sh
           UNION
           SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
         clus AS (SELECT node AS doc_id, min(lbl) AS cluster_id
                  FROM reach GROUP BY node)
         SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_keeper
         FROM clus"""
  )

  /** Shared DuckDB SQL computing (doc_id, 60-bit simhash) for all docs. */
  private lazy val simhashSql: String = simhashSqlWhere("TRUE")

  private def simhashSqlWhere(pred: String): String = {
    val tokHash = "CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)"
    s"""WITH tk AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
                      FROM documents WHERE $pred),
         hs AS (SELECT doc_id, $tokHash AS h FROM tk),
         bits AS (SELECT doc_id,
           ${(0 until SimhashBits).map(j =>
        s"sum(CASE WHEN (h >> $j) % 2 = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(", ")}
           FROM hs GROUP BY doc_id)
         SELECT doc_id,
           CAST(${(0 until SimhashBits).map(j =>
        s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)").mkString(" + ")}
           AS BIGINT) AS simhash
         FROM bits"""
  }
}
