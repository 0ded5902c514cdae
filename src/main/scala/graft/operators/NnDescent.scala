package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.CosineSimilarity.cosineSim

/** Approximate k-NN GRAPH construction by NN-Descent (Dong, Moses & Li,
  * "Efficient k-nearest neighbor graph construction for generic
  * similarity measures", WWW 2011) — the graph-index tier the r10
  * verdict's stretch item names: the base layer every graph-ANN family
  * (HNSW/NSG/Vamana) searches is a k-NN graph, and NN-Descent is the
  * standard DISTRIBUTED way to build one (the paper's local join is
  * literally a self-join — MapReduce-shaped, so Spark-native).
  *
  * Shape per iteration (everything shuffle-bounded, no driver state):
  *  - adjacency = forward edges (exactly k per node) ∪ a REVERSE sample
  *    capped at k per node (the paper's ρ-sampling; uncapped reverse
  *    in-degree is the skew hazard — a hub pulled in by many nodes would
  *    otherwise make the local join Θ(in-deg²)) — so deg ≤ 2k;
  *  - local join: every pair meeting at a shared neighbor is a candidate
  *    — Σ_u deg(u)² ≤ 4k²n pairs, deduped before scoring;
  *  - score candidates with ONE cosine kernel pass (embeddings joined
  *    twice — the q35-proven [[cosineSim]]), union the standing graph,
  *    keep the k best per node on the bounded
  *    [[org.apache.spark.sql.graft.TopKByScore]] heap.
  * Total build cost Θ(iters · n · k²) comparisons — the n·log n-ish
  * budget of the graph-index literature, never all-pairs.
  *
  * Determinism (gate-grade, both engines): the init neighbors and the
  * reverse-sample order come from an LCG-style integer mix
  * (`pmod(id·1103515245 + it·12345, 2³¹−1)` — products < 2⁵², exact in
  * the LONG/BIGINT arithmetic of BOTH engines; no float, no library
  * hash), cosines are the proven kernel pair (CosineSimilarityExpr ≡
  * `list_cosine_similarity` on the same doubles), every rank ties to the
  * lower neighbor id, and each iteration's output is a pure function of
  * the previous — so the whole chain unrolls into DuckDB CTEs
  * (`SimilarityOps.nnDescentOracleSql`) exactly like the q97 PQ chain.
  */
object NnDescent {

  /** LCG multiplier/increment (Knuth/glibc constants) and a Mersenne
    * prime modulus: an integer mixing key both engines compute exactly. */
  private val MulA = 1103515245L
  private val AddC = 12345L
  private val Mod = 2147483647L

  private[graft] def mixKey(id: org.apache.spark.sql.Column, round: Int) =
    pmod(id * lit(MulA) + lit(round * AddC), lit(Mod))

  /** HNSW-style deterministic level assignment (Malkov & Yashunin 2016
    * §4 draws levels from a geometric distribution; here the draw is the
    * LCG key so BOTH engines compute it exactly): node id is on layer
    * ≥ ℓ iff mix(id, [[LevelRound]]) ≡ 0 (mod 4^ℓ) — p = 1/4 per level,
    * nested by construction (16 | k ⇒ 4 | k). */
  private[graft] val LevelRound = 7
  def levelGate(id: org.apache.spark.sql.Column, lvl: Int) =
    pmod(mixKey(id, LevelRound), lit(1L << (2 * lvl))) === 0

  /** (vec_id, nid, cos) for each candidate pair — one kernel pass. Pairs
    * whose nid doesn't exist in `e` drop at the join (tolerates sparse
    * id spaces; a node can then start with < k neighbors, which the
    * iterations repair). */
  private def score(pairs: DataFrame, e: DataFrame): DataFrame =
    pairs
      .join(e.select(col("vec_id"), col("embedding").as("ea")), "vec_id")
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("eb")),
        "nid")
      .select(col("vec_id"), col("nid"),
        cosineSim(col("ea"), col("eb")).as("cos"))

  /** Build the approximate k-NN graph: (vec_id, nid, cos), k rows per
    * node (fewer while the id space is sparse). Eager lifecycle builder —
    * each iteration localCheckpoints (the q47 iterative-chain recipe:
    * bounded lineage, `iters` cuts total). */
  /** Spark 4.1's Union constraint rewrite throws AttributeMap
    * key-not-found when a union child's inferred constraints reference
    * an attribute its projection pruned — the iterate-union-checkpoint
    * shape of both the build loop and the beam-search loop trips it.
    * Both loops are EAGER (every round localCheckpoints), so disabling
    * constraint propagation for their own planning is self-contained:
    * the returned frame is a checkpointed LogicalRDD, planned trivially
    * under normal settings. Constraint inference buys nothing in these
    * loops (explicit equi-joins on non-null ids). */
  private def withoutConstraintPropagation[A](
      s: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.constraintPropagation.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body
    finally prev.fold(s.conf.unset(key))(v => s.conf.set(key, v))
  }

  /** Size gate for the driver-local tier (the BpeTrainer/
    * ConnectedComponents `driverMax` contract): a corpus of ≤ this many
    * vectors runs the IDENTICAL algorithm in local Scala — the
    * distributed loop's `iters` eager-checkpoint rounds are pure
    * dispatch floor at slice scale (r12 verdict: 9 rounds ≈ 3.46 s on a
    * 600-vector gate slice), while past the gate the shuffle-bounded
    * loop takes over untouched. The probe doubles as the branch:
    * `take(max+1)` returning ≤ max rows proves the corpus fits. Local ≡
    * distributed is asserted by AnnRecallSpec (exact set equality,
    * bit-identical cosines — same kernel arithmetic, same LCG keys,
    * same (score desc, id asc) cuts). */
  val DriverMaxVectors: Long = 1024L

  def knnGraph(emb: DataFrame, k: Int, iters: Int,
      driverMax: Long = DriverMaxVectors): DataFrame = {
    val src = emb.select(col("vec_id"), col("embedding"))
    if (driverMax > 0) {
      val probe = src.take(graft.operators.DriverTier.probeLimit(driverMax))
      if (probe.length <= driverMax)
        return knnGraphLocal(emb.sparkSession, probe, k, iters)
    }
    withoutConstraintPropagation(emb.sparkSession) {
      knnGraphImpl(emb, k, iters)
    }
  }

  // ---- driver-local tier: the same chain in plain Scala ----

  /** [[CosineSimilarityExpr]]'s exact arithmetic (index-order double
    * accumulation over float-widened elements) — local ≡ distributed
    * requires bit-identical doubles, not approximate ones. */
  private[graft] def cosLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = a(i).toDouble; val yi = b(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  /** [[mixKey]] in Long arithmetic (pmod semantics). */
  private def mixLocal(id: Long, round: Int): Long = {
    val m = (id * MulA + round.toLong * AddC) % Mod
    if (m < 0) m + Mod else m
  }

  /** [[topK]]'s local twin: dedupe (node, neighbor) — duplicates carry
    * identical cosines — then the k best per node by (cos desc, nid
    * asc), the heap's exact order. */
  /** The heap's exact order: `java.lang.Double.compare` on score DESC
    * (so −0.0 < 0.0, same as TopKAggregate), lower id wins ties. */
  private[graft] def heapOrder(p: (Long, Double), q: (Long, Double)): Boolean = {
    val c = java.lang.Double.compare(p._2, q._2)
    if (c != 0) c > 0 else p._1 < q._1
  }

  private def topKLocal(pairs: Iterable[(Long, Long, Double)],
      k: Int): Map[Long, IndexedSeq[(Long, Double)]] =
    pairs.groupBy(_._1).map { case (v, ps) =>
      v -> ps.map(p => (p._2, p._3)).toSet.toIndexedSeq
        .sortWith(heapOrder).take(k)
    }

  /** The local build compresses ids to dense indices and runs over
    * primitive arrays — same chain, zero boxed collections on the hot
    * path (the first spelling spent more time in tuple Sets than in the
    * 2.4M cosine kernels at the 600-node gate slice). Candidate dedup is
    * one n² BitSet (128 KB at the 1024-vector gate cap), per-node top-k
    * is bounded insertion with the heap's exact (Double.compare desc,
    * id asc) order. AnnRecallSpec asserts bit-exact ≡ the distributed
    * loop. */
  private def knnGraphLocal(s: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row], k: Int,
      iters: Int): DataFrame = {
    import s.implicits._
    if (rows.isEmpty) return Seq.empty[(Long, Long, Double)]
      .toDF("vec_id", "nid", "cos")
    val nLoc = rows.length
    val ids = new Array[Long](nLoc)
    val vecs = new Array[Array[Float]](nLoc)
    var i = 0
    while (i < nLoc) {
      ids(i) = rows(i).getLong(0)
      vecs(i) = rows(i).getSeq[Float](1).toArray
      i += 1
    }
    val idx = new java.util.HashMap[java.lang.Long, Integer](nLoc * 2)
    i = 0; while (i < nLoc) { idx.put(ids(i), i); i += 1 }
    var maxId = Long.MinValue
    ids.foreach(v => if (v > maxId) maxId = v)
    val n = maxId + 1

    /** ≤ k best (cos, neighbor-idx) per node, ordered best-first by the
      * heap's exact (Double.compare desc, id asc); same neighbor always
      * re-offers the same cos, so a linear contains() is the dedupe. */
    final class BestK {
      val cs = new Array[Double](k); val js = new Array[Int](k)
      var len = 0
      private def better(c1: Double, j1: Int, c2: Double, j2: Int) = {
        val c = java.lang.Double.compare(c1, c2)
        if (c != 0) c > 0 else ids(j1) < ids(j2)
      }
      def offer(c: Double, j: Int): Unit = {
        var t = 0
        while (t < len) { if (js(t) == j) return; t += 1 }
        if (len == k && !better(c, j, cs(len - 1), js(len - 1))) return
        var p = if (len < k) len else k - 1
        while (p > 0 && better(c, j, cs(p - 1), js(p - 1))) {
          cs(p) = cs(p - 1); js(p) = js(p - 1); p -= 1
        }
        cs(p) = c; js(p) = j
        if (len < k) len += 1
      }
    }

    var cur = Array.fill(nLoc)(new BestK)
    i = 0
    while (i < nLoc) {
      val v = ids(i)
      var j = 0
      while (j < k) {
        val nid = mixLocal(v * k + j, 0) % n
        if (nid != v) {
          val t = idx.get(nid)
          if (t != null) cur(i).offer(cosLocal(vecs(i), vecs(t)), t)
        }
        j += 1
      }
      i += 1
    }
    val candBits = new java.util.BitSet(nLoc * nLoc)
    for (it <- 1 to iters) {
      // incoming edge lists of the standing graph
      val inSrcs = Array.fill(nLoc)(
        new scala.collection.mutable.ArrayBuffer[Int](k * 2))
      i = 0
      while (i < nLoc) {
        val bk = cur(i); var t = 0
        while (t < bk.len) { inSrcs(bk.js(t)) += i; t += 1 }
        i += 1
      }
      // genl adjacency: forward neighbors ∪ the capped reverse sample
      // ((LCG key, id) ascending — ≡ the heap on −key, payload asc)
      val adj = new Array[Array[Int]](nLoc)
      val seen = new java.util.BitSet(nLoc)
      i = 0
      while (i < nLoc) {
        seen.clear()
        val buf = new scala.collection.mutable.ArrayBuffer[Int](k * 2)
        val bk = cur(i); var t = 0
        while (t < bk.len) {
          if (!seen.get(bk.js(t))) { seen.set(bk.js(t)); buf += bk.js(t) }
          t += 1
        }
        inSrcs(i).sortBy(sj => (mixLocal(ids(sj), it), ids(sj))).take(k)
          .foreach(sj =>
            if (!seen.get(sj)) { seen.set(sj); buf += sj })
        adj(i) = buf.toArray
        i += 1
      }
      // local join: every ordered pair meeting at a shared neighbor
      candBits.clear()
      i = 0
      while (i < nLoc) {
        val a = adj(i); var x = 0
        while (x < a.length) {
          var y = 0
          while (y < a.length) {
            if (x != y) candBits.set(a(x) * nLoc + a(y))
            y += 1
          }
          x += 1
        }
        i += 1
      }
      // next graph = k best of (scored candidates ∪ standing edges)
      val next = Array.fill(nLoc)(new BestK)
      i = 0
      while (i < nLoc) {
        val base = i * nLoc
        var bit = candBits.nextSetBit(base)
        while (bit >= 0 && bit < base + nLoc) {
          next(i).offer(cosLocal(vecs(i), vecs(bit - base)), bit - base)
          bit = candBits.nextSetBit(bit + 1)
        }
        val bk = cur(i); var t = 0
        while (t < bk.len) { next(i).offer(bk.cs(t), bk.js(t)); t += 1 }
        i += 1
      }
      cur = next
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    i = 0
    while (i < nLoc) {
      val bk = cur(i); var t = 0
      while (t < bk.len) { out += ((ids(i), ids(bk.js(t)), bk.cs(t))); t += 1 }
      i += 1
    }
    out.toSeq.toDF("vec_id", "nid", "cos")
  }

  private def knnGraphImpl(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = false)
    // n rides in as a broadcast 1-row cross join (no eager driver job;
    // the JobCountSpec discipline) — init neighbor j of node v is
    // mix(v·k + j) mod n: k deterministic pseudo-random ids per node
    val nDf = e.agg((max(col("vec_id")) + 1).as("n"))
    val init = e.select(col("vec_id"))
      .crossJoin(broadcast(nDf))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(k - 1))).as("j"), col("n"))
      .select(col("vec_id"),
        pmod(mixKey(col("vec_id") * k + col("j"), 0), col("n")).as("nid"))
      .filter(col("nid") =!= col("vec_id"))
      .distinct()
    var b = topK(score(init, e), k).localCheckpoint(eager = true)
    for (it <- 1 to iters)
      b = refineOnce(b, e, k, it)
    b
  }

  /** One global NN-Descent refinement round over a standing graph:
    * reverse sample, symmetric local join, score, k-cut. Factored so the
    * sharded build's boundary STITCH ([[knnGraphSharded]]) runs the
    * identical round over its merged graph. */
  private def refineOnce(b: DataFrame, e: DataFrame, k: Int,
      it: Int): DataFrame = {
    val fwd = b.select(col("vec_id").as("src"), col("nid").as("dst"))
    // reverse sample: ≤ k incoming edges per node, LCG-key order with
    // ties to the lower source id (heap: score desc on −key, payload
    // asc) — mirrored as row_number ORDER BY key, vec_id in the oracle
    val rev = b.groupBy(col("nid").as("src"))
      .agg(org.apache.spark.sql.graft.TopKByScore.columnFor(
        -mixKey(col("vec_id"), it).cast("double"), col("vec_id"), k)
        .as("top"))
      .select(col("src"), explode(col("top")).as("e"))
      .select(col("src"), col("e.payload").as("dst"))
    val genl = fwd.unionByName(rev).distinct()
    // local join emitting BOTH directions directly (`<>`, not `<` plus
    // a swapped-column union: the swap select under a self-union trips
    // Catalyst's Union constraint rewrite — AttributeMap key-not-found
    // at planning; the symmetric join is also what the oracle spells)
    val cand = genl.as("a")
      .join(genl.as("b"), col("a.src") === col("b.src") &&
        col("a.dst") =!= col("b.dst"))
      .select(col("a.dst").as("vec_id"), col("b.dst").as("nid"))
      .distinct()
    topK(score(cand, e).unionByName(b), k)
      .localCheckpoint(eager = true)
  }

  /** Greedy BEAM SEARCH over a built k-NN graph — the serving tier the
    * graph exists for (HNSW/NSG-style navigation, spelled as bounded
    * breadth-first expansion so it stays declarative): start every query
    * at a fixed seed set, expand the current beam's adjacency each hop,
    * score candidates against the query vector, keep the best `beam`
    * per query, emit the top-`topk` after `hops` rounds. Per-QUERY cost
    * Θ(hops · beam · degree) — independent of corpus size; that is the
    * graph-search contract (brute force pays n·d per query). Exactly
    * `hops` bounded rounds of broadcast-join + heap — deterministic,
    * oracle-unrollable like the build chain.
    *
    * @param graph  (vec_id, nid, …) adjacency — [[knnGraph]] output
    * @param e      (vec_id, embedding) the vector store
    * @param queries (qid, qe) query vectors (small, broadcast) */
  def graphSearch(graph: DataFrame, e: DataFrame, queries: DataFrame,
      beam: Int, hops: Int, seeds: Int, topk: Int,
      driverMax: Long = DriverMaxVectors): DataFrame = {
    if (driverMax > 0) {
      val probe = e.select(col("vec_id"), col("embedding"))
        .take(graft.operators.DriverTier.probeLimit(driverMax))
      if (probe.length <= driverMax)
        return graphSearchLocal(e.sparkSession, graph, probe, queries,
          beam, hops, Left(seeds), topk)
    }
    withoutConstraintPropagation(e.sparkSession) {
      graphSearchImpl(graph, e, queries, beam, hops, Left(seeds), topk)
    }
  }

  /** [[graphSearch]] with EXPLICIT per-query entry points — the
    * layered-descent primitive (HNSW-style): an upper layer's result
    * frame seeds the next layer's beam instead of the fixed
    * lowest-id set. `seedPairs` is a small (qid, nid) frame (broadcast
    * on the distributed path, collected on the local one). */
  def graphSearchFrom(graph: DataFrame, e: DataFrame, queries: DataFrame,
      seedPairs: DataFrame, beam: Int, hops: Int, topk: Int,
      driverMax: Long = DriverMaxVectors): DataFrame = {
    val sp = seedPairs.select(col("qid"), col("nid"))
    if (driverMax > 0) {
      val probe = e.select(col("vec_id"), col("embedding"))
        .take(graft.operators.DriverTier.probeLimit(driverMax))
      if (probe.length <= driverMax)
        return graphSearchLocal(e.sparkSession, graph, probe, queries,
          beam, hops, Right(sp), topk)
    }
    withoutConstraintPropagation(e.sparkSession) {
      graphSearchImpl(graph, e, queries, beam, hops, Right(sp), topk)
    }
  }

  /** Driver-local beam search (vector store ≤ [[DriverMaxVectors]]: the
    * graph is ≤ n·k edges and the query set is small by the
    * [[graphSearch]] contract, so everything fits beside the store).
    * The distributed loop pays `hops` eager-checkpoint rounds of
    * dispatch floor at slice scale; this is the same chain in plain
    * Scala, bit-identical by the [[knnGraphLocal]] argument — only the
    * final round(…, 4) runs as a Spark expression so the rounding mode
    * is literally the same code path. */
  private def graphSearchLocal(s: org.apache.spark.sql.SparkSession,
      graph: DataFrame, eRows: Array[org.apache.spark.sql.Row],
      queries: DataFrame, beam: Int, hops: Int,
      entry: Either[Int, DataFrame], topk: Int): DataFrame = {
    import s.implicits._
    val embMap: Map[Long, Array[Float]] =
      eRows.iterator.map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    val adj: Map[Long, Iterable[Long]] = graph
      .select(col("vec_id"), col("nid")).collect()
      .groupBy(_.getLong(0)).map { case (v, rs) =>
        v -> rs.map(_.getLong(1)).toIndexedSeq }
    val qs: IndexedSeq[(Long, Array[Float])] = queries
      .select(col("qid"), col("qe")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toIndexedSeq
    val seedPairs: Iterable[(Long, Long)] = entry match {
      case Left(seeds) =>
        val seedIds = embMap.keySet.toIndexedSeq.sorted.take(seeds)
        for (q <- qs; sd <- seedIds) yield (q._1, sd)
      case Right(sp) =>
        sp.collect().map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
    }
    def topW(scored: Iterable[(Long, Long, Double)],
        w: Int): Map[Long, IndexedSeq[(Long, Double)]] =
      scored.groupBy(_._1).map { case (q, ps) =>
        q -> ps.map(p => (p._2, p._3)).toSet.toIndexedSeq
          .sortWith(heapOrder).take(w)
      }
    val qe = qs.toMap
    def scoreQ(pairs: Iterable[(Long, Long)]): Iterable[(Long, Long, Double)] =
      pairs.collect { case (q, nid)
          if embMap.contains(nid) && qe.contains(q) =>
        (q, nid, cosLocal(qe(q), embMap(nid)))
      }
    var bm = topW(scoreQ(seedPairs), beam)
    for (_ <- 1 to hops) {
      val expand = bm.iterator.flatMap { case (q, ns) =>
        ns.iterator.flatMap(p =>
          adj.getOrElse(p._1, Nil).map(c => (q, c)))
      }.toSet
      val standing = bm.iterator.flatMap { case (q, ns) =>
        ns.map(p => (q, p._1, p._2)) }.toIndexedSeq
      bm = topW(scoreQ(expand) ++ standing, beam)
    }
    val out = bm.iterator.flatMap { case (q, ns) =>
      ns.filter(_._1 != q).sortWith(heapOrder).take(topk)
        .zipWithIndex.map { case ((nid, cos), i) =>
          (q, nid, cos, (i + 1).toLong) }
    }.toIndexedSeq
    out.toDF("qid", "nid", "cos", "rnk")
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cosine"),
        col("rnk"))
  }

  private def graphSearchImpl(graph: DataFrame, e: DataFrame,
      queries: DataFrame, beam: Int, hops: Int,
      entry: Either[Int, DataFrame], topk: Int): DataFrame = {
    val q = queries.select(col("qid"), col("qe"))
    def scoreQ(pairs: DataFrame): DataFrame =
      pairs.join(broadcast(q), "qid")
        .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
          "nid")
        .select(col("qid"), col("nid"), cosineSim(col("qe"), col("ne"))
          .as("cos"))
    def topW(scored: DataFrame, w: Int): DataFrame =
      scored.groupBy("qid", "nid").agg(max(col("cos")).as("cos"))
        .groupBy("qid")
        .agg(org.apache.spark.sql.graft.TopKByScore.columnFor(
          col("cos"), col("nid"), w).as("top"))
        .select(col("qid"), explode(col("top")).as("e"))
        .select(col("qid"), col("e.payload").as("nid"),
          col("e.score").as("cos"))
    // entry points: the `seeds` lowest vector ids (fixed, per the q127
    // contract) or the caller's explicit (qid, nid) seed frame
    val seedPairs = entry match {
      case Left(seeds) =>
        val seedIds = e.select(col("vec_id").as("nid"))
          .orderBy("nid").limit(seeds)
        q.select(col("qid")).crossJoin(broadcast(seedIds))
      case Right(sp) => sp
    }
    var bm = topW(scoreQ(seedPairs), beam)
      .localCheckpoint(eager = true)
    for (_ <- 1 to hops) {
      val expand = bm.select(col("qid"), col("nid"))
        .join(graph.select(col("vec_id").as("nid"), col("nid").as("cand")),
          "nid")
        .select(col("qid"), col("cand").as("nid")).distinct()
      bm = topW(scoreQ(expand).unionByName(bm), beam)
        .localCheckpoint(eager = true)
    }
    bm.filter(col("nid") =!= col("qid"))
      .groupBy("qid")
      .agg(org.apache.spark.sql.graft.TopKByScore.columnFor(
        col("cos"), col("nid"), topk).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.payload").as("nid"),
        round(col("col.score"), 4).as("cosine"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Batch INSERTION into a standing k-NN graph — the graph tier's
    * ingest twin of the index family's append paths (postings:
    * `IndexOps.termIndexAppend`; IVF: `SimilarityOps.assignIncremental`;
    * MinHash: `DedupOps.lshPairsIncrementalAgainst`). HNSW-style: each
    * new vector beam-searches the STANDING graph for its k nearest
    * (never a batch × store brute pass), links forward to them, and the
    * back-links fold into the touched store nodes' adjacency, re-cut to
    * degree k on the same (cos desc, id asc) heap the build uses. Batch
    * cost Θ(|batch| · hops · beam · degree) search + one degree-bounded
    * merge — independent of store size, the per-ingest-batch unit an
    * always-on ANN deployment pays. New↔new edges are NOT formed
    * (insertion links against the standing corpus only; the next
    * build/refinement round picks those up — documented contract, same
    * as the HNSW insert's single-pass nature). Deterministic end-to-end
    * (LCG entry seeds, kernel cosines, heap order), so the whole ingest
    * unrolls into DuckDB CTEs like the build chain
    * (`SimilarityOps.graphIngestOracleSql`). */
  def insertBatch(graph: DataFrame, store: DataFrame, batch: DataFrame,
      k: Int, beam: Int, hops: Int, seeds: Int,
      driverMax: Long = DriverMaxVectors): DataFrame = {
    val qs = batch.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // DRIVER TIER (r18, the robustPrune/knnGraph gate): when store AND
    // batch fit under driverMax, the search already runs locally and the
    // merge tail (two joins + topK's two shuffles + the union) is pure
    // dispatch floor over ≤ (|store|+|batch|)·k rows — the whole ingest
    // folds to driver arithmetic (cosLocal kernel, topKLocal heap, both
    // pinned bit-exact by AnnRecallSpec). Past the gate the
    // shuffle-bounded spelling below runs untouched.
    if (driverMax > 0) {
      val sp = store.select(col("vec_id"), col("embedding"))
        .take(graft.operators.DriverTier.probeLimit(driverMax))
      if (sp.length <= driverMax) {
        val bp = batch.select(col("vec_id"), col("embedding"))
          .take(graft.operators.DriverTier.probeLimit(driverMax))
        if (bp.length <= driverMax)
          return insertBatchLocal(batch.sparkSession, graph, sp, bp,
            k, beam, hops, seeds)
      }
    }
    // neighbor SELECTION rides the search tier (its heap cuts on the
    // raw cosine); the merge below re-scores the selected pairs with the
    // kernel so the heap compares the same exact doubles the standing
    // graph carries (graphSearch's output rounds to 4dp for display)
    val found = graphSearch(graph, store, qs, beam, hops, seeds,
        topk = k, driverMax = driverMax)
      .select(col("qid"), col("nid"))
    val scored = found
      .join(qs, "qid")
      .join(store.select(col("vec_id").as("nid"),
        col("embedding").as("ne")), "nid")
      .select(col("qid"), col("nid"),
        cosineSim(col("qe"), col("ne")).as("cos"))
    val fwd = scored.select(col("qid").as("vec_id"), col("nid"), col("cos"))
    val rev = scored.select(col("nid").as("vec_id"),
      col("qid").as("nid"), col("cos"))
    topK(graph.select(col("vec_id"), col("nid"), col("cos"))
      .unionByName(rev), k)
      .unionByName(fwd)
  }

  /** [[insertBatch]]'s local twin: the same selection (graphSearchLocal
    * via the shared gate), the same kernel re-score (cosLocal), the same
    * (vec_id, nid)-dedupe + (cos desc, nid asc) degree cut (topKLocal).
    * graph ≤ |store|·k rows and found ≤ |batch|·k by contract, so
    * everything fits beside the two collected vector sets. */
  private def insertBatchLocal(s: org.apache.spark.sql.SparkSession,
      graph: DataFrame, storeRows: Array[org.apache.spark.sql.Row],
      batchRows: Array[org.apache.spark.sql.Row],
      k: Int, beam: Int, hops: Int, seeds: Int): DataFrame = {
    import s.implicits._
    val se: Map[Long, Array[Float]] = storeRows.iterator
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qe: Map[Long, Array[Float]] = batchRows.iterator
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qs = batchRows.iterator
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .toDF("qid", "qe")
    val found = graphSearchLocal(s, graph, storeRows, qs,
        beam, hops, Left(seeds), topk = k)
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // re-score the selected pairs with the kernel mirror — the heap must
    // compare the same exact doubles the standing graph carries
    val scored = found.map { case (q, nid) =>
      (q, nid, cosLocal(qe(q), se(nid))) }
    val graphRows = graph.select(col("vec_id"), col("nid"), col("cos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val rev = scored.map { case (q, nid, c) => (nid, q, c) }
    val merged = topKLocal(graphRows.iterator.concat(rev.iterator).toSeq, k)
      .iterator.flatMap { case (v, ns) =>
        ns.iterator.map { case (nid, c) => (v, nid, c) } }
    val out = (merged ++ scored.iterator).toIndexedSeq
    if (out.isEmpty) Seq.empty[(Long, Long, Double)]
      .toDF("vec_id", "nid", "cos")
    else out.toDF("vec_id", "nid", "cos")
  }

  /** SHARDED graph construction — the DiskANN build recipe (Subramanya
    * et al., NeurIPS'19 §4: partition the corpus into OVERLAPPING shards
    * by assigning every point to its `spill` nearest coarse centers,
    * build a graph per shard, merge by unioning each node's per-shard
    * edges and cutting to k) re-expressed as ONE Spark dataflow: the
    * shard id rides every build key (init ring, reverse sample, local
    * join, per-node heap), so all cells build CONCURRENTLY inside the
    * same shuffle-bounded jobs — no per-cell driver scheduling — and the
    * boundary stitching a disjoint partition would miss comes from the
    * spill overlap (a point near a cell boundary lives in BOTH cells'
    * graphs, so its cross-boundary true neighbors meet it in the shared
    * shard — exactly the paper's argument for ℓ=2 overlap).
    *
    * Why this is the 100 TB build and the global [[knnGraph]] loop is
    * not: the global local join shuffles Θ(n·k²) candidate pairs through
    * ONE corpus-wide key space per iteration, and its candidate quality
    * decays with n (a fixed iteration budget explores a vanishing
    * fraction of a growing space). Here every shuffle hash-partitions by
    * (cell, …): reducer working sets are bounded by the largest cell
    * (cells come from a bounded-sample Lloyd quantizer, so they track
    * the data distribution and can be split by re-quantizing a hot
    * cell), candidates never cross cells (the quantizer already says
    * they are far), and the adjacency lands ALREADY CLUSTERED BY CELL —
    * the q141 store layout, no re-clustering pass. Init is a
    * deterministic per-cell ring (ranks r+1…r+k mod cell size):
    * connected inside every shard by construction, one window — no
    * global id-modulus draw, which inside a shard would mostly name ids
    * OUTSIDE it. Recall parity with the global build is pinned by
    * AnnRecallSpec on both the uniform and planted-cluster fixtures;
    * the build-time column at 10/30/100× is ScaleStress's
    * `graphBuildStage`. */
  def knnGraphSharded(emb: DataFrame, k: Int, iters: Int,
      cents: Seq[Seq[Double]], spill: Int = 2, stitch: Int = 1): DataFrame =
    withoutConstraintPropagation(emb.sparkSession) {
      knnGraphShardedImpl(emb, k, iters, cents, spill, stitch)
    }

  private def knnGraphShardedImpl(emb: DataFrame, k: Int, iters: Int,
      cents: Seq[Seq[Double]], spill: Int, stitch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb.select(col("vec_id"), col("embedding"))
      .localCheckpoint(eager = false)
    val sp = math.min(spill, cents.size)
    // spill assignment: each vector joins its `spill` nearest cells —
    // one codegen'd NearestCells pass (a wide quantizer as a
    // sort-of-structs would fall out of codegen into per-cell HOFs)
    val assigned = e.select(col("vec_id"),
        explode(graft.plans.NearestCentroid
          .cells(col("embedding"), cents, sp)).as("cell"))
      .select(col("cell"), col("vec_id"))
      .localCheckpoint(eager = true)
    val wr = Window.partitionBy("cell").orderBy("vec_id")
    val wc = Window.partitionBy("cell")
    val ranked = assigned
      .withColumn("r", row_number().over(wr))
      .withColumn("nc", count(lit(1)).over(wc))
    val init = ranked
      .select(col("cell"), col("vec_id"), col("r"), col("nc"),
        explode(sequence(lit(1), lit(k))).as("off"))
      .select(col("cell"), col("vec_id"),
        (pmod(col("r") - lit(1) + col("off"), col("nc")) + lit(1)).as("nr"))
      .join(ranked.select(col("cell"), col("r").as("nr"),
        col("vec_id").as("nid")), Seq("cell", "nr"))
      .filter(col("nid") =!= col("vec_id"))
      .select(col("cell"), col("vec_id"), col("nid"))
      .distinct()
    // per-cell scoring/heap: the global helpers with `cell` riding along
    def scoreC(pairs: DataFrame): DataFrame =
      pairs
        .join(e.select(col("vec_id"), col("embedding").as("ea")), "vec_id")
        .join(e.select(col("vec_id").as("nid"),
          col("embedding").as("eb")), "nid")
        .select(col("cell"), col("vec_id"), col("nid"),
          cosineSim(col("ea"), col("eb")).as("cos"))
    def topKC(scored: DataFrame): DataFrame =
      scored.groupBy("cell", "vec_id", "nid").agg(max(col("cos")).as("cos"))
        .groupBy("cell", "vec_id")
        .agg(org.apache.spark.sql.graft.TopKByScore.columnFor(
          col("cos"), col("nid"), k).as("top"))
        .select(col("cell"), col("vec_id"), explode(col("top")).as("e"))
        .select(col("cell"), col("vec_id"), col("e.payload").as("nid"),
          col("e.score").as("cos"))
    var b = topKC(scoreC(init)).localCheckpoint(eager = true)
    for (it <- 1 to iters) {
      val fwd = b.select(col("cell"), col("vec_id").as("src"),
        col("nid").as("dst"))
      val rev = b.groupBy(col("cell"), col("nid").as("src"))
        .agg(org.apache.spark.sql.graft.TopKByScore.columnFor(
          -mixKey(col("vec_id"), it).cast("double"), col("vec_id"), k)
          .as("top"))
        .select(col("cell"), col("src"), explode(col("top")).as("e"))
        .select(col("cell"), col("src"), col("e.payload").as("dst"))
      val genl = fwd.unionByName(rev).distinct()
      val cand = genl.as("a")
        .join(genl.as("b"), col("a.cell") === col("b.cell") &&
          col("a.src") === col("b.src") && col("a.dst") =!= col("b.dst"))
        .select(col("a.cell").as("cell"), col("a.dst").as("vec_id"),
          col("b.dst").as("nid"))
        .distinct()
      b = topKC(scoreC(cand).unionByName(b))
        .localCheckpoint(eager = true)
    }
    // merge: union every node's per-shard edges, global k-cut …
    var g = topK(b.select(col("vec_id"), col("nid"), col("cos")), k)
      .localCheckpoint(eager = true)
    // … then the CROSS-CELL STITCH: `stitch` global refinement rounds
    // over the merged graph. The spill overlap seeds cross-boundary
    // edges; the local join propagates them (a boundary node's two
    // cells' neighborhoods meet in its adjacency), repairing the true
    // neighbors the per-cell restriction missed. This is the only
    // corpus-wide-keyed shuffle in the build, and it runs on an
    // already-good graph for `stitch` rounds — not `iters` rounds from
    // a random init like the global build.
    for (it <- 1 to stitch)
      g = refineOnce(g, e, k, iters + it)
    g
  }

  /** DiskANN/Vamana ROBUST PRUNE (Subramanya et al. NeurIPS'19 §4,
    * Algorithm 2 — the α-RNG edge selection): per node, greedily take
    * the closest remaining candidate, then discard every remaining
    * candidate the selection DOMINATES — c is dominated by selected s
    * when α·d(s, c) ≤ d(u, c) (here d = 1 − cosine) — and repeat until
    * `r` edges are chosen or candidates run out. α > 1 keeps the
    * longer-range "diverse" edges a plain k-cut throws away; those
    * shortcut edges are what hold beam-search recall at FIXED degree as
    * n grows (the paper's §4 argument, measured here by ScaleStress
    * `graph-build`'s alpha column: 0.400 vs 0.345 beam recall at
    * degree 8 and 100×, SCALE.md). α defaults to 1.25 — the paper's
    * ~1.2 regime, spelled as an exact binary quarter so both engines
    * compare identical doubles (the MmrLambda rule).
    *
    * Execution shape (r16 verdict item 1 — ONE partition-local pass,
    * not r distributed rounds): the candidate-pair cosines are ONE
    * kernel pass over Σ_u deg(u)² pairs (deg ≤ the merged per-shard
    * degree — the same Θ(n·k²) budget as one NN-Descent local join),
    * then the whole r-step greedy runs per node inside a typed flatMap
    * over the per-node candidate + pair-cosine lists (both bounded:
    * ≤ deg candidates, ≤ deg² pairs per node). The selection state is
    * strictly per-vec_id, so there is nothing for a shuffle round to
    * exchange — one groupBy co-locates each node's state and the greedy
    * finishes locally: 2 shuffles total instead of ~2r jobs, one
    * scheduler barrier on a real cluster instead of eight. Tie rule
    * inside the local scan is EXACTLY the old distributed argmax
    * (cos DESC via primitive double compare — Spark's
    * nanSafeCompareDoubles treats -0.0 == 0.0, as does `==` — then nid
    * ASC), so the selection is byte-identical to the unrolled rounds.
    * Deterministic by construction (kernel cosines ≡
    * list_cosine_similarity, strict tie rule, exact α), so the greedy
    * still unrolls into DuckDB CTEs — the q157 gate. */
  def robustPrune(cand: DataFrame, e: DataFrame, r: Int,
      alpha: Double = 1.25,
      driverMax: Long = DriverMaxVectors): DataFrame = {
    // DRIVER TIER (r18, the knnGraph/graphSearch gate): a corpus of
    // ≤ driverMax vectors bounds cand to n·deg rows and the pair set to
    // n·deg² — everything the greedy reads fits beside the store, and
    // the distributed spelling's 2 shuffles + 3 joins are pure dispatch
    // floor at slice scale. Local ≡ distributed is asserted by
    // GraphPruneSpec (same kernel cosines via cosLocal, same dedupe,
    // same pruneGreedy); past the gate the shuffle-bounded pass below
    // runs untouched.
    if (driverMax > 0) {
      val probe = e.select(col("vec_id"), col("embedding"))
        .take(graft.operators.DriverTier.probeLimit(driverMax))
      if (probe.length <= driverMax)
        return robustPruneLocal(e.sparkSession, cand, probe, r, alpha)
    }
    withoutConstraintPropagation(e.sparkSession) {
      robustPruneImpl(cand, e, r, alpha)
    }
  }

  private def robustPruneLocal(s: org.apache.spark.sql.SparkSession,
      cand: DataFrame, eRows: Array[org.apache.spark.sql.Row],
      r: Int, alpha: Double): DataFrame = {
    import s.implicits._
    val vec: Map[Long, Array[Float]] =
      eRows.iterator.map(row => row.getLong(0) ->
        row.getSeq[Float](1).toArray).toMap
    // dedupe by (vec_id, nid) with max(cos) — duplicates carry identical
    // cosines, so this mirrors the distributed spelling exactly
    val byNode = cand.select(col("vec_id"), col("nid"), col("cos"))
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))
      .groupBy(t => (t._1, t._2))
      .map { case ((u, nid), ts) => (u, nid, ts.iterator.map(_._3).max) }
      .groupBy(_._1)
    val out = Seq.newBuilder[PruneEdge]
    byNode.toSeq.sortBy(_._1).foreach { case (u, ts) =>
      val cands = ts.iterator.map(t => PruneCand(t._2, t._3)).toSeq
      // pair cosines only where BOTH endpoints are in e — the
      // distributed inner joins drop the others, and a missing pair
      // never dominates (pcos.get returns None in pruneGreedy)
      val pairs = for {
        a <- cands; b <- cands
        if a.nid != b.nid
        ea <- vec.get(a.nid).toSeq; eb <- vec.get(b.nid).toSeq
      } yield PrunePair(a.nid, b.nid, cosLocal(ea, eb))
      out ++= pruneGreedy(u, cands, pairs, r, alpha)
    }
    out.result().toDF()
  }

  /** Per-node greedy state rows for [[robustPrune]]'s local pass. */
  private[graft] case class PruneCand(nid: Long, cos: Double)
  private[graft] case class PrunePair(x: Long, y: Long, pcos: Double)
  private[graft] case class PruneEdge(
      vec_id: Long, nid: Long, cos: Double, rnk: Long)
  private[graft] case class PruneNode(
      vec_id: Long, cands: Seq[PruneCand], pairs: Seq[PrunePair])

  /** The DiskANN Algorithm-2 greedy over ONE node's bounded candidate
    * list — take the closest remaining (cos DESC, nid ASC — primitive
    * double compare ≡ Spark's nanSafeCompareDoubles on finite cosines,
    * -0.0 == 0.0 both ways), drop everything the selection dominates
    * (α·(1 − cos(s,c)) ≤ (1 − cos(u,c)) on the SAME kernel doubles the
    * distributed rounds compared), repeat ≤ r times. Pure function of
    * its inputs — byte-identical to the unrolled CTE oracle. */
  private[graft] def pruneGreedy(vecId: Long, cands: Seq[PruneCand],
      pairs: Seq[PrunePair], r: Int, alpha: Double): Seq[PruneEdge] = {
    val pcos = pairs.iterator.map(p => (p.x, p.y) -> p.pcos).toMap
    var rem = cands
    val out = Seq.newBuilder[PruneEdge]
    var round = 1L
    while (round <= r && rem.nonEmpty) {
      var best = rem.head
      for (c <- rem)
        if (c.cos > best.cos || (c.cos == best.cos && c.nid < best.nid))
          best = c
      out += PruneEdge(vecId, best.nid, best.cos, round)
      val s = best
      rem = rem.filter { c =>
        c.nid != s.nid && !pcos.get((s.nid, c.nid)).exists(p =>
          alpha * (1.0 - p) <= (1.0 - c.cos))
      }
      round += 1
    }
    out.result()
  }

  private def robustPruneImpl(cand: DataFrame, e: DataFrame, r: Int,
      alpha: Double): DataFrame = {
    val ss = cand.sparkSession
    import ss.implicits._
    // dedupe by (node, neighbor) first: merged per-shard candidate lists
    // can repeat an edge; duplicate candidates carry identical cosines,
    // so max() is exact (a no-op on an already-unique input like q157's)
    val c = cand.select(col("vec_id"), col("nid"), col("cos"))
      .groupBy("vec_id", "nid").agg(max(col("cos")).as("cos"))
      .localCheckpoint(eager = true)
    // candidate-pair cosines: cos(x, y) for every ordered pair of one
    // node's candidates — one kernel pass (the only corpus-sized work)
    val pc = c.as("a")
      .join(c.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.nid") =!= col("b.nid"))
      .select(col("a.vec_id").as("u"), col("a.nid").as("x"),
        col("b.nid").as("y"))
      .join(e.select(col("vec_id").as("x"), col("embedding").as("ex")), "x")
      .join(e.select(col("vec_id").as("y"), col("embedding").as("ey")), "y")
      .select(col("u"), col("x"), col("y"),
        cosineSim(col("ex"), col("ey")).as("pcos"))
    // co-locate each node's candidates + pair cosines (both ≤ deg / deg²
    // rows — bounded by contract), then the whole greedy runs locally
    val cands = c.groupBy("vec_id")
      .agg(collect_list(struct(col("nid"), col("cos"))).as("cands"))
    val pairs = pc.withColumnRenamed("u", "vec_id").groupBy("vec_id")
      .agg(collect_list(struct(col("x"), col("y"), col("pcos"))).as("pairs"))
    cands.join(pairs, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cands"),
        coalesce(col("pairs"),
          array().cast("array<struct<x:bigint,y:bigint,pcos:double>>"))
          .as("pairs"))
      .as[PruneNode]
      .flatMap(n => pruneGreedy(n.vec_id, n.cands, n.pairs, r, alpha))
      .toDF()
  }

  /** Dedupe by (node, neighbor) — duplicate candidates carry identical
    * cosines, max() is exact — then the k-bounded heap per node. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("vec_id", "nid").agg(max(col("cos")).as("cos"))
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.graft.TopKByScore.columnFor(
        col("cos"), col("nid"), k).as("top"))
      .select(col("vec_id"), explode(col("top")).as("e"))
      .select(col("vec_id"), col("e.payload").as("nid"),
        col("e.score").as("cos"))
}
