package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Random-projection-tree FOREST for ANN candidate generation (Dasgupta
  * & Freund, "Random projection trees and low dimensional manifolds",
  * STOC 2008, mean-split flavor, with Annoy-style margin SPILL at query
  * time — the partition-tree family's rung of the ANN ladder).
  *
  * Why it earns a row next to LSH (q37) and IVF (q39): hyperplane LSH
  * buckets are DATA-INDEPENDENT — a dense region lands thousands of
  * vectors in one bucket while sparse ones sit empty (the q36/q37 skew
  * the tuned geometries cap by force). An RP-tree split is data-DEPENDENT:
  * each node splits at the per-node mean of the projections, so every
  * level roughly halves its population wherever the data actually is, and
  * leaf sizes concentrate near n/2^depth without any cap knob or Lloyd
  * training loop. Depth is the log-n lever: each extra level is ONE more
  * shuffle-bounded pass and halves every leaf, so a production build
  * deepens the trees as the corpus grows while per-level cost stays flat.
  *
  * Distributed shape per level (the whole point — NO windows, the q128
  * df lesson): project every (tree, vector) onto the level's per-node
  * hyperplane with one fused `zip_with`/`aggregate` array expression
  * (rows = n·T, never exploded), then the split threshold is a
  * `groupBy(tree, node).agg(sum, count)` — map-side partial aggregation,
  * hot nodes collapse per-partition — broadcast-joined back (≤ T·2^l
  * rows). A vector goes left iff proj ≤ floor(mean).
  *
  * Query-time SPILL (Annoy's boundary fix, the recall lever near-uniform
  * data needs): a probe descends to its near child always and ALSO to the
  * far child wherever |proj − thr| ≤ margin — neighbors separated by a
  * knife-edge split are exactly the ones a single-path descent loses.
  * Routing touches ONLY broadcast metadata (the T·(2^depth − 1)-row
  * threshold table and the coefficient arrays) — per-probe cost is
  * Θ(frontier · dim) independent of n, and the corpus-side work stays
  * the leaf scan of the reached leaves.
  *
  * Determinism (gate-grade, both engines): hyperplane coefficients are
  * an LCG mix of the (tree, level, node, dim) key folded into one
  * integer — pure BIGINT arithmetic; projections are micro-unit LONG
  * dot products (|mv| ≤ 577 366 · |h| ≤ 1000 · 64 dims < 3.7e10 — exact
  * LONG, and the per-node SUM stays double-exact (< 2^53) to ~240k rows
  * per node at this magnitude, so floor(sum/cnt) is bit-identical in
  * both engines; past that a production build would widen to decimal
  * sums, same plan shape). The whole build + spill descent unrolls into
  * DuckDB CTEs (`SimilarityOps.rpForestOracleSql`) like the q97 PQ chain.
  *
  * Reference scope: the reference has no ANN at all — this extends the
  * LLM-pipeline operator suite (assignment §"similarity search").
  */
object RpForest {

  /** LCG round salt for the hyperplane coefficient stream. */
  private val HpRound = 11

  /** Coefficient in [-1000, 1000]: LCG mix of the folded key, mod 2001,
    * recentred. Pure positive-operand integer arithmetic (max folded key
    * ~4.5e6 × 1103515245 < 2^63), so `pmod` ≡ `%` in both engines. */
  private[graft] def hCoef(t: Int, l: Int, node: Int, d: Int): Long = {
    val key = ((t.toLong * 131 + l) * 257 + node) * 67 + d
    val mixed = (key * 1103515245L + HpRound * 12345L) % 2147483647L
    mixed % 2001L - 1000L
  }

  /** (t, node, harr) for one level — T·2^level rows, driver-generated
    * (pure integer mix, T·2^depth·dim longs of bounded metadata — the
    * centroid-artifact tier) and broadcast into the assignment join. */
  private def levelCoefs(s: SparkSession, trees: Int, level: Int,
      dim: Int): DataFrame = {
    import s.implicits._
    val rows = for {
      t <- 0 until trees
      node <- 0 until (1 << level)
    } yield (t, node, (0 until dim).map(d => hCoef(t, level, node, d)))
    rows.toDF("t", "node", "harr")
  }

  /** Micro-unit LONG vector: round(x·1e6) per element — the exact
    * arithmetic every cross-engine sum in this repo rides on. */
  private def microVec(c: Column): Column =
    transform(c, x => round(x.cast("double") * lit(1e6)).cast("long"))

  private def fusedDot(mv: Column, harr: Column): Column =
    aggregate(zip_with(mv, harr, (a, b) => a * b), lit(0L), (acc, v) => acc + v)

  private def treeIds(s: SparkSession, trees: Int): DataFrame =
    s.range(trees).select(col("id").cast("int").as("t"))

  /** Build the forest: returns (leaves, thresholds) where leaves =
    * (t, vec_id, node) with node ∈ [0, 2^depth) and thresholds =
    * (t, l, node, thr) — the broadcast-sized routing metadata a serving
    * tier persists beside the leaf-partitioned corpus. `e` must carry
    * (vec_id, embedding).
    *
    * Eager lifecycle builder (the NnDescent recipe): each level
    * localCheckpoints, so level l's work is ONE narrow pass over level
    * l−1's materialization instead of re-deriving the whole prefix chain
    * for every downstream consumer (the threshold broadcast, the probe
    * route, and the candidate join would otherwise each replay the full
    * build — O(depth²) corpus passes, measured 5.4 s warm vs ~1.5 s
    * checkpointed at sf0.1). Thresholds are collected to the driver —
    * T·(2^depth − 1) rows of bounded metadata, the centroid-artifact
    * tier — so the per-level split join is a literal broadcast. */
  /** Size gate for the driver-local tier (the NnDescent/BpeTrainer
    * `driverMax` contract): a corpus of ≤ this many vectors builds the
    * IDENTICAL forest in local Scala — the distributed build's per-level
    * checkpoint + threshold-collect rounds are pure dispatch floor at
    * slice scale (measured: 32 jobs / 2.95 s on the 6k-vector sf0.1
    * bench corpus), while past the gate the shuffle-bounded level loop
    * takes over untouched. `take(max+1)` doubles as the branch probe.
    * Local ≡ distributed is asserted by AnnRecallSpec (exact leaf /
    * threshold / route equality — same micro-unit HALF_UP rounding, same
    * LCG coefficients, same floor(sum/cnt) in the same double
    * arithmetic). */
  val DriverMaxVectors: Long = 8192L

  /** Spark `round(x·1e6)`'s exact local twin: HALF_UP on the decimal
    * string value (scala BigDecimal(double) = valueOf = shortest-repr),
    * NOT `math.round` (which rounds −2.5 to −2 where Spark gives −3). */
  private def microLocal(x: Float): Long =
    scala.math.BigDecimal(x.toDouble * 1e6)
      .setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong

  private def buildLocal(s: SparkSession,
      rows: Array[org.apache.spark.sql.Row], trees: Int, depth: Int,
      dim: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val n = rows.length
    val ids = rows.map(_.getLong(0))
    val mvs = rows.map(_.getSeq[Float](1).toArray.map(microLocal))
    val thrOut = Seq.newBuilder[(Int, Int, Int, Long)]
    val leafOut = Seq.newBuilder[(Int, Long, Int)]
    var t = 0
    while (t < trees) {
      val node = new Array[Int](n)
      var l = 0
      while (l < depth) {
        // coefficient table for this (tree, level): 2^l × dim longs
        val coefs = Array.tabulate(1 << l, dim)((nd, d) => hCoef(t, l, nd, d))
        val projs = new Array[Long](n)
        val sums = new Array[Long](1 << l)
        val cnts = new Array[Long](1 << l)
        var i = 0
        while (i < n) {
          val h = coefs(node(i))
          val mv = mvs(i)
          var dot = 0L
          var d = 0
          val lim = math.min(mv.length, dim)
          while (d < lim) { dot += mv(d) * h(d); d += 1 }
          projs(i) = dot
          sums(node(i)) += dot
          cnts(node(i)) += 1
          i += 1
        }
        // floor(sum.cast(double) / count) — Spark's exact spelling
        val thr = Array.tabulate(1 << l) { nd =>
          if (cnts(nd) == 0) 0L
          else math.floor(sums(nd).toDouble / cnts(nd)).toLong
        }
        var nd = 0
        while (nd < (1 << l)) {
          if (cnts(nd) > 0) thrOut += ((t, l, nd, thr(nd)))
          nd += 1
        }
        i = 0
        while (i < n) {
          node(i) = node(i) * 2 + (if (projs(i) <= thr(node(i))) 0 else 1)
          i += 1
        }
        l += 1
      }
      var i = 0
      while (i < n) { leafOut += ((t, ids(i), node(i))); i += 1 }
      t += 1
    }
    (leafOut.result().toDF("t", "vec_id", "node"),
      thrOut.result().toDF("t", "l", "node", "thr"))
  }

  def build(s: SparkSession, e: DataFrame, trees: Int, depth: Int,
      dim: Int, driverMax: Long = DriverMaxVectors)
      : (DataFrame, DataFrame) = {
    if (driverMax > 0) {
      val probe = e.select(col("vec_id"), col("embedding"))
        .take(graft.operators.DriverTier.probeLimit(driverMax))
      if (probe.length <= driverMax)
        return buildLocal(s, probe, trees, depth, dim)
    }
    buildImpl(s, e, trees, depth, dim)
  }

  private def buildImpl(s: SparkSession, e: DataFrame, trees: Int,
      depth: Int, dim: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val base = e.select(col("vec_id"), microVec(col("embedding")).as("mv"))
      .crossJoin(treeIds(s, trees))
      .withColumn("node", lit(0))
    val (leaves, thrs) = (0 until depth)
      .foldLeft((base, List.empty[Seq[(Int, Int, Int, Long)]])) {
        case ((assign, acc), l) =>
          val proj = assign
            .join(broadcast(levelCoefs(s, trees, l, dim)), Seq("t", "node"))
            .withColumn("proj", fusedDot(col("mv"), col("harr")))
            .drop("harr")
            .localCheckpoint()
          val thrRows = proj.groupBy("t", "node")
            .agg(floor(sum(col("proj")).cast("double") / count(lit(1)))
              .cast("long").as("thr"))
            .collect()
            .map(r => (r.getInt(0), l, r.getInt(1), r.getLong(2))).toSeq
          val thrDf = thrRows.map { case (t, _, node, thr) => (t, node, thr) }
            .toDF("t", "node", "thr")
          val next = proj.join(broadcast(thrDf), Seq("t", "node"))
            .withColumn("node",
              col("node") * 2 +
                when(col("proj") <= col("thr"), 0).otherwise(1))
            .drop("proj", "thr")
          (next, thrRows :: acc)
      }
    (leaves.select(col("t"), col("vec_id"), col("node")),
      thrs.reverse.flatten.toDF("t", "l", "node", "thr"))
  }

  /** Spill descent for the probe set: (qid, t, node) — every leaf a
    * probe reaches. Near child always; far child too wherever the
    * projection sits within `margin` of the split. Only broadcast
    * metadata is touched (coefficients + thresholds); frontier rows
    * ≤ probes · T · 2^spills. Probes that ARE corpus members compute
    * the identical projection arithmetic as the build, so the near
    * path reproduces their build assignment exactly. */
  def probeRoute(s: SparkSession, probes: DataFrame, thresholds: DataFrame,
      trees: Int, depth: Int, dim: Int, margin: Long,
      driverMax: Long = DriverMaxVectors): DataFrame = {
    if (driverMax > 0) {
      val p = probes.select(col("vec_id"), col("embedding"))
        .take(graft.operators.DriverTier.probeLimit(driverMax))
      if (p.length <= driverMax) {
        // thresholds are T·(2^depth − 1) rows of bounded routing metadata
        // by the build contract — collecting them IS the serving tier's
        // artifact load, not a corpus read
        val thr = thresholds.select(col("t"), col("l"), col("node"),
            col("thr")).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
          .toMap
        return probeRouteLocal(s, p, thr, trees, depth, dim, margin)
      }
    }
    probeRouteImpl(s, probes, thresholds, trees, depth, dim, margin)
  }

  private def probeRouteLocal(s: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      thr: Map[(Int, Int, Int), Long], trees: Int, depth: Int, dim: Int,
      margin: Long): DataFrame = {
    import s.implicits._
    val out = Seq.newBuilder[(Long, Int, Int)]
    rows.foreach { r =>
      val qid = r.getLong(0)
      val mv = r.getSeq[Float](1).toArray.map(microLocal)
      var t = 0
      while (t < trees) {
        var frontier = List(0)
        var l = 0
        while (l < depth) {
          frontier = frontier.flatMap { nd =>
            thr.get((t, l, nd)) match {
              case None => Nil // empty node: no rows reached it at build
              case Some(cut) =>
                var dot = 0L
                var d = 0
                val lim = math.min(mv.length, dim)
                while (d < lim) { dot += mv(d) * hCoef(t, l, nd, d); d += 1 }
                val near = nd * 2 + (if (dot <= cut) 0 else 1)
                if (math.abs(dot - cut) <= margin)
                  List(near, nd * 2 + (if (dot <= cut) 1 else 0))
                else List(near)
            }
          }
          l += 1
        }
        frontier.foreach(nd => out += ((qid, t, nd)))
        t += 1
      }
    }
    out.result().toDF("qid", "t", "node")
  }

  private def probeRouteImpl(s: SparkSession, probes: DataFrame,
      thresholds: DataFrame, trees: Int, depth: Int, dim: Int,
      margin: Long): DataFrame = {
    val base = probes
      .select(col("vec_id").as("qid"), microVec(col("embedding")).as("mv"))
      .crossJoin(treeIds(s, trees))
      .withColumn("node", lit(0))
    (0 until depth).foldLeft(base) { (frontier, l) =>
      val scored = frontier
        .join(broadcast(levelCoefs(s, trees, l, dim)), Seq("t", "node"))
        .withColumn("proj", fusedDot(col("mv"), col("harr")))
        .join(broadcast(thresholds.filter(col("l") === l).drop("l")),
          Seq("t", "node"))
      val near = scored.withColumn("node",
        col("node") * 2 + when(col("proj") <= col("thr"), 0).otherwise(1))
      val far = scored.filter(abs(col("proj") - col("thr")) <= margin)
        .withColumn("node",
          col("node") * 2 + when(col("proj") <= col("thr"), 1).otherwise(0))
      near.unionByName(far).select("qid", "t", "node", "mv")
    }.select(col("qid"), col("t"), col("node"))
  }

  /** Incremental INGEST twin (the `lshPairsIncremental` /
    * `assignIncremental` contract applied to the forest): route a batch
    * of NEW vectors down the FROZEN threshold metadata — near child only
    * (the build rule `proj ≤ thr`, no query-time spill) — to their leaf
    * assignments. Per-batch cost is Θ(|batch| · T · depth · dim) touching
    * ONLY broadcast metadata, never the stored corpus: the per-level
    * loop joins the batch frontier against the T·2^l coefficient rows
    * and the bounded threshold table. A batch vector reaching a node
    * that was EMPTY at build time (no threshold row — no corpus vector
    * ever descended there) descends LEFT by convention: the whole
    * subtree is empty, so any rule is candidate-equivalent; fixing one
    * keeps the route engine-portable for the q140 oracle.
    *
    * Equivalence (proved in AnnRecallSpec): assignment is per-row under
    * a frozen threshold table, so store ⊎ insertBatch(batch) ≡ one-pass
    * routing of corpus ∪ batch, batches compose (b1 ⊎ b2 in one call ≡
    * two calls), and re-inserting the BUILD corpus reproduces the build
    * leaves exactly (same micro-unit projections, same floor thresholds).
    * Like the IVF twin, the structure is data-dependent — a DRIFTED
    * batch degrades leaf balance rather than correctness; measure with
    * [[maxLeafShare]] and rebuild past the policy threshold. */
  def insertBatch(s: SparkSession, batch: DataFrame, thresholds: DataFrame,
      trees: Int, depth: Int, dim: Int,
      driverMax: Long = DriverMaxVectors): DataFrame = {
    if (driverMax > 0) {
      val p = batch.select(col("vec_id"), col("embedding"))
        .take(graft.operators.DriverTier.probeLimit(driverMax))
      if (p.length <= driverMax) {
        val thr = thresholds.select(col("t"), col("l"), col("node"),
            col("thr")).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
          .toMap
        return insertLocal(s, p, thr, trees, depth, dim)
      }
    }
    insertImpl(s, batch, thresholds, trees, depth, dim)
  }

  private def insertLocal(s: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      thr: Map[(Int, Int, Int), Long], trees: Int, depth: Int,
      dim: Int): DataFrame = {
    import s.implicits._
    val out = Seq.newBuilder[(Int, Long, Int)]
    rows.foreach { r =>
      val vid = r.getLong(0)
      val mv = r.getSeq[Float](1).toArray.map(microLocal)
      var t = 0
      while (t < trees) {
        var nd = 0
        var l = 0
        while (l < depth) {
          nd = thr.get((t, l, nd)) match {
            case None => nd * 2 // empty subtree: descend left
            case Some(cut) =>
              var dot = 0L
              var d = 0
              val lim = math.min(mv.length, dim)
              while (d < lim) { dot += mv(d) * hCoef(t, l, nd, d); d += 1 }
              nd * 2 + (if (dot <= cut) 0 else 1)
          }
          l += 1
        }
        out += ((t, vid, nd))
        t += 1
      }
    }
    out.result().toDF("t", "vec_id", "node")
  }

  private def insertImpl(s: SparkSession, batch: DataFrame,
      thresholds: DataFrame, trees: Int, depth: Int, dim: Int): DataFrame = {
    val base = batch
      .select(col("vec_id"), microVec(col("embedding")).as("mv"))
      .crossJoin(treeIds(s, trees))
      .withColumn("node", lit(0))
    (0 until depth).foldLeft(base) { (assign, l) =>
      assign
        .join(broadcast(levelCoefs(s, trees, l, dim)), Seq("t", "node"))
        .withColumn("proj", fusedDot(col("mv"), col("harr")))
        // LEFT join: an empty node has no threshold row — descend left
        .join(broadcast(thresholds.filter(col("l") === l).drop("l")),
          Seq("t", "node"), "left")
        .withColumn("node", col("node") * 2 +
          when(col("thr").isNull || col("proj") <= col("thr"), 0)
            .otherwise(1))
        .select(col("t"), col("vec_id"), col("node"), col("mv"))
    }.select(col("t"), col("vec_id"), col("node"))
  }

  /** Leaf-balance drift of a routed batch: the largest share of the
    * batch any single (t, node) leaf received, across trees. RP-trees'
    * operating property is leaf populations near |batch|/2^depth — an
    * in-distribution batch stays near that; a drifted batch concentrates
    * (the analogue of the IVF twin's meanCellDist ratio). Policy:
    * rebuild when this exceeds driftFactor/2^depth. */
  def maxLeafShare(routed: DataFrame): Double = {
    val agg = routed.groupBy("t", "node").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("tot"))
      .head()
    val perTree = routed.select(col("t")).distinct().count()
    if (agg.isNullAt(0) || agg.getLong(1) == 0L) 0.0
    else agg.getLong(0).toDouble * perTree / agg.getLong(1)
  }

  /** Candidate pairs: (qid, cid) distinct over corpus vectors in any
    * leaf any tree of the probe's spill frontier reached. Output is
    * keyed for the exact re-score pass (the q123 rerank discipline:
    * approximate structures only ever CUT candidates, emitted scores
    * are exact). */
  def forestCandidates(leaves: DataFrame, probeLeaves: DataFrame)
      : DataFrame =
    leaves.select(col("t"), col("node"), col("vec_id").as("cid"))
      .join(probeLeaves, Seq("t", "node"))
      .filter(col("cid") =!= col("qid"))
      .select("qid", "cid").distinct()
}
