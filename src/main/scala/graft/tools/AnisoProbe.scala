package graft.tools

import org.apache.spark.sql.functions._

/** Measurement probe for ANISOTROPIC (score-aware) product quantization
  * (Guo et al. ICML'20, ScaNN): per-subspace codeword assignment that
  * weights the residual component PARALLEL to the datapoint by eta > 1
  * (parallel error biases inner-product estimates of HIGH-scoring pairs;
  * orthogonal error averages out), versus plain L2 assignment, at equal
  * geometry — both scored by inner-product ADC against exact MIPS top-5.
  *
  * Pure driver math over the probe corpora (bounded-sample training is
  * the production story anyway) — this probe decides whether the gated
  * operator's recall claim is pinnable on the repo's fixtures before the
  * operator exists.
  *
  * Usage: runMain graft.tools.AnisoProbe [dir] (default sf0.001)
  */
object AnisoProbe {
  private val Dim = 64
  private val M = 16
  private val SubDim = Dim / M
  private val K = 16
  private val Iters = 3

  private def sq(x: Double) = x * x

  /** Anisotropic loss of representing subvector x by codeword c:
    * ||r||^2 + (eta-1) * <r, x>^2 / ||x||^2, r = x - c. eta = 1 is plain
    * L2. */
  private def loss(x: Array[Double], c: Array[Double], eta: Double): Double = {
    var rr = 0.0; var rx = 0.0; var xx = 0.0
    var i = 0
    while (i < x.length) {
      val r = x(i) - c(i)
      rr += r * r; rx += r * x(i); xx += x(i) * x(i)
      i += 1
    }
    if (xx < 1e-12) rr else rr + (eta - 1.0) * rx * rx / xx
  }

  /** Lloyd with anisotropic assignment + mean update, per subspace;
    * seeds = k lowest-id subvectors (the pqCodebooks rule). */
  private def train(sub: Array[Array[Double]], eta: Double): Array[Array[Double]] = {
    var cents = sub.take(K).map(_.clone())
    for (_ <- 1 to Iters) {
      val assign = sub.map { x =>
        var best = 0; var bestL = Double.MaxValue
        for (c <- 0 until cents.length) {
          val l = loss(x, cents(c), eta)
          if (l < bestL) { bestL = l; best = c }
        }
        best
      }
      cents = (0 until K).map { c =>
        val members = sub.indices.filter(assign(_) == c)
        if (members.isEmpty) cents(c)
        else {
          val m = new Array[Double](SubDim)
          members.foreach(i => (0 until SubDim).foreach(d => m(d) += sub(i)(d)))
          (0 until SubDim).foreach(d =>
            m(d) = BigDecimal(m(d) / members.size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
          m
        }
      }.toArray
    }
    cents
  }

  /** Lloyd with anisotropic assignment + the CLOSED-FORM anisotropic
    * centroid update (Guo et al. Thm 4.2 specialization for constant
    * eta): minimizing sum_i ||x_i - c||^2 + (eta-1) <x_i - c, x̂_i>^2
    * over c gives  [n I + (eta-1) Σ x̂ x̂ᵀ] c = eta Σ x_i. A is SubDim ×
    * SubDim (= 4x4) — solved by Cramer after 6-dp rounding of A and b
    * (so both engines solve IDENTICAL inputs; c rounded 6dp too). */
  private def train2(sub: Array[Array[Double]], eta: Double): Array[Array[Double]] = {
    var cents = sub.take(K).map(_.clone())
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (_ <- 1 to Iters) {
      val assign = sub.map { x =>
        var best = 0; var bestL = Double.MaxValue
        for (c <- 0 until cents.length) {
          val l = loss(x, cents(c), eta)
          if (l < bestL) { bestL = l; best = c }
        }
        best
      }
      cents = (0 until K).map { c =>
        val members = sub.indices.filter(assign(_) == c)
        if (members.isEmpty) cents(c)
        else {
          val n = members.size
          val a = Array.ofDim[Double](SubDim, SubDim)
          val b = new Array[Double](SubDim)
          members.foreach { i =>
            val x = sub(i)
            val xx = x.map(sq).sum
            val inv = if (xx < 1e-12) 0.0 else 1.0 / xx
            for (d <- 0 until SubDim) {
              b(d) += eta * x(d)
              for (e <- 0 until SubDim)
                a(d)(e) += (eta - 1.0) * x(d) * x(e) * inv
            }
          }
          for (d <- 0 until SubDim) {
            a(d)(d) += n
            b(d) = r6(b(d))
            for (e <- 0 until SubDim) a(d)(e) = r6(a(d)(e))
          }
          solve4(a, b).map(r6)
        }
      }.toArray
    }
    cents
  }

  /** Gaussian elimination for the small SPD system (probe-side; the
    * operator will mirror with Cramer in SQL — same inputs, same answer
    * to 6dp). */
  private def solve4(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    for (p <- 0 until n) {
      var mx = p
      for (r <- p + 1 until n) if (math.abs(a(r)(p)) > math.abs(a(mx)(p))) mx = r
      val t = a(p); a(p) = a(mx); a(mx) = t
      val tb = b(p); b(p) = b(mx); b(mx) = tb
      for (r <- p + 1 until n) {
        val f = a(r)(p) / a(p)(p)
        for (cc <- p until n) a(r)(cc) -= f * a(p)(cc)
        b(r) -= f * b(p)
      }
    }
    val x = new Array[Double](n)
    for (p <- n - 1 to 0 by -1) {
      var s = b(p)
      for (cc <- p + 1 until n) s -= a(p)(cc) * x(cc)
      x(p) = s / a(p)(p)
    }
    x
  }

  private def encode(sub: Array[Array[Double]], cents: Array[Array[Double]],
      eta: Double): Array[Int] =
    sub.map { x =>
      var best = 0; var bestL = Double.MaxValue
      for (c <- 0 until cents.length) {
        val l = loss(x, cents(c), eta)
        if (l < bestL) { bestL = l; best = c }
      }
      best
    }

  // ---- PER-DATAPOINT-NORM weighting (r14 verdict item 3): Guo et al.'s
  // full form derives the parallel weight from each point's own norm —
  // eta(x) = (d−1)·T²/(‖x‖²−T²) for a fixed score threshold T (the
  // constant flavor is this with ‖x‖ replaced by one corpus-level norm).
  // Points with small norms (rarely top MIPS scorers above T) get MORE
  // parallel weight under this form; the cap guards ‖x‖ → T. ----

  private val EtaCap = 64.0

  private def etaForNorm(norm2: Double, t2: Double): Double = {
    val raw = if (norm2 <= t2 * (1.0 + 1e-9)) EtaCap
              else (Dim - 1) * t2 / (norm2 - t2)
    math.max(1.0, math.min(EtaCap, raw))
  }

  /** T² such that mean_x eta(x) hits `target` — bisection, so the
    * per-norm flavor is compared at the SAME average parallel budget as
    * the constant-eta gate (a fair fight, not a bigger hammer). */
  private def calibrateT2(norm2s: Array[Double], target: Double): Double = {
    def meanEta(t2: Double) = norm2s.map(etaForNorm(_, t2)).sum / norm2s.length
    var lo = 0.0
    var hi = norm2s.max
    for (_ <- 0 until 80) {
      val mid = (lo + hi) / 2
      if (meanEta(mid) < target) lo = mid else hi = mid
    }
    (lo + hi) / 2
  }

  private def lossPN(x: Array[Double], c: Array[Double], etaX: Double) =
    loss(x, c, etaX)

  /** [[train2]] with per-member eta: A += (eta_i−1)·x̂x̂ᵀ, b += eta_i·x. */
  private def train2PerNorm(sub: Array[Array[Double]],
      etas: Array[Double]): Array[Array[Double]] = {
    var cents = sub.take(K).map(_.clone())
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (_ <- 1 to Iters) {
      val assign = sub.indices.map { i =>
        var best = 0; var bestL = Double.MaxValue
        for (c <- 0 until cents.length) {
          val l = lossPN(sub(i), cents(c), etas(i))
          if (l < bestL) { bestL = l; best = c }
        }
        best
      }
      cents = (0 until K).map { c =>
        val members = sub.indices.filter(assign(_) == c)
        if (members.isEmpty) cents(c)
        else {
          val n = members.size
          val a = Array.ofDim[Double](SubDim, SubDim)
          val b = new Array[Double](SubDim)
          members.foreach { i =>
            val x = sub(i)
            val xx = x.map(sq).sum
            val inv = if (xx < 1e-12) 0.0 else 1.0 / xx
            for (d <- 0 until SubDim) {
              b(d) += etas(i) * x(d)
              for (e <- 0 until SubDim)
                a(d)(e) += (etas(i) - 1.0) * x(d) * x(e) * inv
            }
          }
          for (d <- 0 until SubDim) {
            a(d)(d) += n
            b(d) = r6(b(d))
            for (e <- 0 until SubDim) a(d)(e) = r6(a(d)(e))
          }
          solve4(a, b).map(r6)
        }
      }.toArray
    }
    cents
  }

  private def encodePerNorm(sub: Array[Array[Double]],
      cents: Array[Array[Double]], etas: Array[Double]): Array[Int] =
    sub.indices.map { i =>
      var best = 0; var bestL = Double.MaxValue
      for (c <- 0 until cents.length) {
        val l = lossPN(sub(i), cents(c), etas(i))
        if (l < bestL) { bestL = l; best = c }
      }
      best
    }.toArray

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local(8)

    def runOn(tag: String, vecs: Map[Long, Array[Double]]): Unit = {
      val ids = vecs.keys.toArray.sorted
      // subvectors per (m): ordered by id so seeds match pqCodebooks
      val subs: Array[Array[Array[Double]]] = (0 until M).map { m =>
        ids.map(id => vecs(id).slice(m * SubDim, m * SubDim + SubDim))
      }.toArray
      val probes = ids.filter(_ < 10)
      // exact MIPS truth
      val truth = probes.map { q =>
        val qv = vecs(q)
        q -> ids.filter(_ != q).map { id =>
          (id, vecs(id).zip(qv).map { case (a, b) => a * b }.sum)
        }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
      }.toMap
      // ONE scoring body for both training flavors — the eta comparison
      // the gate constant was picked from must never run under two
      // divergent scoring rules
      def recallWith(trainer: (Array[Array[Double]], Double) => Array[Array[Double]])
          (eta: Double): Double = {
        val cents = (0 until M).map(m => trainer(subs(m), eta)).toArray
        val codes = (0 until M).map(m => encode(subs(m), cents(m), eta)).toArray
        val rec = probes.map { q =>
          val qv = vecs(q)
          // IP ADC: score = sum_m <q_m, cent_{m, code}>
          val luts = (0 until M).map { m =>
            val qm = qv.slice(m * SubDim, m * SubDim + SubDim)
            cents(m).map(c => c.zip(qm).map { case (a, b) => a * b }.sum)
          }
          val scored = ids.indices.flatMap { i =>
            val id = ids(i)
            if (id == q) None
            else Some((id, (0 until M).map(m => luts(m)(codes(m)(i))).sum))
          }
          val got = scored.sortBy { case (id, s) => (-s, id) }
            .take(5).map(_._1).toSet
          got.intersect(truth(q)).size / 5.0
        }
        rec.sum / rec.length
      }
      val recallFor = recallWith(train) _
      val recallFor2 = recallWith(train2) _
      val plain = recallFor(1.0)
      val results = Seq(2.0, 4.0, 8.0).map(e => e -> recallFor(e))
      val results2 = Seq(1.0, 2.0, 4.0, 8.0).map(e => e -> recallFor2(e))
      // per-norm flavor at the same MEAN parallel budget as each
      // constant eta (T calibrated by bisection on the corpus norms)
      val norm2s = ids.map(id => vecs(id).map(sq).sum)
      def recallPerNorm(meanEta: Double): Double = {
        val t2 = calibrateT2(norm2s, meanEta)
        val etas = norm2s.map(etaForNorm(_, t2))
        val cents = (0 until M).map(m => train2PerNorm(subs(m), etas)).toArray
        val codes = (0 until M).map(m =>
          encodePerNorm(subs(m), cents(m), etas)).toArray
        val rec = probes.map { q =>
          val qv = vecs(q)
          val luts = (0 until M).map { m =>
            val qm = qv.slice(m * SubDim, m * SubDim + SubDim)
            cents(m).map(c => c.zip(qm).map { case (a, b) => a * b }.sum)
          }
          val scored = ids.indices.flatMap { i =>
            val id = ids(i)
            if (id == q) None
            else Some((id, (0 until M).map(m => luts(m)(codes(m)(i))).sum))
          }
          val got = scored.sortBy { case (id, s) => (-s, id) }
            .take(5).map(_._1).toSet
          got.intersect(truth(q)).size / 5.0
        }
        rec.sum / rec.length
      }
      val resultsPN = Seq(2.0, 4.0, 8.0).map(e => e -> recallPerNorm(e))
      println(f"[$tag] MIPS recall@5 — plain(L2) $plain%.3f, " +
        results.map { case (e, r) => f"assignOnly eta=$e%.0f $r%.3f" }.mkString(", ") + "; " +
        results2.map { case (e, r) => f"full eta=$e%.0f $r%.3f" }.mkString(", ") + "; " +
        resultsPN.map { case (e, r) => f"perNorm mean-eta=$e%.0f $r%.3f" }.mkString(", "))
    }

    // uniform corpus (first 500 vectors of the sf dir)
    val uni = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 500)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    runOn("uniform", uni)

    // planted clusters (the AnnRecallSpec recipe: 8 Gaussian clusters,
    // center scale 20 >> sigma 0.5, float-cast)
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(8, Dim)(rnd.nextGaussian() * 20.0)
    val clust = (0 until 500).map { i =>
      val c = i % 8
      i.toLong -> Array.tabulate(Dim)(d =>
        (centers(c)(d) + rnd.nextGaussian() * 0.5).toFloat.toDouble)
    }.toMap
    runOn("clustered", clust)

    spark.stop()
  }
}
