package graft

import org.scalatest.funsuite.AnyFunSuite

/** Recall of the approximate similarity paths against brute-force ground
  * truth — the quality property the oracle replay can't express (the
  * oracles confirm both engines compute the SAME approximation; this spec
  * confirms the approximation is a GOOD one on real data). */
class AnnRecallSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  /** top-5 neighbor sets per probe from a (qid, cid, cosine, rnk) result. */
  private def top5(name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  test("IVF top-5 recall vs brute force >= 60% on the probe set") {
    val brute = top5("q35_ann_brute")
    val ivf = top5("q39_ann_ivf")
    val recalls = brute.map { case (q, truth) =>
      ivf.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // single-cell probing (nprobe=1) on 8 cells: high recall expected on
    // clustered data; the floor guards against a broken quantizer, the
    // exact value is data-dependent
    assert(mean >= 0.6, f"mean IVF recall $mean%.2f")
  }

  test("IVF-PQ + exact re-rank: top-5 recall vs brute force >= 90% on the probe set") {
    // the production-shape gate (r9 verdict item 8): ADC alone measures
    // 0.34–0.42 recall@5 (sf0.001/sf0.01, COVERAGE.md); nprobe=6 + exact
    // re-rank of the ADC top-64 must lift the floor to >= 0.9 (measured
    // 0.96 at both SFs — nprobe=4 sat knife-edge at exactly 0.900)
    val brute = top5("q35_ann_brute")
    val rr = top5("q123_ann_ivfpq_rerank")
    val recalls = brute.map { case (q, truth) =>
      rr.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, f"mean re-ranked IVF-PQ recall $mean%.2f")
  }

  test("filtered ANN: recall vs label-filtered brute force >= 60%; labels all match") {
    import org.apache.spark.sql.functions._
    import graft.plans.CosineSimilarity.cosineSim
    val e = graft.sources.Tables(spark, dir, "embeddings")
    val labels = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // label-filtered brute-force ground truth (same kernel, same probes)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label"))
    val brute = e.select(col("vec_id").as("cid"),
        col("embedding").as("ce"), col("label"))
      .join(org.apache.spark.sql.functions.broadcast(q),
        Seq("label"))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        cosineSim(col("qe"), col("ce")).as("cos"))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) =>
        qid -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .take(5).map(_.getLong(1)).toSet
      }
    val got = top5("q134_ann_filtered")
    // every returned candidate must share the probe's label (the filter
    // is a CONTRACT, not a preference)
    got.foreach { case (qid, cids) =>
      cids.foreach(c => assert(labels(c) == labels(qid),
        s"q134 returned cid $c (label ${labels(c)}) for qid $qid " +
          s"(label ${labels(qid)})"))
    }
    val recalls = brute.map { case (qid, truth) =>
      got.getOrElse(qid, Set.empty).intersect(truth).size.toDouble /
        math.max(truth.size, 1)
    }
    val mean = recalls.sum / recalls.size
    // nprobe=3 of 8 cells with the label thinning each cell ~8x: the
    // floor guards a broken probe path, measured value is data-dependent
    info(f"measured filtered-ANN mean recall@5: $mean%.3f")
    assert(mean >= 0.6, f"mean filtered-ANN recall $mean%.2f")
  }

  test("hard negatives: none is a near-duplicate; top picks match filtered brute force >= 60%") {
    import org.apache.spark.sql.functions._
    import graft.plans.CosineSimilarity.cosineSim
    val e = graft.sources.Tables(spark, dir, "embeddings")
    val rows = SparkEntry.queries("q135_hard_negatives")(spark, dir).collect()
    // contract: every emitted cosine is strictly below the q36 near-dup
    // threshold — a hard negative that is secretly a positive poisons a
    // contrastive loss
    rows.foreach(r => assert(r.getDouble(2) < 0.3 + 5e-5,
      s"q135 emitted a near-duplicate pair: $r"))
    val got = rows.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val brute = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        cosineSim(col("qe"), col("ce")).as("cos"))
      .filter(col("cos") < 0.3)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rs) =>
        qid -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .take(8).map(_.getLong(1)).toSet
      }
    val recalls = brute.map { case (qid, truth) =>
      got.getOrElse(qid, Set.empty).intersect(truth).size.toDouble /
        math.max(truth.size, 1)
    }
    val mean = recalls.sum / recalls.size
    info(f"measured hard-negative mean recall@8: $mean%.3f")
    assert(mean >= 0.6, f"mean hard-negative recall $mean%.2f")
  }

  test("IVF-PQ: ADC output is exactly reproducible from codes + codebooks") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    // re-derive every emitted adc_dist driver-side from the raw vectors
    // and the trained codebooks: proves the encode → LUT → lookup-join
    // plumbing computes sum_m ||q_sub_m - codebook_m[code_m(x)]||² and
    // nothing else (the oracle proves cross-engine agreement; this proves
    // the Spark plan against the DEFINITION)
    val pq = SimilarityOps.pqCodebooks(spark, dir,
      SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
    val sub = SimilarityOps.PqSub
    val vecs = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
      .toMap
    def sq(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    def code(v: IndexedSeq[Double], m: Int): Int =
      pq(m).zipWithIndex.minBy { case (c, i) =>
        (sq(v.slice(m * sub, m * sub + sub), c), i) }._2
    val out = SparkEntry.queries("q97_ann_ivfpq")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, cid, adc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val q = vecs(qid)
      val expected = (0 until SimilarityOps.PqM).map { m =>
        sq(q.slice(m * sub, m * sub + sub), pq(m)(code(vecs(cid), m)))
      }.reduceLeft(_ + _)
      assert(math.abs(expected - adc) < 5e-5,
        f"qid=$qid cid=$cid adc=$adc%.4f expected=$expected%.4f")
    }
  }

  test("driver-side LUT/cell-rank mirrors equal the retired Column spelling bit-for-bit (r18)") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    // r18 moved the per-probe ADC LUTs, IP LUTs and nprobe cell ranking
    // from PqM×PqK literal expression trees to driver arithmetic
    // (sqL2Local/dotLocal/pqLutLocal/ipLutLocal/nearestCellsLocal). The
    // oracle proves end-to-end agreement; this pins the mirroring claim
    // itself: every value the retired Column spelling evaluates must equal
    // driver mirror to the BIT (doubleToLongBits), on the real probes.
    // It also covers the store serve's retired spelling: adcProbeServe
    // (q137/q144/q150) built the same sqL2 literal-tree LUT and
    // array_sort(struct(d, cell)) ranking at nprobe 2, and the first 2 of
    // the nprobe-6 cells checked here are exactly that serve's cells.
    val coarse = SimilarityOps.lloydCentroids(spark, dir, 8, 3)
    val pq = SimilarityOps.pqCodebooks(spark, dir,
      SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val probes = SimilarityOps.collectProbes(e)
    assert(probes.nonEmpty)
    val m = SimilarityOps.PqM
    val subN = SimilarityOps.PqSub
    val k = coarse.length
    val nprobe = 6
    // the RETIRED Column spellings, verbatim
    def sqL2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), _ + _)
    def dotLit(a: Column, cent: Seq[Double]): Column =
      aggregate(zip_with(a, array(cent.map(lit): _*),
        (x, y) => x.cast("double") * y), lit(0.0), _ + _)
    val rows = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .select(col("qid"),
        array((0 until m).map { mm =>
          array(pq(mm).indices.map { c =>
            sqL2(slice(col("qe"), mm * subN + 1, subN),
              array(pq(mm)(c).map(lit): _*))
          }: _*)
        }: _*).as("lut"),
        array((0 until m).map { mm =>
          array(pq(mm).indices.map { c =>
            dotLit(slice(col("qe"), mm * subN + 1, subN), pq(mm)(c))
          }: _*)
        }: _*).as("iplut"),
        transform(slice(array_sort(array((0 until k).map(c =>
          struct(sqL2(col("qe"), array(coarse(c).map(lit): _*)).as("d"),
            lit(c).as("cell"))): _*)), 1, nprobe),
          s => s.getField("cell")).as("cells"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)
    probes.foreach { case (qid, qe) =>
      val r = rows(qid)
      val wantLut = r.getSeq[scala.collection.Seq[Double]](1)
      val wantIp = r.getSeq[scala.collection.Seq[Double]](2)
      val wantCells = r.getSeq[Int](3)
      val gotLut = SimilarityOps.pqLutLocal(qe, pq)
      val gotIp = SimilarityOps.ipLutLocal(qe, pq)
      val gotCells = SimilarityOps.nearestCellsLocal(qe, coarse, nprobe)
      assert(gotCells == wantCells.toSeq, s"cells diverged for qid=$qid")
      (0 until m).foreach { mm =>
        pq(mm).indices.foreach { c =>
          assert(bits(gotLut(mm)(c)) == bits(wantLut(mm)(c)),
            s"lut[$mm][$c] diverged for qid=$qid")
          assert(bits(gotIp(mm)(c)) == bits(wantIp(mm)(c)),
            s"iplut[$mm][$c] diverged for qid=$qid")
        }
      }
    }
  }

  test("q136 by_residual IVF-PQ: ADC exactly reproducible from residual codes + codebooks") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    // the by_residual DEFINITION, re-derived driver-side: every emitted
    // adc_dist must equal Σ_m ||(q − cent(probed cell))_sub_m −
    // codebook_m[code_m(x − cent(cell(x)))]||² — proves the residual
    // transform, the src-override training, and the per-(probe, cell)
    // LUT plumbing compute by_residual and nothing else. (On this
    // isotropic corpus residual ≈ raw recall — 0.38 vs 0.34/0.42 at
    // sf0.01/sf0.001; by_residual's recall win needs clustered data, so
    // the DEVICE is the test, with a floor guarding a broken chain.)
    val slice = SimilarityOps.IvfPqGateSlice
    val res = SimilarityOps.residualCorpus(spark, dir, slice)
    val pq = SimilarityOps.pqCodebooks(spark, dir,
      SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters,
      maxVec = slice,
      src = Some(res.select(col("vec_id"), col("embedding"))),
      srcTag = "resid")
    val sub = SimilarityOps.PqSub
    val resVecs = res.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toIndexedSeq))).toMap
    val coarse = SimilarityOps.lloydCentroids(spark, dir, 8, 3, slice)
    val raw = graft.sources.Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < slice)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toIndexedSeq).toMap
    def sq(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    def code(v: IndexedSeq[Double], m: Int): Int =
      pq(m).zipWithIndex.minBy { case (c, i) =>
        (sq(v.slice(m * sub, m * sub + sub), c), i) }._2
    // per-probe nprobe=2 nearest cells by squared L2 on the RAW vector
    def probeCells(q: IndexedSeq[Float]): Seq[Int] = {
      val qd = q.map(_.toDouble)
      coarse.zipWithIndex.map { case (c, i) => (sq(qd, c), i) }
        .sortBy(identity).take(2).map(_._2)
    }
    def qres(q: IndexedSeq[Float], cell: Int): IndexedSeq[Double] =
      q.zip(coarse(cell)).map { case (x, c) =>
        (x.toDouble - c).toFloat.toDouble }.toIndexedSeq
    val out = SparkEntry.queries("q136_ann_ivfpq_residual")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qid, cid, adc) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val (ccell, cres) = resVecs(cid)
      // the emitted pair's ADC must match under the candidate's OWN cell
      // (candidates join the LUT on their assignment cell)
      assert(probeCells(raw(qid)).contains(ccell),
        s"cid $cid in cell $ccell not among qid $qid's probed cells")
      val qr = qres(raw(qid), ccell)
      val expected = (0 until SimilarityOps.PqM).map { m =>
        sq(qr.slice(m * sub, m * sub + sub), pq(m)(code(cres, m)))
      }.reduceLeft(_ + _)
      assert(math.abs(expected - adc) < 5e-5,
        f"qid=$qid cid=$cid adc=$adc%.4f expected=$expected%.4f")
    }
    // recall floor vs brute force (guards a broken chain, not a win claim)
    val brute = top5("q35_ann_brute")
    val got = top5("q136_ann_ivfpq_residual")
    val recalls = brute.map { case (q, truth) =>
      got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    info(f"measured by_residual ADC recall@5: $mean%.3f")
    assert(mean >= 0.25, f"by_residual ADC recall $mean%.2f")
  }

  test("q137 sharded ANN store: serve-through-files ≡ q97, scan partition-pruned to probed cells") {
    import org.apache.spark.sql.functions._
    // the store moves bytes, not answers: the full (qid, cid, adc, rnk)
    // relation must round-trip the cell-partitioned store EXACTLY
    def rows(name: String) = SparkEntry.queries(name)(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // partition pruning is self-verified INSIDE the operator (it requires
    // the cell partition filter on the serve scan before executing — the
    // returned frame is a post-store checkpoint, so the scan isn't
    // visible out here); equality across the store round-trip is the
    // out-of-engine half
    assert(rows("q137_ann_sharded_store") == rows("q97_ann_ivfpq"),
      "store round-trip must not change the ADC top-5")
  }

  test("q144 streaming vector-store ingest: end state batch-boundary invariant; replay idempotent") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // the gate's two-batch ingest vs ONE batch vs THREE batches — same
    // frozen artifacts, so the served end state must be IDENTICAL through
    // the real streaming machinery (assignment/encoding are per-row; the
    // store is a union of batch dirs)
    val twoBatch = rows(SimilarityOps.vectorStoreIngestServe(spark, dir))
    val oneBatch = rows(SimilarityOps.vectorStoreIngestServe(spark, dir,
      cuts = Some(Seq.empty)))
    val threeBatch = rows(SimilarityOps.vectorStoreIngestServe(spark, dir,
      cuts = Some(Seq(430L, 470L))))
    assert(twoBatch.nonEmpty, "end-state serve returned no rows")
    assert(twoBatch == oneBatch && twoBatch == threeBatch,
      "micro-batch boundaries must not change the served end state")
    // replay idempotence: foreachBatch is at-least-once — re-running a
    // micro-batch must REPLACE its own store rows, not duplicate them
    val base = java.nio.file.Files.createTempDirectory("q144_replay").toString
    try {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 50)
      val coarse = SimilarityOps.lloydCentroids(spark, dir, 8, 3, 50L)
      val pq = SimilarityOps.pqCodebooks(spark, dir, SimilarityOps.PqM,
        SimilarityOps.PqK, SimilarityOps.PqIters, maxVec = 50L)
      def storeRows(): Seq[String] = spark.read.parquet(s"$base/store")
        .collect().map(_.toString).sorted.toSeq
      graft.streaming.VectorStoreIngest.ingestBatch(
        e, 0L, s"$base/store", coarse, pq)
      val once = storeRows()
      graft.streaming.VectorStoreIngest.ingestBatch(
        e, 0L, s"$base/store", coarse, pq)
      assert(storeRows() == once,
        "replaying a micro-batch must leave the store unchanged")
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(base))
    }
  }

  test("q163 RaBitQ: recall-vs-bytes across the quantization tiers (r16 verdict item 8)") {
    val brute = top5("q35_ann_brute")
    def recall(got: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    // the three quantization tiers, recall@5 vs fp brute force, next to
    // the bytes each tier SCANS per candidate (the cost that matters
    // when candidate scanning is bandwidth-bound at corpus scale):
    //   raw float   256 B/vec (q35 — truth)
    //   SQ8 int8     64 B/vec (q105 — direct int8 top-5, no rerank)
    //   RaBitQ 1-bit  8 B/vec codes + 8 B norm/sdot scalars (q163 —
    //                estimator top-32 + exact rerank of 32 raw rows)
    val sq8 = recall(top5("q105_ann_int8"))
    val rbq = recall(top5("q163_ann_rabitq"))
    info(f"recall@5 vs brute — SQ8@64B $sq8%.3f, RaBitQ@8B+rerank $rbq%.3f")
    // measured 0.980 vs 0.860: int8 is near-lossless per scored byte×8,
    // the binary tier gives up 0.12 recall for an 8× cheaper candidate
    // scan — the bytes-per-recall trade this tier exists for, recorded
    // honestly (the paper's random rotation, omitted here for oracle
    // determinism, is what closes most of that gap on real deployments).
    // Floors guard a broken chain, not the level: the estimator must
    // stay far above the R/n funnel ratio (32/2000 ≈ 0.016 — a random
    // cut), and SQ8 must stay near-exact.
    assert(rbq >= 0.7, f"RaBitQ stack recall $rbq%.3f below floor")
    assert(sq8 >= 0.9, f"SQ8 recall $sq8%.3f below floor")
  }

  test("q147 matryoshka: full-dim rerank recovers what the truncated stage loses") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    val brute = top5("q35_ann_brute")
    val mrl = top5("q147_ann_matryoshka")
    def recall(got: Map[Long, Set[Long]]): Double = {
      val rs = brute.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
      rs.sum / rs.size
    }
    // the truncated stage ALONE (top-5 on the first 16 dims — what a
    // no-rerank deployment would serve): on the synthetic corpus the
    // prefix is an arbitrary coordinate projection, the honest floor for
    // non-MRL-trained embeddings
    val truncOnly = {
      val e = graft.sources.Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 10)
      val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val got = c.join(broadcast(q), col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          graft.plans.CosineSimilarity.cosineSim(
            slice(col("qe"), 1, SimilarityOps.MrlDims),
            slice(col("ce"), 1, SimilarityOps.MrlDims)).as("cosd"))
        .groupBy("qid")
        .agg(org.apache.spark.sql.graft.TopKByScore
          .columnFor(col("cosd"), col("cid"), 5).as("top"))
        .select(col("qid"), posexplode(col("top")))
        .select(col("qid"), col("col.payload").as("cid"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (qq, rs) => qq -> rs.map(_._2).toSet }
      recall(got)
    }
    val stacked = recall(mrl)
    info(f"recall@5 vs full-dim brute — 16-dim top-5 alone $truncOnly%.3f, 16-dim top-${SimilarityOps.MrlRerankR} + full rerank $stacked%.3f")
    // the uniform corpus is the HONEST FLOOR: its dim prefix is an
    // arbitrary coordinate projection (nothing is front-loaded), so the
    // funnel ratio R/n governs — the rerank quadruples the truncated
    // recall (measured 0.14 → 0.58 at R=64), and MUST never lose any
    assert(stacked >= truncOnly,
      f"rerank must not lose recall ($stacked%.3f vs $truncOnly%.3f)")
    assert(stacked >= 0.4, f"matryoshka stack recall $stacked%.3f below floor")
  }

  test("clustered fixture: matryoshka stack is near-exact where the prefix is informative") {
    import graft.queries.SimilarityOps
    val (dirC, _) = clustered
    val truth = truthTop5(cosine, largerIsCloser = true)
    val got = top5On(dirC, "q147_ann_matryoshka")
    val r = meanRecall(got, truth)
    info(f"clustered matryoshka stack recall@5: $r%.3f")
    // planted clusters separate in EVERY dim, so the 16-dim prefix
    // already routes to the right cluster and the full-dim rerank
    // finishes the job — the regime MRL-trained embeddings produce by
    // construction (information front-loaded into the prefix)
    assert(r >= 0.9, f"clustered matryoshka recall $r%.3f")
  }

  test("q148 MMR: lambda=1 degenerates to relevance top-k; low lambda diversifies across planted clusters") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    // λ=1: the greedy argmax with exclusion IS relevance top-k — must
    // equal the plain cosine top-8 to the query, rank for rank
    val pure = SimilarityOps.mmrSelect(spark, dir, lambda = 1.0)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0).collect()(0)
      .getSeq[Float](1).map(x => lit(x.toDouble))
    val want = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), graft.plans.CosineSimilarity
        .cosineSim(col("embedding"), array(qv: _*)).as("rel"))
      .orderBy(desc("rel"), asc("vec_id")).limit(SimilarityOps.MmrK)
      .collect().map(_.getLong(0)).toSeq
    assert(pure.map(_._2).toSeq === want,
      "lambda=1 MMR must equal relevance top-k in pick order")
    // diversity where it shows: planted clusters (cluster = vec_id % 8,
    // query = vec 0 ∈ cluster 0). Pure relevance stays in the query's
    // own cluster; MMR at the gate lambda (0.25) must spread wide.
    val (dirC, _) = clustered
    def clustersOf(lambda: Double): Seq[Long] =
      SimilarityOps.mmrSelect(spark, dirC, lambda = lambda)
        .collect().map(_.getLong(1) % 8).toSeq
    val pureC = clustersOf(1.0)
    val divC = clustersOf(SimilarityOps.MmrLambda)
    info(s"clusters hit — lambda=1: ${pureC.distinct.size} ${pureC.mkString(",")}; " +
      s"lambda=${SimilarityOps.MmrLambda}: ${divC.distinct.size} ${divC.mkString(",")}")
    assert(pureC.distinct.size === 1,
      s"pure relevance should stay in the query's cluster, hit ${pureC.distinct}")
    assert(divC.distinct.size >= 6,
      s"MMR at the gate lambda should cover most planted clusters, hit ${divC.distinct.size}")
  }

  test("fused PQ codebook training equals independent per-subspace Lloyd") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    graft.queries.ArtifactCache.clearAll()
    val (m, k, iters) =
      (SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
    val sub = SimilarityOps.PqSub
    // at this corpus size the bounded-training stride is 1 (full corpus)
    val fused = SimilarityOps.pqCodebooks(spark, dir, m, k, iters)
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // one Lloyd run per subspace over the sliced frame — the naive
    // M × (1 + iters)-scan spelling the fused loop replaces
    val independent = (0 until m).map(i => SimilarityOps.lloydFromSeeds(
      e.select(col("vec_id"),
        slice(col("embedding"), i * sub + 1, sub).as("embedding")), k, iters))
    assert(fused.size === m)
    fused.zip(independent).zipWithIndex.foreach { case ((f, ind), i) =>
      assert(f.size === k && ind.size === k)
      f.zip(ind).zipWithIndex.foreach { case ((fc, ic), c) =>
        fc.zip(ic).foreach { case (a, b) =>
          // means are 6dp-rounded in both spellings; sum order differs, so
          // allow one rounding step at the half boundary
          assert(math.abs(a - b) <= 2e-6, s"sub $i cell $c: $a vs $b")
        }
      }
    }
  }

  test("PQ index lifecycle: batch encode under cached artifacts equals full re-encode") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    import org.apache.spark.sql.graft.PqExpr
    graft.queries.ArtifactCache.clearAll()
    // the deployment shape: codebooks + coarse quantizer are persisted
    // artifacts trained once on the standing corpus; a NEW batch is
    // encoded against them with per-batch cost (the PQ twin of
    // assignIncremental / lshPairsIncremental). Because encoding is a
    // pure per-row function of the artifacts, the incrementally-encoded
    // index must equal a full re-encode row-for-row.
    val (m, k, iters) =
      (SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters)
    val coarse = SimilarityOps.lloydCentroids(spark, dir, 8, 3)
    val pq = SimilarityOps.pqCodebooks(spark, dir, m, k, iters)
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    def index(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      graft.plans.NearestCentroid.cell(col("embedding"), coarse).as("cell"),
      PqExpr.encode(col("embedding"), pq).as("codes"))
    // batch drawn from the corpus distribution, re-keyed as new ids
    val batch = e.filter(col("vec_id") >= 300)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    val incremental = index(e).unionByName(index(batch))
    val full = index(e.unionByName(batch))
    assert(incremental.exceptAll(full).isEmpty && full.exceptAll(incremental).isEmpty)
    // and the codes really are per-batch cost: encoding is stateless —
    // the batch index alone matches the batch rows of the full re-encode
    val batchOnly = full.filter(col("vec_id") >= 500000L)
    assert(index(batch).exceptAll(batchOnly).isEmpty)
  }

  test("bounded-budget PQ training: small target trains on the strided sample only") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    graft.queries.ArtifactCache.clearAll()
    val (m, k, iters) = (4, 8, 2)
    val sub = 64 / m
    // target 100 over 500 vectors → stride 5: codebooks must equal an
    // independent Lloyd run over exactly the vec_id % 5 == 0 slice — the
    // 100 TB path (bounded training bill) exercised at test scale
    val sampled = SimilarityOps.pqCodebooks(spark, dir, m, k, iters,
      trainTarget = 100L)
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(pmod(col("vec_id"), lit(5L)) === 0)
    val reference = (0 until m).map(i => SimilarityOps.lloydFromSeeds(
      e.select(col("vec_id"),
        slice(col("embedding"), i * sub + 1, sub).as("embedding")), k, iters))
    sampled.zip(reference).foreach { case (f, ind) =>
      f.zip(ind).foreach { case (fc, ic) =>
        fc.zip(ic).foreach { case (a, b) => assert(math.abs(a - b) <= 2e-6) }
      }
    }
  }

  test("IVF-PQ ADC top-5 recall vs brute force and vs same-candidate exact") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    val brute = top5("q35_ann_brute")
    val pq = top5("q97_ann_ivfpq")
    // ground truth over the SAME nprobe=2 candidate set: exact L2 top-5
    // within each probe's two nearest coarse cells, re-derived driver-side
    // — isolates PQ quantization distortion from the cell restriction
    val coarse = SimilarityOps.lloydCentroids(spark, dir, 8, 3)
    val vecs = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
      .toMap
    def sq(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val assigned: Map[Long, Int] = vecs.view.mapValues(v =>
      coarse.zipWithIndex.minBy { case (c, i) => (sq(v, c), i) }._2).toMap
    val sameCand: Map[Long, Set[Long]] = pq.keys.map { qid =>
      val q = vecs(qid)
      val cells = coarse.zipWithIndex
        .map { case (c, i) => (sq(q, c), i) }.sorted.take(2).map(_._2).toSet
      val cands = vecs.keys.filter(id => id != qid && cells(assigned(id)))
      qid -> cands.toSeq.sortBy(id => (sq(q, vecs(id)), id)).take(5).toSet
    }.toMap
    def meanRecall(truthSets: Map[Long, Set[Long]]): Double = {
      val rs = truthSets.map { case (q, truth) =>
        pq.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
      }
      rs.sum / rs.size
    }
    val vsBrute = meanRecall(brute)
    val vsSame = meanRecall(sameCand)
    // unit-norm embeddings make L2 ranking ≡ cosine ranking, so exact-L2
    // top-5 IS q35's top-5. Two compounding losses: the nprobe=2 cell
    // restriction and PQ quantization distortion on NEAR-UNIFORM sphere
    // data — this corpus's neighbors hug cos 0.4-0.48, the regime where
    // independent-subspace quantization noise reorders ranks most (no
    // cluster structure to exploit; real embedding corpora quantize far
    // better). The floors guard a broken codebook/LUT/cell-ranking (all
    // collapse toward 0), not the exact data-dependent values.
    assert(vsSame >= 0.4, f"PQ-vs-same-candidate recall $vsSame%.2f (brute $vsBrute%.2f)")
    assert(vsBrute >= 0.3, f"PQ-vs-brute recall $vsBrute%.2f")
  }

  test("hyperplanePairsTuned: wider bands over the same planes only shrink; cosines exact; cap=1 empties") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    def rows(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // (16, 4) is the gated q36 geometry; (16, 8) re-bands the SAME 16
    // planes into 2 bands of 8 — an 8-bit agreement contains two 4-bit
    // agreements, so every tuned candidate is also a q36 candidate
    val loose = rows(SparkEntry.queries("q36_embed_neardup")(spark, dir))
    val tight = rows(SimilarityOps.hyperplanePairsTuned(spark, dir,
      nPlanes = 16, bandBits = 8))
    assert(tight.keySet.subsetOf(loose.keySet))
    // emitted cosines are exact rescorings — identical on shared pairs
    tight.foreach { case (k, v) => assert(v === loose(k)) }
    // a bucket cap of 1 pairs nothing
    assert(SimilarityOps.hyperplanePairsTuned(spark, dir,
      maxBucket = 1L).isEmpty)
  }

  test("near-dup LSH banding recovers the expected share of true pairs") {
    import org.apache.spark.sql.functions._
    import graft.plans.CosineSimilarity
    // ground truth: all pairs with cosine >= 0.4 (brute force on sf0.001;
    // the synthetic corpus tops out at cos ~0.48)
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val truth = a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        CosineSimilarity.cosineSim(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= 0.4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // q36 reports pairs at cos >= 0.3 via banded LSH; restrict to >= 0.4
    val found = SparkEntry.queries("q36_embed_neardup")(spark, dir)
      .filter(col("cosine") >= 0.4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    val recall = found.intersect(truth).size.toDouble / truth.size
    // 4 bands x 4 planes: per-pair candidate probability
    // 1-(1-(1-theta/pi)^4)^4 ~ 0.50 at cos=0.4, rising steeply with
    // similarity (~0.97 at cos 0.8). This corpus' true pairs all hug the
    // 0.40-0.48 band, the hardest regime; the value is fully
    // deterministic (fixed integer-mix planes — requadratified in r7,
    // which moved the exact number). The floor guards a broken banding
    // (which collapses to ~0), not sampling noise.
    assert(recall >= 0.3, f"LSH pair recall $recall%.2f (${found.size}/${truth.size})")
  }

  test("incremental IVF: batch assignment equals full recompute; no retrain") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    graft.queries.ArtifactCache.clearAll()
    val (k, iters) = (8, 3)
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // a batch drawn from the training distribution: vecs 1500+, re-keyed
    val batch = e.filter(col("vec_id") >= 300)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val res = SimilarityOps.assignIncremental(spark, dir, k, iters, batch)
    assert(!res.retrained, f"unexpected retrain at drift ${res.driftRatio}%.3f")
    assert(res.driftRatio > 0.5 && res.driftRatio < 2.0)
    // full recompute over corpus ∪ batch with the same (cached) quantizer:
    // assignment is per-row, so the batch rows must land identically
    val cents = SimilarityOps.lloydCentroids(spark, dir, k, iters)
    val full = e.union(batch).select(col("vec_id"),
      graft.plans.NearestCentroid.cell(col("embedding"), cents).as("cell"))
      .filter(col("vec_id") >= 100000L)
    val diff = res.assignment.select("vec_id", "cell")
      .except(full.select("vec_id", "cell")).count()
    assert(diff === 0L)
  }

  test("incremental IVF: a drifted batch triggers the retrain hook") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    graft.queries.ArtifactCache.clearAll()
    val (k, iters) = (8, 3)
    // push the batch far outside the trained space: +25 on every element
    val drifted = graft.sources.Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 200)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => (x + lit(25.0f)).cast("float"))
          .as("embedding"))
    val res = SimilarityOps.assignIncremental(spark, dir, k, iters, drifted)
    assert(res.retrained, f"drift ${res.driftRatio}%.3f did not retrain")
    assert(res.driftRatio > 2.0)
    assert(res.assignment.count() === 200L)
    // the retrained quantizer replaced the cache: a followup batch from the
    // drifted region now scores as non-drifted
    val followup = SimilarityOps.assignIncremental(spark, dir, k, iters,
      drifted.select((col("vec_id") + 1000L).as("vec_id"), col("embedding")))
    assert(!followup.retrained,
      f"followup drift ${followup.driftRatio}%.3f after retrain")
    graft.queries.ArtifactCache.clearAll() // don't leak the retrained quantizer to other specs
  }

  test("q126 NN-Descent graph: mean neighbor recall vs brute-force k-NN >= 0.85; degree bounded") {
    // graph QUALITY — the property the oracle replay can't express (it
    // confirms both engines build the SAME graph; this confirms the
    // graph is a good one): for every node, what fraction of its true
    // 8 nearest neighbors (brute force over the corpus) appear in its
    // NN-Descent adjacency after 3 refinement rounds. The floor guards
    // a broken local join / reverse sample; the exact value is
    // data-dependent (measured ~0.9+ on this near-uniform fixture —
    // uniform data is NN-Descent's HARD case, no cluster structure to
    // exploit, so a floor met here holds a fortiori on clustered data).
    import org.apache.spark.sql.functions._
    import graft.plans.CosineSimilarity.cosineSim
    val k = 8
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val graph = SparkEntry.queries("q126_knn_graph_nndescent")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (v, rs) => v -> rs.map(_._2).toSet }
    // brute-force ground truth: all-pairs cosine, top-k per node
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val truth = a.join(b, col("va") =!= col("vb"))
      .select(col("va"), col("vb"), cosineSim(col("ea"), col("eb")).as("cos"))
      .groupBy("va")
      .agg(org.apache.spark.sql.graft.TopKByScore
        .columnFor(col("cos"), col("vb"), k).as("top"))
      .select(col("va"), explode(col("top")).as("e"))
      .collect().map(r => (r.getLong(0), r.getStruct(1).getLong(1)))
      .groupBy(_._1).map { case (v, rs) => v -> rs.map(_._2).toSet }
    val recalls = truth.map { case (v, t) =>
      graph.getOrElse(v, Set.empty).intersect(t).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, f"mean NN-Descent graph recall $mean%.3f")
    // degree bound: the heap caps every adjacency at k
    assert(graph.values.forall(_.size <= k))
    assert(graph.size === truth.size, "every node must have an adjacency")
  }

  test("q152 SQ8 store tier: int8 funnel + exact re-rank holds recall; serve reads a fraction of the store") {
    import graft.queries.SimilarityOps
    val brute = top5("q35_ann_brute")
    val got = top5("q152_ann_sq8_store")
    val recalls = brute.map { case (q, truth) =>
      got.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size }
    val mean = recalls.sum / recalls.size
    info(f"SQ8-store recall@5 vs brute: $mean%.3f")
    // nprobe=2 IVF restriction is the recall ceiling (q39's nprobe
    // regime); the int8 stage inside it must not cost recall — the
    // re-rank reads exact floats, so any loss comes from int8-top-32
    // missing true neighbors. Floor guards a broken quantizer/kernel.
    assert(mean >= 0.6, f"SQ8 store recall $mean%.3f")
    val (touched, total) = SimilarityOps.lastSq8ServeBytes.get()
    info(f"SQ8 serve bytes: $touched of $total (${100.0 * touched / total}%.1f%%)")
    // the UNION of 10 probes × nprobe=2 legitimately covers all 8 gate
    // cells (20 draws over 8 cells); the per-probe cut is 2/8 and is
    // plan-verified by the engine's partition-filter require. What this
    // asserts is the accounting itself plus the 4× record compression
    // (the int8 tier's bandwidth claim: the whole SQ8 store is smaller
    // than a quarter of the raw float store the same serve would read)
    assert(touched > 0 && touched <= total)
    val rawBytes = graft.sources.Tables(spark, dir, "embeddings")
      .inputFiles.map(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(
          new java.net.URI(f).getPath))).sum
    info(f"SQ8 store $total B vs raw parquet $rawBytes B " +
      f"(${rawBytes.toDouble / total}%.1f× smaller)")
    assert(total.toDouble < rawBytes / 2.0,
      s"SQ8 store ($total B) should be well under half the raw tier ($rawBytes B)")
  }

  test("q153 filtered store: file-level double pruning, results identical to q134's in-memory filtered search") {
    import graft.queries.SimilarityOps
    def rows(name: String) =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
    // the store round-trip must be semantically invisible
    assert(rows("q153_ann_filtered_store") === rows("q134_ann_filtered"),
      "filtered store serve diverged from the in-memory filtered search")
    val (touched, total) = SimilarityOps.lastFilteredServeBytes.get()
    info(f"filtered serve bytes: $touched of $total (${100.0 * touched / total}%.1f%%)")
    assert(touched > 0 && touched < total,
      s"filtered serve read $touched of $total bytes — no pruning measured")
  }

  test("sharded DiskANN-recipe build: recall parity with the global NN-Descent build (uniform + clustered)") {
    // the 100 TB build path (q141's missing half, r14 verdict item 2):
    // spill-2 assignment to coarse cells, per-cell NN-Descent in ONE
    // dataflow, merge = union + k-cut. Parity bar: the sharded graph's
    // true-neighbor recall must hold within 0.05 of the global build's
    // on BOTH fixtures — clustered (its home turf: true neighbors
    // co-cluster, so the per-cell restriction loses nothing) and the
    // near-uniform corpus (the hard case: neighbors can straddle
    // arbitrary cell boundaries; spill-2 overlap is the stitch).
    import org.apache.spark.sql.functions._
    import graft.plans.CosineSimilarity.cosineSim
    import graft.queries.SimilarityOps
    import graft.operators.NnDescent
    val k = 8
    def graphRecallPair(d: String): (Double, Double) = {
      val e = graft.sources.Tables(spark, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
      val truth = a.join(b, col("va") =!= col("vb"))
        .select(col("va"), col("vb"), cosineSim(col("ea"), col("eb")).as("cos"))
        .groupBy("va")
        .agg(org.apache.spark.sql.graft.TopKByScore
          .columnFor(col("cos"), col("vb"), k).as("top"))
        .select(col("va"), explode(col("top")).as("e"))
        .collect().map(r => (r.getLong(0), r.getStruct(1).getLong(1)))
        .groupBy(_._1).map { case (v, rs) => v -> rs.map(_._2).toSet }
      def rec(g: org.apache.spark.sql.DataFrame): Double = {
        // cut the over-built (buildK=16) adjacency to the served top-8,
        // the q126 gate shape
        val adj = g.groupBy("vec_id")
          .agg(org.apache.spark.sql.graft.TopKByScore
            .columnFor(col("cos"), col("nid"), k).as("top"))
          .select(col("vec_id"), explode(col("top")).as("e"))
          .select(col("vec_id"), col("e.payload").as("nid"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (v, rs) => v -> rs.map(_._2).toSet }
        val rs = truth.map { case (v, t) =>
          adj.getOrElse(v, Set.empty).intersect(t).size.toDouble / t.size }
        rs.sum / rs.size
      }
      // the q126 gate build geometry: over-build at 2k, 4 rounds
      val cents = SimilarityOps.lloydFromSeeds(e, 8, 3)
      (rec(NnDescent.knnGraph(e, 2 * k, 4)),
        rec(NnDescent.knnGraphSharded(e, 2 * k, 4, cents, spill = 2,
          stitch = 2)))
    }
    for ((name, d) <- Seq(("uniform", dir), ("clustered", clustered._1))) {
      val (g, s) = graphRecallPair(d)
      info(f"$name graph recall — global $g%.3f, sharded $s%.3f")
      assert(s >= g - 0.05,
        f"$name: sharded build recall $s%.3f fell >0.05 under global $g%.3f")
      assert(s >= 0.8, f"$name: sharded build recall $s%.3f below floor")
    }
  }

  test("NN-Descent + beam search: driver-local tier == distributed loop, bit-exact") {
    // the size-gated driver tier (dispatch-floor fix) must be a pure
    // re-spelling: same LCG keys, same kernel arithmetic, same heap
    // order. Exact set equality INCLUDING the cosine doubles — any
    // divergence in summation order or tie-breaking fails here before
    // it can fail the oracle gate.
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val local = graft.operators.NnDescent.knnGraph(e, k = 16, iters = 4)
    val dist = graft.operators.NnDescent.knnGraph(e, k = 16, iters = 4,
      driverMax = 0L)
    assert(rows(local) === rows(dist), "knnGraph local != distributed")
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def srows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val sl = graft.operators.NnDescent.graphSearch(local, e, qs,
      beam = 16, hops = 4, seeds = 4, topk = 5)
    val sd = graft.operators.NnDescent.graphSearch(dist, e, qs,
      beam = 16, hops = 4, seeds = 4, topk = 5, driverMax = 0L)
    assert(srows(sl) === srows(sd), "graphSearch local != distributed")
  }

  test("q127 graph search: top-5 recall vs brute force >= 90% on the probe set") {
    // the serving-tier gate: beam search over the NN-Descent graph must
    // find (almost) the same top-5 the O(n·d)-per-query brute force
    // finds, at Θ(hops·beam·degree) per query — same probes as q35, so
    // the comparison is direct
    val brute = top5("q35_ann_brute")
    val gs = top5("q127_graph_ann_search")
    val recalls = brute.map { case (q, truth) =>
      gs.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, f"mean graph-search recall $mean%.3f")
  }

  test("q130 layered search: top-5 recall vs brute force >= 90% with ONE FEWER layer-0 hop than q127") {
    // the hierarchy's value proposition: query-aware entry points from
    // the upper-layer descent let the layer-0 walk run hops=3 (q127
    // needs 4 from its blind lowest-id seeds) at the same recall floor
    val brute = top5("q35_ann_brute")
    val hnsw = top5("q130_hnsw_layered_search")
    val recalls = brute.map { case (q, truth) =>
      hnsw.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, f"mean layered-search recall $mean%.3f")
  }

  test("q131 graph ingest: new nodes linked at high recall, back-links folded, degree bounded") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q131_graph_ingest_endstate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = rows.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    // degree bound: the NnK emission cut holds for every node
    assert(adj.values.forall(_.size <= 8), "emission degree > NnK")
    val newNodes = adj.keys.filter(_ >= 450L).toSeq
    assert(newNodes.nonEmpty, "no inserted nodes in the end state")
    // insertion links against the standing corpus only (documented
    // contract): every new-node edge targets the store
    assert(newNodes.forall(v => adj(v).forall(_ < 450L)),
      "new-node edge targeting outside the store")
    // back-links folded: some store node's adjacency now reaches a batch id
    assert(adj.collect { case (v, es) if v < 450L => es }
      .exists(_.exists(_ >= 450L)), "no back-link survived the re-cut")
    // recall of the searched-in forward edges vs brute-force truth
    val vecs = graft.sources.Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 600)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; nx += x * x; ny += y * y; i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val storeIds = vecs.keys.filter(_ < 450L).toSeq
    val recalls = newNodes.map { v =>
      val truth = storeIds.sortBy(s => (-cos(vecs(v), vecs(s)), s))
        .take(8).toSet
      adj(v).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, f"mean insert-link recall $mean%.3f")
  }

  test("q133 RP-forest: top-5 recall vs brute force >= 80%, leaves balanced, probe near path = build path") {
    import org.apache.spark.sql.functions._
    val brute = top5("q35_ann_brute")
    val rp = top5("q133_rptree_forest_ann")
    val recalls = brute.map { case (q, truth) =>
      rp.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // measured 1.00 at sf0.001 / 0.90 at sf0.01 (3 trees × depth 3,
    // margin 4e8 ≈ 0.7σ); the floor guards a broken descent, not the
    // exact value — near-uniform data is the partition family's hard case
    assert(mean >= 0.8, f"mean RP-forest recall $mean%.3f")
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (leaves, thrs) = graft.operators.RpForest.build(spark, e, 3, 3, 64)
    val sizes = leaves.groupBy("t", "node").count().collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    val n = e.count()
    // mean-split balance: every leaf within 3× of the ideal n/2^depth
    // (a data-independent sign split on this corpus has no such bound)
    sizes.foreach { case ((t, node), c) =>
      assert(c <= 3 * n / 8 + 1, s"leaf ($t,$node) holds $c of $n")
    }
    assert(sizes.map(_._2).sum == 3 * n, "leaves must partition corpus per tree")
    // spill descent consistency: a corpus-member probe's NEAR path (the
    // frontier row whose projections all sat on the near side) is its
    // build assignment — same arithmetic, same tie rule
    val probeLeaves = graft.operators.RpForest
      .probeRoute(spark, e.filter(col("vec_id") < 10), thrs, 3, 3, 64, 0L)
    val routed = probeLeaves.collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    val built = leaves.filter(col("vec_id") < 10).collect()
      .map(r => ((r.getLong(1), r.getInt(0)), r.getInt(2))).toMap
    assert(routed == built, "zero-margin probe route must equal build assignment")
  }

  test("q133 RP-forest: driver tier is bit-exact vs the distributed build and route") {
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (lLoc, tLoc) = graft.operators.RpForest.build(spark, e, 3, 3, 64)
    val (lDist, tDist) =
      graft.operators.RpForest.build(spark, e, 3, 3, 64, driverMax = 0L)
    def leafSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    def thrSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(leafSet(lLoc) == leafSet(lDist),
      "local leaves must equal distributed leaves")
    assert(thrSet(tLoc) == thrSet(tDist),
      "local thresholds must equal distributed thresholds")
    val probes = e.filter(col("vec_id") < 10)
    val margin = 400000000L
    def routeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val rLoc = graft.operators.RpForest
      .probeRoute(spark, probes, tLoc, 3, 3, 64, margin)
    val rDist = graft.operators.RpForest
      .probeRoute(spark, probes, tDist, 3, 3, 64, margin, driverMax = 0L)
    assert(routeSet(rLoc) == routeSet(rDist),
      "local spill route must equal distributed spill route")
  }

  test("q132 OPQ: device booleans hold, and rotation does not hurt quantization MSE") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    val rows = SparkEntry.queries("q132_opq_rotated_pq")(spark, dir).collect()
    assert(rows.length == 10, s"expected 10 probe rows, got ${rows.length}")
    assert(rows.forall(_.getBoolean(2)), "recall_ok false for some probe")
    assert(rows.forall(_.getBoolean(3)), "iso_ok false")
    // the OPQ claim, measured: codebooks trained in the rotated space
    // quantize no worse than plain PQ on the originals (PCA decorrelates
    // the subspaces; on an isotropic corpus the two converge, hence the
    // small tolerance rather than a strict improvement assertion)
    def mse(vecs: Seq[Array[Double]], books: Seq[Seq[Seq[Double]]]): Double = {
      val sub = 64 / books.length
      vecs.map { v =>
        books.indices.map { m =>
          val s0 = v.slice(m * sub, m * sub + sub)
          books(m).map(cb =>
            s0.zip(cb).map(p => (p._1 - p._2) * (p._1 - p._2)).sum).min
        }.sum
      }.sum / vecs.length
    }
    val plainVecs = graft.sources.Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 600)
      .select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    val rotVecs = SimilarityOps.opqRotatedCorpus(spark, dir, 600L)
      .select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    val plainBooks = SimilarityOps.pqCodebooks(spark, dir,
      SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters,
      maxVec = 600L)
    val opqBooks = SimilarityOps.pqCodebooks(spark, dir,
      SimilarityOps.PqM, SimilarityOps.PqK, SimilarityOps.PqIters,
      maxVec = 600L,
      src = Some(SimilarityOps.opqRotatedCorpus(spark, dir, 600L)
        .select(col("vec_id"), col("embedding"))),
      srcTag = "opq")
    val (mseP, mseO) = (mse(plainVecs, plainBooks), mse(rotVecs, opqBooks))
    assert(mseO <= mseP * 1.05,
      f"OPQ MSE $mseO%.6f vs plain $mseP%.6f — rotation hurt quantization")
  }

  test("q116 FPS coreset: greedy-max invariant, center self-distance 0, coverage radius") {
    import graft.queries.SimilarityOps
    val rows = SparkEntry.queries("q116_fps_coreset")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val centers = SimilarityOps.fpsCenters(spark, dir, 8)
    assert(centers.map(_._1).distinct.length === 8, "a center picked twice")
    // every center is assigned to itself at distance 0
    val byId = rows.map(r => r._1 -> r).toMap
    centers.zipWithIndex.foreach { case ((cid, _), i) =>
      val r = byId(cid)
      assert(r._2 === i + 1 && r._3 === cid && r._4 === 0.0,
        s"center $cid (ord ${i + 1}) not self-assigned: $r")
    }
    // the greedy-max (Gonzalez) invariant: every center, at its pick time,
    // was at least as far from the earlier centers as the final covering
    // radius (max over the corpus of min distance to all k centers)
    def sq(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val radius = rows.map(_._4).max
    for (i <- 1 until centers.length) {
      val dAtPick = (0 until i).map(j => sq(centers(i)._2, centers(j)._2)).min
      assert(dAtPick + 1e-3 >= radius, // 1e-3: radius is the 4dp-rounded d4
        s"center ${i + 1} picked at $dAtPick < covering radius $radius")
    }
  }

  test("q114 balanced selection: round-robin balance, rank-prefix per cell, budget respected") {
    val sel = SparkEntry.queries("q114_balanced_select")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val byCell = sel.groupBy(_._2)
    // cell populations (to distinguish "ran out of members" from imbalance)
    val pop = SparkEntry.queries("q79_semantic_dedup")(spark, dir).collect()
      .groupBy(_.getInt(1)).map { case (c, rs) => c -> rs.length }
    val expected = math.min(100, pop.values.map(math.min(_, 13)).sum)
    assert(sel.length === expected)
    assert(sel.map(_._1).distinct.length === expected, "a vector selected twice")
    byCell.foreach { case (cell, rows) =>
      val ranks = rows.map(_._3).sorted
      assert(ranks === (1L to ranks.length).toArray.toSeq,
        s"cell $cell selection is not a rank prefix: ${ranks.toSeq}")
    }
    // round-robin ⇒ any two cells that both still had members left differ
    // by at most 1 in selected count
    val counts = byCell.map { case (c, rs) => c -> rs.length }
    for ((c1, n1) <- counts; (c2, n2) <- counts
         if n1 < pop(c1) && n2 < pop(c2)) {
      assert(math.abs(n1 - n2) <= 1,
        s"cells $c1/$c2 selected $n1/$n2 with members to spare")
    }
  }

  // ------------------------------------------------------------------
  // CLUSTERED-embedding fixture (r13 verdict item 3). Every recall number
  // above is measured on the near-uniform synthetic corpus — NN-Descent's
  // hard case but by_residual PQ's EASY case's opposite: residual encoding
  // exists for clustered data, where raw-vector codebooks waste their
  // resolution describing WHICH cluster a vector is in instead of where it
  // sits WITHIN it. This fixture plants 8 well-separated Gaussian clusters
  // (center scale 20, noise σ 0.5 — inter-center distance ≈ 225 ≫ intra
  // ≈ 6) so the residual win, IVF's off-uniform behavior, and the
  // RP-forest's data-dependent splits are all exercised where they matter.
  // The center/noise ratio is the knob the residual property is ABOUT:
  // plain codebooks quantize at the center scale (within-cluster ADC
  // deltas drown in quantization noise as centers grow), residual
  // codebooks quantize at σ (recall independent of center scale).
  // ------------------------------------------------------------------

  private val ClusterN = 500
  private val ClusterK = 8

  /** (tempdir with embeddings.parquet, vec_id -> vector). cluster(v) =
    * vec_id % 8, so the deterministic Lloyd seeds (first k vec_ids) hit
    * all 8 planted clusters and every probe (vec_id < 10) has ~62
    * same-cluster members to retrieve from. */
  private lazy val clustered: (String, Map[Long, Array[Double]]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dimN = 64
    val centers = Array.fill(ClusterK, dimN)(rnd.nextGaussian() * 20.0)
    val rows = (0 until ClusterN).map { i =>
      val c = i % ClusterK
      val v = Array.tabulate(dimN)(d =>
        (centers(c)(d) + rnd.nextGaussian() * 0.5).toFloat)
      (i.toLong, v.toSeq, c)
    }
    val dir = java.nio.file.Files.createTempDirectory("clustann").toString
    rows.toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "cast(embedding as array<float>) AS embedding",
        "cast(label as int) AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // ground truth from the float-cast values actually written
    val vecs = rows.map { case (id, v, _) =>
      id -> v.map(_.toDouble).toArray }.toMap
    (dir, vecs)
  }

  private def truthTop5(metric: (Array[Double], Array[Double]) => Double,
      largerIsCloser: Boolean): Map[Long, Set[Long]] = {
    val (_, vecs) = clustered
    (0L until 10L).map { q =>
      val qv = vecs(q)
      val scored = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, metric(qv, v)) }
      val top = (if (largerIsCloser) scored.sortBy(-_._2)
                 else scored.sortBy(_._2)).take(5).map(_._1)
      q -> top.toSet
    }.toMap
  }

  private def l2sq(a: Array[Double], b: Array[Double]): Double =
    a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.indices.map(i => a(i) * b(i)).sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  private def meanRecall(got: Map[Long, Set[Long]],
      truth: Map[Long, Set[Long]]): Double = {
    val rs = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
    rs.sum / rs.size
  }

  private def top5On(dirC: String, name: String): Map[Long, Set[Long]] =
    SparkEntry.queries(name)(spark, dirC).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  test("RP-forest ingest: frozen route reproduces build leaves; batches compose; tiers agree") {
    import org.apache.spark.sql.functions._
    import graft.operators.RpForest
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val store = e.filter(col("vec_id") < 300)
    val (leaves, thrs) = RpForest.build(spark, store, 3, 3, 64)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Int)] =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    // 1. re-inserting the build corpus down the frozen thresholds lands
    //    every vector in its build leaf (same projections, same floors)
    assert(rows(RpForest.insertBatch(spark, store, thrs, 3, 3, 64))
      === rows(leaves))
    // 2. batch composition: two sub-batches ≡ one batch (per-row routing)
    val b1 = e.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val b2 = e.filter(col("vec_id") >= 400 && col("vec_id") < 500)
    val both = e.filter(col("vec_id") >= 300 && col("vec_id") < 500)
    assert(rows(RpForest.insertBatch(spark, b1, thrs, 3, 3, 64)) ++
           rows(RpForest.insertBatch(spark, b2, thrs, 3, 3, 64))
      === rows(RpForest.insertBatch(spark, both, thrs, 3, 3, 64)))
    // 3. driver tier ≡ forced-distributed (driverMax = 0)
    assert(rows(RpForest.insertBatch(spark, both, thrs, 3, 3, 64,
        driverMax = 0L))
      === rows(RpForest.insertBatch(spark, both, thrs, 3, 3, 64)))
    // 4. so store ⊎ insertBatch(batch) ≡ one frozen route of the union
    assert(rows(leaves) ++
           rows(RpForest.insertBatch(spark, both, thrs, 3, 3, 64))
      === rows(RpForest.insertBatch(spark,
           e.filter(col("vec_id") < 500), thrs, 3, 3, 64)))
  }

  test("q141 sharded graph store: serve-through-files ≡ in-memory graphSearch over the end-state graph") {
    import org.apache.spark.sql.functions._
    import graft.queries.SimilarityOps
    import graft.operators.NnDescent
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq.sortBy(t => (t._1, t._4))
    val served = rows(SparkEntry.queries("q141_graph_sharded_store")(spark, dir))
    // re-derive in memory: same store/batch split, same ingest, same
    // search geometry — the store round-trip must change nothing
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 600).select(col("vec_id"), col("embedding"))
    val store = e.filter(col("vec_id") < 450)
    val batch = e.filter(col("vec_id") >= 450)
    val g0 = NnDescent.knnGraph(store, k = 16, iters = 4)
    val endState = NnDescent.insertBatch(g0, store, batch,
      k = 16, beam = 16, hops = 4, seeds = 4)
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val inMem = rows(NnDescent.graphSearch(endState, e, qs,
      beam = 16, hops = 4, seeds = 4, topk = 5))
    assert(served === inMem)
    // the driver-tier serve (gate scale) ≡ the forced-distributed serve
    // loop reading the same sharded store (serveDriverMax = 0)
    val dist = rows(SimilarityOps.graphShardedStoreServe(spark, dir,
      serveDriverMax = 0L))
    assert(dist === served)
    // and the serve read a FRACTION of the store (partition pruning is
    // also self-verified inside the operator via FileSourceScanExec)
    val (touched, total) = SimilarityOps.lastGraphServeBytes.get()
    info(f"q141 serve read $touched of $total store bytes (${100.0 * touched / total}%.1f%%)")
    assert(total > 0 && touched <= total)
  }

  test("NnDescent.insertBatch driver tier == distributed merge, bit for bit") {
    import org.apache.spark.sql.functions._
    import graft.operators.NnDescent
    // the r18 local merge tier (store+batch <= DriverMaxVectors) must
    // reproduce the shuffle-bounded spelling exactly: same selection,
    // same kernel re-score, same dedupe + degree cut
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .filter(col("vec_id") < 600).select(col("vec_id"), col("embedding"))
    val store = e.filter(col("vec_id") < 450)
    val batch = e.filter(col("vec_id") >= 450)
    val g0 = NnDescent.knnGraph(store, k = 16, iters = 4)
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "nid", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    val loc = rows(NnDescent.insertBatch(g0, store, batch,
      k = 16, beam = 16, hops = 4, seeds = 4))
    val dist = rows(NnDescent.insertBatch(g0, store, batch,
      k = 16, beam = 16, hops = 4, seeds = 4, driverMax = 0))
    assert(loc === dist, "local insertBatch != distributed insertBatch")
  }

  test("RP-forest ingest drift: in-distribution batch balanced, concentrated batch flagged") {
    import org.apache.spark.sql.functions._
    import graft.operators.RpForest
    import spark.implicits._
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val (_, thrs) = RpForest.build(spark, e.filter(col("vec_id") < 300), 3, 3, 64)
    val inDist = RpForest.insertBatch(spark,
      e.filter(col("vec_id") >= 300), thrs, 3, 3, 64)
    val shareIn = RpForest.maxLeafShare(inDist)
    // a DRIFTED batch: 100 copies of one far-away point — every copy
    // lands in the same leaf of every tree, share 1.0
    val pt = Seq.fill(64)(500.0f)
    val drifted = (1000L until 1100L).map(id => (id, pt)).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val shareDrift = RpForest.maxLeafShare(
      RpForest.insertBatch(spark, drifted, thrs, 3, 3, 64))
    info(f"maxLeafShare in-distribution $shareIn%.3f, drifted $shareDrift%.3f")
    // policy: rebuild when share > driftFactor/2^depth (=2/8 here)
    assert(shareIn <= 2.0 / 8, f"in-distribution batch flagged: $shareIn%.3f")
    assert(shareDrift >= 0.999, f"concentrated batch not flagged: $shareDrift%.3f")
  }

  test("clustered fixture: by_residual PQ recall BEATS plain PQ (the property q136 exists for)") {
    val (dirC, _) = clustered
    val truth = truthTop5(l2sq, largerIsCloser = false)
    val plain = meanRecall(top5On(dirC, "q97_ann_ivfpq"), truth)
    val resid = meanRecall(top5On(dirC, "q136_ann_ivfpq_residual"), truth)
    info(f"clustered recall@5 — plain ADC $plain%.3f, by_residual ADC $resid%.3f")
    assert(resid >= plain + 0.1,
      f"by_residual ($resid%.3f) must clearly beat plain ADC ($plain%.3f) on clustered data")
    assert(resid >= 0.35, f"by_residual recall $resid%.3f too low on its home turf")
  }

  test("anisotropic PQ at eta=1 IS plain PQ: codebooks identical, assignment identical") {
    import graft.queries.SimilarityOps
    // w = 0 zeroes the parallel term: the normal equations collapse to
    // I·c = mean(x) and the Cramer solve must return the plain 6dp mean —
    // the SAME codebooks pqCodebooks trains, cell for cell
    val plain = SimilarityOps.pqCodebooks(spark, dir, SimilarityOps.PqM,
      SimilarityOps.PqK, SimilarityOps.PqIters,
      maxVec = SimilarityOps.IvfPqGateSlice)
    val aniso1 = SimilarityOps.anisoCodebooks(spark, dir, SimilarityOps.PqM,
      SimilarityOps.PqK, SimilarityOps.PqIters, eta = 1.0,
      maxVec = SimilarityOps.IvfPqGateSlice)
    assert(aniso1 === plain,
      "eta=1 anisotropic training must reproduce plain-PQ codebooks exactly")
    // the gate eta follows from ScaNN's threshold closed form:
    // eta = (d-1) t²/(1-t²) = 4 at t = sqrt(4/67) ≈ 0.244, d = 64
    val t = math.sqrt(4.0 / 67.0)
    assert(math.abs(SimilarityOps.anisoEtaForThreshold(t, 64)
      - SimilarityOps.AnisoEta) < 1e-9,
      "AnisoEta must match the closed form at its documented threshold")
    // and t = 1/sqrt(d) — the mean |cos| of a random direction — reads
    // exactly 1, i.e. plain L2 (ScaNN's own degenerate point)
    assert(math.abs(
      SimilarityOps.anisoEtaForThreshold(1.0 / 8.0, 64) - 1.0) < 1e-12)
  }

  test("clustered fixture: anisotropic PQ beats plain PQ on MIPS recall (the property q145 exists for)") {
    import graft.queries.SimilarityOps
    val (dirC, _) = clustered
    // MIPS ground truth: exact inner-product top-5 (what a recommender
    // retrieves; the metric the anisotropic loss is derived for)
    val truth = truthTop5(
      (a, b) => a.indices.map(i => a(i) * b(i)).sum, largerIsCloser = true)
    def recallAt(eta: Double): Double = {
      val got = SimilarityOps.anisoPqTop5(spark, dirC, eta).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      meanRecall(got, truth)
    }
    val plain = recallAt(1.0)
    val aniso = recallAt(SimilarityOps.AnisoEta)
    info(f"clustered MIPS recall@5 — plain-PQ $plain%.3f, anisotropic $aniso%.3f")
    assert(aniso >= plain + 0.1,
      f"anisotropic ($aniso%.3f) must clearly beat plain PQ ($plain%.3f) on clustered MIPS")
    assert(aniso >= 0.4, f"anisotropic recall $aniso%.3f too low on its home turf")
  }

  test("clustered fixture: ScaNN stack (IVF + aniso PQ + exact rerank) near-exact MIPS; rerank lifts ADC") {
    import graft.queries.SimilarityOps
    val (dirC, _) = clustered
    val truth = truthTop5(
      (a, b) => a.indices.map(i => a(i) * b(i)).sum, largerIsCloser = true)
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      meanRecall(got, truth)
    }
    val adcOnly = recallOf(SimilarityOps.anisoPqTop5(spark, dirC,
      SimilarityOps.AnisoEta))
    val stack = recallOf(SimilarityOps.scannStackTop5(spark, dirC))
    info(f"clustered MIPS recall@5 — aniso ADC alone $adcOnly%.3f, full stack $stack%.3f")
    // the stack's whole point: the exact-rerank tail recovers what ADC
    // compression loses, at R·d instead of n·d exact work per probe
    assert(stack >= adcOnly,
      f"rerank must not lose recall (stack $stack%.3f vs ADC $adcOnly%.3f)")
    assert(stack >= 0.9, f"stack recall $stack%.3f below the near-exact floor")
  }

  test("SOAR spill-2 (q159) lifts MIPS recall over single assignment at equal probe cost") {
    import graft.queries.SimilarityOps
    // the regime spill-2 exists for is assignment AMBIGUITY: a true
    // neighbor whose primary cell differs from the query's probed cells
    // is unreachable no matter how good the rerank. On the
    // WELL-SEPARATED clustered fixture the quantizer is perfect (purity
    // 1.0 above) and there is nothing to recover — the near-uniform
    // LAKE is the ambiguous case, every cell boundary soft (measured on
    // sf0.01: 0.82 → 0.92 at the gate's nprobe=2).
    val vecs: Map[Long, Array[Double]] =
      graft.sources.Tables(spark, dir, "embeddings")
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val truth = (0L until 10L).map { q =>
      val qv = vecs(q)
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, qv.indices.map(i => qv(i) * v(i)).sum) }
        .sortBy { case (id, ip) => (-ip, id) }.take(5).map(_._1).toSet
    }.toMap
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      meanRecall(got, truth)
    }
    val single = recallOf(SimilarityOps.scannStackTop5(spark, dir))
    val spill = recallOf(SimilarityOps.soarStackTop5(spark, dir))
    info(f"lake MIPS recall@5 at nprobe=2 — single $single%.3f, SOAR spill-2 $spill%.3f")
    assert(spill > single,
      f"SOAR spill-2 ($spill%.3f) must lift recall over single assignment ($single%.3f) at equal probe cost")
    // and on the clustered fixture (nothing to recover) it must not hurt
    val (dirC, vecsC) = clustered
    val truthC = truthTop5(
      (a, b) => a.indices.map(i => a(i) * b(i)).sum, largerIsCloser = true)
    def recallC(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      meanRecall(got, truthC)
    }
    val singleC = recallC(SimilarityOps.scannStackTop5(spark, dirC))
    val spillC = recallC(SimilarityOps.soarStackTop5(spark, dirC))
    info(f"clustered MIPS recall@5 at nprobe=2 — single $singleC%.3f, SOAR spill-2 $spillC%.3f")
    assert(spillC >= singleC,
      f"SOAR on clustered ($spillC%.3f) lost recall vs single ($singleC%.3f)")
  }

  test("clustered fixture: IVF single-cell probe is near-exact (cells = planted clusters)") {
    val (dirC, _) = clustered
    val truth = truthTop5(cosine, largerIsCloser = true)
    val ivf = meanRecall(top5On(dirC, "q39_ann_ivf"), truth)
    info(f"clustered IVF recall@5: $ivf%.3f")
    // off-uniform is IVF's best case: the coarse quantizer recovers the
    // planted partition, every true neighbor is in the probe's own cell
    assert(ivf >= 0.95, f"IVF recall $ivf%.3f on perfectly clustered data")
    // and the quantizer's cells ARE the planted clusters (purity 1.0):
    // q79's cell column vs vec_id % 8
    val cells = SparkEntry.queries("q79_semantic_dedup")(spark, dirC)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val purity = cells.groupBy(_._2).values.map { members =>
      members.groupBy(_._1 % ClusterK).values.map(_.size).max
    }.sum.toDouble / cells.length
    info(f"Lloyd cell purity vs planted clusters: $purity%.3f")
    assert(purity >= 0.99, f"coarse cells should recover planted clusters, purity $purity%.3f")
  }

  test("clustered fixture: RP-forest recall holds off-uniform") {
    val (dirC, _) = clustered
    val truth = truthTop5(cosine, largerIsCloser = true)
    val rp = meanRecall(top5On(dirC, "q133_rptree_forest_ann"), truth)
    info(f"clustered RP-forest recall@5: $rp%.3f")
    // data-dependent mean splits keep cluster members together — the
    // floor matches the uniform-corpus pin (0.90, SCALE.md)
    assert(rp >= 0.9, f"RP-forest recall $rp%.3f on clustered data")
  }

  test("clustered fixture: SemDeDup keeps one representative per planted cluster") {
    val (dirC, vecs) = clustered
    val rows = SparkEntry.queries("q79_semantic_dedup")(spark, dirC)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getBoolean(3)))
    val keepers = rows.filter(_._4)
    assert(keepers.length === ClusterK,
      s"expected one keeper per planted cluster, got ${keepers.length}")
    // every keeper is its cell's max centroid-cosine. The exact rule
    // (6-decimal cosine, ties to min vec_id) is oracle-gated; the emitted
    // column is rounded to 4dp, and on a tight cluster many members tie
    // at 4dp — so assert at the observable granularity: exactly one
    // keeper, and no member beats it by more than the rounding window.
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val keep = members.filter(_._4)
      assert(keep.length === 1, s"cell $cell has ${keep.length} keepers")
      val maxCos = members.map(_._3).max
      assert(keep.head._3 >= maxCos - 1.0001e-4,
        s"cell $cell keeper cos ${keep.head._3} < max $maxCos - rounding")
    }
    // on tight clusters the non-keepers really are semantic duplicates:
    // exact cosine to their cell keeper is high
    val keeperByCell = keepers.map(k => k._2 -> k._1).toMap
    val dupCosines = rows.filterNot(_._4).map { m =>
      cosine(vecs(m._1), vecs(keeperByCell(m._2))) }
    val minDup = dupCosines.min
    info(f"min non-keeper→keeper exact cosine: $minDup%.3f")
    assert(minDup >= 0.9, f"planted duplicates should be near-parallel, min $minDup%.3f")
  }
}
