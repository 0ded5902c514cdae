package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Behavioral properties of the round-5 training-prep additions (q76–q79)
  * that the oracle replay can't express: chunk reconstruction, filter-rule
  * semantics, keeper uniqueness, and the widened cosine expression. */
class TrainingPrepSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("q76 chunks: count = ceil(n/stride), sizes <= 32, stride-aligned reconstruction") {
    import graft.functions.TextFunctions.tokens
    val docs = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = SparkEntry.queries("q76_chunk_overlap")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    assert(chunks.keySet === docs.keySet)
    chunks.foreach { case (doc, cs) =>
      val n = docs(doc)
      val expect = (n - 1) / 24 + 1 // ceil(n / stride) for n >= 1
      assert(cs.length === expect, s"doc $doc: ${cs.length} chunks for $n tokens")
      val byIdx = cs.sortBy(_._2)
      assert(byIdx.map(_._2).toSeq === (0L until expect.toLong))
      // every chunk covers [idx*24, min(idx*24+32, n)) tokens
      byIdx.foreach { case (_, idx, sz) =>
        assert(sz === math.min(idx * 24 + 32, n.toLong) - idx * 24)
      }
    }
  }

  test("q77 gopher keep flag equals the conjunction of its emitted signals") {
    val rows = SparkEntry.queries("q77_gopher_filter")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nW = r.getAs[Long]("n_words")
      val stop = r.getAs[Long]("stop_count")
      val keep = r.getAs[Boolean]("keep")
      // the rounded signals are displays; recheck the integer-exact parts
      if (nW < 50 || stop < 2) assert(!keep, s"doc ${r.get(0)} kept despite failing bounds")
    }
    // the synthetic corpus is ordinary prose: at least one doc must pass
    // and at least one must fail, else the gate tests nothing
    assert(rows.exists(_.getAs[Boolean]("keep")))
    assert(rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("q78 domains: injected URL always extracted, 7 domains partition the corpus") {
    val rows = SparkEntry.queries("q78_url_domains")(spark, dir).collect()
    assert(rows.length === 7)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = graft.sources.Tables(spark, dir, "documents").count()
    assert(total === nDocs, "every doc lands in exactly one domain bucket")
    rows.foreach(r => assert(r.getAs[String]("domain").matches("site[0-6]\\.example\\.org")))
  }

  test("q79 semantic dedup: exactly one keeper per cell, keeper maximizes cosine") {
    val rows = SparkEntry.queries("q79_semantic_dedup")(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
        r.getAs[Double]("cos_centroid"), r.getAs[Boolean]("keep")))
    val nVecs = graft.sources.Tables(spark, dir, "embeddings").count()
    assert(rows.length.toLong === nVecs)
    rows.groupBy(_._2).foreach { case (cell, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length === 1, s"cell $cell has ${keepers.length} keepers")
      // keeper's rounded cosine is the cell max (ties resolved by vec_id
      // upstream on the 6-decimal value; at 4 decimals >= is the check)
      assert(keepers.head._3 >= members.map(_._3).max - 1e-9)
    }
  }

  test("native ShinglesExpr equals the composed HOF form on the corpus + edges") {
    import graft.functions.TextFunctions.{shingles, shinglesComposed, tokens}
    val diff = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        shingles(col("toks"), 3).as("a"), shinglesComposed(col("toks"), 3).as("b"))
      .filter(not(col("a") === col("b")))
      .count()
    assert(diff === 0)
    // edges: fewer tokens than k -> empty; exactly k -> one; null -> null
    import spark.implicits._
    val edge = Seq(Some("a b"), Some("a b c"), None).toDF("text")
      .select(shingles(split(col("text"), " "), 3).as("shs"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(edge(0) === Seq.empty)
    assert(edge(1) === Seq("a b c"))
    assert(edge(2) === null)
  }

  test("streaming Gopher gate over a file stream equals the batch gate") {
    import graft.streaming.EventStream
    import graft.queries.TextOps
    val docsPath = s"$dir/documents.parquet"
    val schema = spark.read.parquet(docsPath).schema
    val tmp = java.nio.file.Files.createTempDirectory("gate").toString
    // a file-stream source watches a DIRECTORY; stage the table into one
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$tmp/in"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(docsPath),
      java.nio.file.Paths.get(s"$tmp/in/documents.parquet"))
    val streamed = TextOps.gopherGate(
      EventStream.fileStream(spark, s"$tmp/in", schema))
    EventStream.runAvailableNow(streamed, s"$tmp/out", s"$tmp/ckpt")
    val got = spark.read.parquet(s"$tmp/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val want = TextOps.gopherGate(spark.read.parquet(docsPath))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("cosine expression accepts double arrays and matches float-side math") {
    import graft.plans.CosineSimilarity.cosineSim
    val df = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("as_double", col("embedding").cast("array<double>"))
    val both = df.select(
      cosineSim(col("embedding"), col("embedding")).as("ff"),
      cosineSim(col("as_double"), col("as_double")).as("dd"),
      cosineSim(col("embedding"), col("as_double")).as("fd"))
      .collect()
    both.foreach { r =>
      // float values widen exactly to double: all three spellings are the
      // same sequence of double ops -> bit-identical results
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(0) === r.getDouble(2))
    }
  }

  /** In-memory reference BPE (same algorithm, same tie-break) the
    * distributed trainer must reproduce exactly. */
  private def referenceBpe(words: Map[String, Long], k: Int,
      endMark: String = "</w>"): Seq[(String, String)] = {
    var syms: Map[Seq[String], Long] = words.map { case (w, f) =>
      val cs = w.map(_.toString)
      (cs.init :+ (cs.last + endMark)) -> f
    }
    val out = Seq.newBuilder[(String, String)]
    for (_ <- 1 to k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      syms.foreach { case (s, f) =>
        s.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + f
          case _ =>
        }
      }
      if (counts.nonEmpty) {
        val (l, r) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += ((l, r))
        syms = syms.groupMapReduce {
          case (s, _) => graft.operators.BpeTrainer.applyMerge(s, l, r)
        }(_._2)(_ + _)
      }
    }
    out.result()
  }

  test("q149 UniMax: budget conserved, caps respected, capped set is an ascending-capacity prefix") {
    val rows = SparkEntry.queries("q149_unimax_budget")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3), r.getDouble(4), r.getDouble(5)))
    val totTokens = rows.map(_._2).sum.toDouble
    val totAlloc = rows.map(_._5).sum
    // budget = one corpus-worth of tokens, conserved up to 4dp rounding
    assert(math.abs(totAlloc - totTokens) < 0.01 * rows.length,
      s"allocated $totAlloc vs budget $totTokens")
    rows.foreach { case (src, n, cap, capped, alloc, epochs) =>
      // nobody exceeds their epoch cap
      assert(epochs <= cap + 1e-6, s"$src epochs $epochs over cap $cap")
      // capped domains get EXACTLY their capacity
      if (capped) assert(math.abs(alloc - n * cap) < 1e-3,
        s"$src capped but alloc $alloc != capacity ${n * cap}")
    }
    // uncapped domains all share ONE residual allocation (the water level)
    val residuals = rows.filter(!_._4).map(_._5).distinct
    assert(residuals.size <= 1,
      s"uncapped allocations must be equal, got $residuals")
    // the capped set is a prefix of the ascending-capacity order
    val byCapacity = rows.sortBy(r => (r._2 * r._3, r._1))
    val firstUncapped = byCapacity.indexWhere(!_._4)
    if (firstUncapped >= 0)
      assert(byCapacity.drop(firstUncapped).forall(!_._4),
        "capped set must be a prefix of the capacity sort")
    // the fixture actually SPLITS (both capped and uncapped exist) —
    // otherwise the waterfill is degenerate and proves nothing
    assert(rows.exists(_._4) && rows.exists(!_._4))
  }

  test("BPE trainer reproduces the in-memory reference on a crafted corpus") {
    import graft.operators.BpeTrainer
    import spark.implicits._
    // the classic subword-NMT shape: shared stems, distinct suffixes
    val docs = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "newest newest newest", "widest widest widest").toDF("text")
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = referenceBpe(words, 8)
    val got = BpeTrainer.train(docs, "text", 8).map(m => (m.left, m.right))
    assert(got === want)
    // the famous first merges: 'est' assembles before anything rarer
    assert(got.take(2).toSet.subsetOf(Set(("e", "s"), ("s", "t</w>"),
      ("es", "t</w>"), ("e", "st</w>"))))
  }

  test("BPE driver gate: local loop = distributed loop merge-for-merge, at O(1) jobs") {
    import graft.operators.BpeTrainer
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("text")
    // distributed loop forced with driverMax = 0 — the ground truth
    val distributed = BpeTrainer.train(docs, "text", 10, driverMax = 0)
    // driver-gated loop, its jobs counted
    val (gated, counts) = graft.core.Meter.measure(spark)(
      BpeTrainer.train(docs, "text", 10))
    assert(gated === distributed)
    // corpus read + probe collect (+ AQE sub-jobs) — NOT O(numMerges):
    // the distributed loop would run ~2 jobs per merge (20+ here)
    assert(counts.jobs <= 6,
      s"driver-gated train ran ${counts.jobs} jobs — merge loop not gated?")
  }

  test("BPE trainer is deterministic and merges shrink encoded lengths monotonically") {
    import graft.operators.BpeTrainer
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.01", "documents")
      .select("text").limit(100)
    val m1 = BpeTrainer.train(docs, "text", 6)
    val m2 = BpeTrainer.train(docs, "text", 6)
    assert(m1 === m2)
    // each successive merge can only reduce the corpus subword total
    def total(k: Int): Long = BpeTrainer.encodedLengths(docs, "text", m1.take(k))
      .select((col("freq") * col("n_subwords")).as("t"))
      .agg(sum("t")).head().getLong(0)
    val totals = (0 to 6).map(total)
    totals.sliding(2).foreach { case Seq(a, b) => assert(b < a) }
    // encodeWord round-trip: concatenated subwords spell the word + mark
    val enc = BpeTrainer.encodeWord("sparkly", m1)
    assert(enc.mkString == "sparkly</w>")
  }

  test("q115 negatives: K distinct per anchor, same shard, never the anchor, epoch-stable") {
    val rows = SparkEntry.queries("q115_negative_samples")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    val perm = SparkEntry.queries("q111_epoch_shuffle")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byAnchor = rows.groupBy(_._1)
    assert(byAnchor.keySet === perm.keySet, "every document is an anchor")
    byAnchor.foreach { case (a, ns) =>
      assert(ns.map(_._2).sorted.toSeq === Seq(1, 2, 3, 4),
        s"anchor $a offsets ${ns.map(_._2).toSeq}")
      assert(ns.map(_._3).distinct.length === 4,
        s"anchor $a drew a duplicate negative")
      assert(!ns.map(_._3).contains(a), s"anchor $a drew itself")
      ns.foreach { case (_, _, neg, shard) =>
        assert(perm(neg) === shard, "negative outside the anchor's shard")
      }
    }
    // reproducibility: the draw is a pure function of (epoch, corpus)
    val again = SparkEntry.queries("q115_negative_samples")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(rows.sortBy(t => (t._1, t._2)).toSeq ===
      again.sortBy(t => (t._1, t._2)).toSeq)
  }
  test("q154 packing: full chunks hold exactly 64 tokens, every doc's tokens are fully assigned, chunk ids are contiguous per shard") {
    val rows = SparkEntry.queries("q154_sequence_pack")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // (b) conservation: per doc, the chunk spans sum to the doc's tokens
    val perDoc = rows.groupBy(_._3)
    perDoc.foreach { case (doc, rs) =>
      assert(rs.map(_._5).sum === rs.head._4,
        s"doc $doc: chunk spans ${rs.map(_._5).sum} != n_tokens ${rs.head._4}")
    }
    // (a) every chunk except each shard's LAST holds exactly 64 tokens
    val perChunk = rows.groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> rs.map(_._5).sum }
    val lastChunk = perChunk.keys.groupBy(_._1)
      .map { case (sh, ks) => sh -> ks.map(_._2).max }
    perChunk.foreach { case ((sh, c), tot) =>
      if (c != lastChunk(sh))
        assert(tot === 64L, s"shard $sh chunk $c packs $tot tokens != 64")
      else assert(tot >= 1L && tot <= 64L)
    }
    // (c) contiguity: chunk ids per shard are 0..max with no holes
    perChunk.keys.groupBy(_._1).foreach { case (sh, ks) =>
      val ids = ks.map(_._2).toSeq.sorted
      assert(ids === (0L to ids.max), s"shard $sh chunk ids have holes")
    }
    // packing actually packs: more than one doc in some chunk
    assert(rows.groupBy(r => (r._1, r._2)).exists(_._2.map(_._3).distinct.size > 1))
  }

  test("q160 BFD packing: bins never overflow, greedy is best-fit, and the padding-waste comparison vs q154 holds") {
    val L = 64L
    val rows = SparkEntry.queries("q160_pack_bfd")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // (a) capacity: per (shard, bin), Σ n_eff ≤ L, and every doc appears once
    val perBin = rows.groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> rs.map(_._4).sum }
    perBin.foreach { case ((sh, b), tot) =>
      assert(tot <= L, s"shard $sh bin $b overflows: $tot > $L") }
    assert(rows.map(_._3).distinct.length === rows.length,
      "a doc was packed twice")
    // (b) replay the greedy locally and require the identical assignment
    // (pins both the BFD rule and the (n DESC, doc_id) order)
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (sh, rs) =>
      val rem = scala.collection.mutable.ArrayBuffer[Long]()
      rs.sortBy(r => (-r._4, r._3)).map { case (_, _, doc, n) =>
        var bi = -1; var best = Long.MaxValue
        for (i <- rem.indices)
          if (rem(i) >= n && rem(i) < best) { best = rem(i); bi = i }
        if (bi < 0) { rem += (L - n); bi = rem.length - 1 }
        else rem(bi) -= n
        (sh, doc) -> bi.toLong
      }.toSeq
    }.toMap
    rows.foreach { case (sh, b, doc, _) =>
      assert(expected((sh, doc)) === b,
        s"shard $sh doc $doc: engine bin $b != reference BFD ${expected((sh, doc))}")
    }
    // (c) the padding-waste comparison (the r15 verdict's column): BFD
    // keeps docs whole and pays padding; q154's concat-and-chunk pays
    // ZERO padding but splits docs across sequences. Both sides of the
    // trade, measured on the same corpus:
    val nTok = rows.map(_._4).sum.toDouble
    val bfdSlots = perBin.size * L
    val bfdWaste = (bfdSlots - nTok) / bfdSlots
    val q154 = SparkEntry.queries("q154_sequence_pack")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val splitDocs = q154.groupBy(_._3).count(_._2.length > 1)
    info(f"padding waste — BFD ${bfdWaste * 100}%.1f%% of slots " +
      f"(${perBin.size} bins), q154 0%% but $splitDocs of " +
      f"${q154.map(_._3).distinct.length} docs split across sequences; " +
      f"BFD splits 0")
    // BFD must beat the naive arrival-order next-fit packer it exists
    // to improve on (same whole-doc contract, no sort, no best-fit)
    val nextFitBins = rows.groupBy(_._1).map { case (_, rs) =>
      var bins = 0L; var room = 0L
      rs.sortBy(_._3).foreach { case (_, _, _, n) =>
        if (n > room) { bins += 1; room = L }
        room -= n
      }
      bins
    }.sum
    assert(perBin.size <= nextFitBins,
      s"BFD used ${perBin.size} bins, naive next-fit $nextFitBins")
    info(s"bins — BFD ${perBin.size} vs arrival-order next-fit $nextFitBins")
  }

  test("q162 training manifest: kept docs only, copies in {floor(epochs), +1}, realized tokens bracket the allocation, deterministic") {
    val rows = SparkEntry.queries("q162_training_manifest")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // (a) exactly the q77-kept docs, each once
    val keepSet = SparkEntry.queries("q77_gopher_filter")(spark, dir)
      .filter(col("keep")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.map(_._1).toSet === keepSet,
      "manifest doc set != the Gopher keep set")
    assert(rows.length === keepSet.size, "a doc appears twice")
    // (b) per source: n_copies ∈ {whole, whole+1} where whole =
    // alloc_micro div (t_src·1e6), recomputed from the same chain; and
    // the realized token count is BRACKETED by [whole·T, (whole+1)·T]
    // (every doc gets whole copies; the extras' tokens are ≤ T)
    val kept = graft.sources.Tables(spark, dir, "documents")
      .join(SparkEntry.queries("q77_gopher_filter")(spark, dir)
        .filter(col("keep")).select("doc_id"), "doc_id")
      .select(col("doc_id"), col("source"), col("text"))
    val alloc = graft.queries.CurationOps.unimaxAlloc(kept)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), math.round(r.getDouble(4) * 1000000))).toMap
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val (tSrc, allocMicro) = alloc(src)
      val whole = allocMicro / (tSrc * 1000000L)
      rs.foreach { case (doc, _, _, c) =>
        assert(c == whole || c == whole + 1,
          s"$src doc $doc: $c copies, expected $whole or ${whole + 1}") }
      val realized = rs.map(r => r._3 * r._4).sum
      assert(realized >= whole * tSrc && realized <= (whole + 1) * tSrc,
        s"$src realized $realized outside [${whole * tSrc}, ${(whole + 1) * tSrc}]")
    }
    // (c) a re-run regenerates the identical manifest (no rand())
    val again = SparkEntry.queries("q162_training_manifest")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet === rows.toSet, "manifest is not deterministic")
    // the fractional Bernoulli is live: some source mixes copy counts
    assert(rows.groupBy(_._2).exists(_._2.map(_._4).distinct.size > 1),
      "no source has mixed copy counts — the fractional path never fired")
  }

  test("q161 perplexity filter: monotone near-third terciles, keep == not-tail, OOV pushes a doc to the tail") {
    val rows = SparkEntry.queries("q161_ppl_filter")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getBoolean(4)))
    val byBucket = rows.groupBy(_._4)
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    rows.foreach { case (doc, _, _, b, keep) =>
      assert(keep === (b != "tail"), s"doc $doc: keep flag != bucket rule") }
    // monotone: every head ppl <= every middle ppl <= every tail ppl
    assert(byBucket("head").map(_._3).max <= byBucket("middle").map(_._3).min)
    assert(byBucket("middle").map(_._3).max <= byBucket("tail").map(_._3).min)
    // near-thirds (exact-percentile cutoffs; 4dp ties can shift a few docs)
    val n = rows.length.toDouble
    byBucket.foreach { case (b, rs) =>
      assert(math.abs(rs.length - n / 3) <= 0.15 * n,
        s"bucket $b holds ${rs.length} of ${rows.length} docs — not a tercile") }

    // OOV is load-bearing (the lake's 31-token salad never leaves the
    // reference vocab — measured 0 OOV at sf0.01): craft a corpus =
    // the lake's en docs + one holdout-bucket doc of UNSEEN tokens;
    // the add-one OOV penalty ln(1/(np+v)) must rank it worst → tail
    val en = graft.sources.Tables(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val oovId = spark.range(1000000, 1100000).toDF("doc_id")
      .filter(pmod(graft.functions.TextFunctions
        .stableHash(col("doc_id").cast("string")), lit(100)) >= 90)
      .orderBy("doc_id").limit(1).collect()(0).getLong(0)
    val tmp = java.nio.file.Files.createTempDirectory("pplspec").toString
    try {
      import spark.implicits._
      val oovDoc = Seq((oovId, "qqxz1 qqxz2 qqxz3 qqxz4 qqxz5 qqxz6",
        "en", "synthetic", 35L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      en.unionByName(oovDoc).write.mode("overwrite")
        .parquet(s"$tmp/documents.parquet")
      val crafted = SparkEntry.queries("q161_ppl_filter")(spark, tmp)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getString(3)))
      val (_, oovPpl, oovBucket) = crafted.find(_._1 == oovId).get
      assert(oovBucket === "tail",
        s"all-OOV doc landed in $oovBucket (logppl $oovPpl)")
      assert(oovPpl > crafted.filter(_._1 != oovId).map(_._2).max,
        "all-OOV doc must carry the worst perplexity in the corpus")
    } finally {
      graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(tmp))
    }
  }

  test("q155 text drift: in-distribution holdout stays under the bar, the shifted batch lands far over it") {
    val rows = SparkEntry.queries("q155_text_drift")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(4), r.getBoolean(5))).toMap
    val (klIn, drIn) = rows("en_holdout")
    val (klSh, drSh) = rows("shifted")
    info(f"KL holdout $klIn%.4f, shifted $klSh%.4f")
    assert(!drIn && klIn >= 0.0 && klIn < 0.5,
      f"in-distribution batch KL $klIn%.4f should sit well under the 1.0 bar")
    assert(drSh && klSh > 2.0,
      f"shifted batch KL $klSh%.4f should land far over the 1.0 bar")
  }

}
