package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.IndexOps

/** Inverted index (q118) + BM25 retrieval (q119): postings are exact
  * ascending prefixes of the true posting lists, df/cf reconcile with the
  * corpus, and ranked retrieval is self-consistent (a probe's own document
  * is its top hit; ranks follow the (score desc, doc asc) order). */
class IndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  test("q118: postings are the P lowest doc_ids of each token's true posting list; df/cf reconcile") {
    val idx = IndexOps.queries("q118_inverted_index")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3).split(",").map(_.toLong).toSeq)).toSeq
    // reference posting lists straight from the corpus
    val ref = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(sort_array(collect_set(col("doc_id"))).as("all"),
        count(lit(1)).as("cf"))
      .collect().map(r => r.getString(0) ->
        (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(idx.nonEmpty && idx.size === ref.size)
    idx.foreach { case (tok, df, cf, postings) =>
      val (all, refCf) = ref(tok)
      assert(df === all.size, s"df mismatch for $tok")
      assert(cf === refCf, s"cf mismatch for $tok")
      assert(postings === all.take(16), s"postings not the ascending prefix for $tok")
    }
  }

  test("q119 (gated, elided): ranks follow (score desc, doc asc); 10 rows per probe") {
    val rows = IndexOps.queries("q119_bm25_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.size === 5)
    byProbe.foreach { case (probe, rs) =>
      val sorted = rs.sortBy(_._2)
      // (score desc, doc asc) strictly ordered down the ranks. NOTE: the
      // gated q119 runs the MaxDfFrac head-term elision cut, and on this
      // corpus (30 tokens at df/N ≈ 0.75–0.83, one at 0.05) the 0.5 cut
      // leaves exactly the one discriminative token — so self-retrieval is
      // NOT a property of the elided run (the probe's doc carries the term
      // but shorter/denser docs outscore it); it is asserted on the
      // un-elided retrieval in the next test. That is the stopword
      // tradeoff the knob implements: bounded per-query cost for recall
      // loss on head-dominated queries.
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, d1, s1), (_, _, d2, s2)) =>
          assert(s1 > s2 || (s1 == s2 && d1 < d2),
            s"rank order violated for probe $probe: ($d1,$s1) before ($d2,$s2)")
        case _ =>
      }
      assert(rs.length === 10)
    }
  }

  test("un-elided BM25: every probe retrieves itself near the top") {
    // the full-query (maxDfFrac = 1.0) retrieval — q119's pre-r11
    // spelling: a probe's own document places in the top 3 (not
    // necessarily rank 1: BM25 length normalization can prefer a shorter
    // doc denser in the query terms — observed probe 5 at rank 2 behind
    // doc 359 at sf0.01)
    val post = IndexOps.postingsOf(
      graft.sources.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("text")))
    val lens = post.groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val rows = IndexOps.bm25ThroughIndex(
        post.groupBy("tok").agg(count(lit(1)).as("df")), post, lens)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.size === 5)
    byProbe.foreach { case (probe, rs) =>
      val selfRank = rs.sortBy(_._2).indexWhere(_._3 == probe)
      assert(selfRank >= 0 && selfRank < 3,
        s"probe $probe self-rank $selfRank outside top 3")
    }
  }

  test("corpus contract: documents text is never null or empty") {
    // pins the NON-NULL TEXT contract postingsOf documents (r10 ADVICE):
    // a null-text doc would hold no postings and vanish from the
    // index-only lens (q122's groupBy(doc_id).max(dl)) while the oracle's
    // direct-scan lens still counts it in n_docs — this assertion makes
    // that divergence impossible to introduce silently
    val bad = graft.sources.Tables(spark, dir, "documents")
      .filter(col("text").isNull || col("text") === "").count()
    assert(bad === 0L, s"$bad documents violate the non-null-text contract")
  }

  test("incremental index: batch ⊎ store ≡ full rebuild (df/cf/postings exact)") {
    val d = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 900)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toList)).sortBy(_._1).toSeq
    // three disjoint batches folded pairwise vs the one-shot build
    val batches = Seq((0L, 300L), (300L, 600L), (600L, 900L)).map {
      case (lo, hi) => IndexOps.termIndexOf(IndexOps.postingsOf(
        d.filter(col("doc_id") >= lo && col("doc_id") < hi)))
    }
    val inc = batches.reduce(IndexOps.termIndexAppend)
    val full = IndexOps.termIndexOf(IndexOps.postingsOf(d))
    assert(canon(inc) === canon(full))
  }

  test("bm25ThroughIndex over composed artifacts ≡ q119 over the same slice") {
    val d = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 600)
    val post = IndexOps.postingsOf(d)
    val viaIndex = IndexOps.bm25ThroughIndex(IndexOps.termIndexOf(post), post,
        post.groupBy("doc_id").agg(max(col("dl")).as("dl")),
        maxDfFrac = IndexOps.MaxDfFrac) // the gated q122 cut, mirrored
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    // the gated q122 builds the same answers through 3-way composition
    val composed = IndexOps.queries("q122_bm25_index_compose")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(viaIndex === composed && viaIndex.nonEmpty)
  }

  test("q125 sharded-store serve ≡ composed-index retrieval over the same slice") {
    // same slice, same elision cut, same oracle SQL — serving through the
    // pruned FILES must produce exactly the composed-index answers
    def canon(name: String) = IndexOps.queries(name)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(t => (t._1, t._2)).toSeq
    val viaStore = canon("q125_bm25_sharded_store")
    val composed = canon("q122_bm25_index_compose")
    assert(viaStore === composed && viaStore.nonEmpty)
  }

  test("sharded store: serving a query reads a fraction of the store records") {
    // the deployment property behind q125: a query's terms map to a known
    // shard subset (partition pruning on the shard= directories; at real
    // row-group sizes the tok-sorted stats prune further within a shard).
    // Measured with the ScaleSpec listener recipe: records read by the
    // pruned serve scan vs a full-store pass.
    val d = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 600)
    val post = IndexOps.postingsOf(d)
    val base = java.nio.file.Files.createTempDirectory("idxstore").toString
    try {
      IndexOps.writePostingsStore(post, s"$base/p")
      val store = spark.read.parquet(s"$base/p")
      // one term from one shard — the degenerate corpus's discriminative
      // token is what elided queries actually serve
      val probe = store.select(col("tok"), col("shard"))
        .filter(col("tok") === "dup").limit(1).collect()
      assert(probe.nonEmpty, "fixture token 'dup' must exist in the store")
      val shard = probe.head.getInt(1)
      def measured(f: => Unit): Long =
        graft.core.Meter.measure(spark)(f)._2.inputRecords
      val full = measured(store.agg(sum(col("tf"))).collect())
      val pruned = measured(
        store.filter(col("shard") === shard && col("tok") === "dup")
          .agg(sum(col("tf"))).collect())
      // 8 shards: the pruned scan touches ~1/8 of the records (one shard
      // directory); ×4 margin absorbs shard-size skew
      assert(pruned * 4 < full,
        s"pruned serve read $pruned of $full records — no pruning happened")
    } finally graft.export.Exporter.deleteRecursively(
      java.nio.file.Paths.get(base))
  }

  test("head-term elision: no scored candidate is reached via a head term") {
    // r10 ADVICE: assert elision SEMANTICS (candidates reachable only
    // through tail postings), not fixture-specific output differences,
    // and derive the cut from an actually-observed df gap so the test is
    // a property of the operator on any corpus with distinct df values.
    val d = graft.sources.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 600)
    val post = IndexOps.postingsOf(d)
    val lens = post.groupBy("doc_id").agg(max(col("dl")).as("dl"))
    val idx = IndexOps.termIndexOf(post)
    val nDocs = lens.count()
    // maxDfFrac = 1.0 (explicit) ≡ the default — the vacuous cut changes
    // nothing whatever the distribution
    val default = IndexOps.bm25ThroughIndex(idx, post, lens).collect()
    val gated = IndexOps.bm25ThroughIndex(idx, post, lens, maxDfFrac = 1.0)
      .collect()
    assert(default.map(_.toString).sorted.toSeq ===
      gated.map(_.toString).sorted.toSeq)
    val dfs = idx.select(col("df")).collect().map(_.getLong(0)).distinct.sorted
    if (dfs.length >= 2) {
      // cut inside the widest OBSERVED df gap: head/tail are real sets by
      // construction, not an artifact of a fixed fraction meeting this
      // fixture's distribution (an exactly-flat distribution has no gap
      // and takes the vacuous branch above)
      val (lo, hi) = dfs.zip(dfs.tail).maxBy { case (a, b) => b - a }
      val frac = ((lo + hi) / 2.0) / nDocs
      val tail = idx.filter(col("df").cast("double") <= frac * nDocs)
        .select("tok").collect().map(_.getString(0)).toSet
      assert(tail.nonEmpty && tail.size < dfs.length,
        "gap cut must split the vocab into non-empty head and tail")
      val elided = IndexOps.bm25ThroughIndex(idx, post, lens, maxDfFrac = frac)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      // the direct semantic claim: every (probe, candidate) pair shares
      // at least one TAIL token — a candidate reachable only through a
      // head (elided) term can never be scored
      val docToks = post.select(col("doc_id"), col("tok")).collect()
        .groupBy(_.getLong(0)).map { case (id, rs) =>
          id -> rs.map(_.getString(1)).toSet }
      elided.foreach { case (probe, cand) =>
        val sharedTail = docToks(probe).intersect(docToks(cand))
          .intersect(tail)
        assert(sharedTail.nonEmpty,
          s"candidate $cand of probe $probe reached without a tail term")
      }
      // probe eligibility (the retrieval contract): every probe itself
      // holds ≥ 1 tail term — an all-head query is empty and never probes
      elided.map(_._1).distinct.foreach { p =>
        assert(docToks(p).intersect(tail).nonEmpty,
          s"probe $p has no surviving query term")
      }
      assert(elided.nonEmpty, "tail terms must still answer queries")
    }
  }
}
