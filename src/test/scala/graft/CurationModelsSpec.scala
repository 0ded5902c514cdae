package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.{DagRunner, EngineConfig, MetaStore}
import graft.models.CurationModels

/** The curation pipeline as a warehouse DAG: topo order, audits (keeper
  * uniqueness, split coverage, leakage-safety), exports, meta tracking —
  * end-to-end on the sf0.001 documents lake. */
class CurationModelsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("curation DAG runs green: clusters, keepers, leakage-safe splits") {
    val wh = Files.createTempDirectory("graft_curation").toString
    val cfg = EngineConfig("/root/testdata/sf0.001", wh, s"$wh/exports")
    val runner = new DagRunner(spark, cfg, CurationModels.catalog,
      Some(new MetaStore(spark, s"$wh/meta_store")))
    val results = runner.run(failFast = true)
    assert(results.map(r => r.model -> r.status).toMap
      === CurationModels.catalog.map(_.name -> "success").toMap, results)

    val docs = spark.table("documents_raw").count()
    val splits = spark.read.parquet(s"$wh/exports/marts/corpus_splits.parquet")
    assert(splits.count() === docs, "every doc exactly once in the split")
    assert(splits.select("split").distinct().collect().map(_.getString(0))
      .toSet.subsetOf(Set("train", "val", "test")))

    val keepers = spark.read.parquet(s"$wh/exports/marts/corpus_keepers.parquet")
    val nClusters = spark.table("dedup_clusters")
      .select("cluster_id").distinct().count()
    assert(keepers.count() === nClusters, "one keeper per cluster")

    // leakage-safety, re-checked from the exported artifacts: joining the
    // split table to itself on cluster must never pair two splits
    val sp = splits.select("doc_id", "cluster_id", "split")
    val straddle = sp.alias("a")
      .join(sp.alias("b"), Seq("cluster_id"))
      .filter(col("a.split") =!= col("b.split")).count()
    assert(straddle === 0L, "no cluster straddles a split boundary")
  }

  test("incremental ingest: folding a new doc batch reproduces full clusters") {
    // the 100 TB ingest path on REAL near-dup pairs: docs < 300 are the old
    // corpus with a finished cluster assignment; the rest arrive as a new
    // batch. Only pairs touching a new doc are generated (band the new docs
    // against the full signature store) and folded in — the old corpus is
    // never re-clustered.
    val dir = "/root/testdata/sf0.001"
    val allPairs = graft.queries.DedupOps
      .queries("q33_minhash_lsh_pairs")(spark, dir)
      .filter(col("est_jaccard") >= 0.5)
      .select("doc_a", "doc_b")
    val docs = graft.sources.Tables(spark, dir, "documents").select("doc_id")
    val oldDocs = docs.filter(col("doc_id") < 300)
    val oldAssign = graft.operators.ConnectedComponents.hashMin(
      allPairs.filter(col("doc_a") < 300 && col("doc_b") < 300), oldDocs)
    val newPairs = allPairs.filter(col("doc_a") >= 300 || col("doc_b") >= 300)
    val inc = graft.operators.ConnectedComponents
      .incremental(oldAssign, newPairs, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.queries.CurationOps
      .queries("q47_dedup_clusters")(spark, dir)
      .select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
  }

  test("a broken invariant fails the model run (audit gate)") {
    val wh = Files.createTempDirectory("graft_curation_bad").toString
    val cfg = EngineConfig("/root/testdata/sf0.001", wh, s"$wh/exports")
    // sabotage: a keeper model that drops clusters — the coverage audit
    // must fail the model, not silently export a partial mart. The splits
    // mart is wired downstream of the keepers so failFast has a model it
    // must never start (siblings run concurrently and may finish first).
    val broken = CurationModels.catalog.map {
      case m if m.name == "corpus_keepers" =>
        m.copy(build = Some((s, _) =>
          s.table("dedup_clusters")
            .filter(col("doc_id") < 10)
            .select(col("cluster_id"), col("doc_id").as("keeper_doc_id"),
              lit(1.0).as("keeper_quality"))))
      case m if m.name == "corpus_splits" =>
        m.copy(dependsOn = m.dependsOn :+ "corpus_keepers")
      case m => m
    }
    val results = new DagRunner(spark, cfg, broken).run(failFast = true)
    val byName = results.map(r => r.model -> r.status).toMap
    assert(byName("corpus_keepers") === "audit_failed", byName)
    assert(byName("corpus_splits") === "skipped", "failFast must skip downstream")
  }
}
