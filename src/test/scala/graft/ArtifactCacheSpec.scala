package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Millis, Seconds, Span}
import graft.queries.ArtifactCache
import graft.queries.ArtifactCache.Kind

class ArtifactCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val Num = new Kind[Int]("spec.num")
  private val Frame = new Kind[org.apache.spark.sql.DataFrame]("spec.frame")

  test("a build may read another artifact from the same cache") {
    val (outer, inner) = (new AtomicInteger, new AtomicInteger)
    // enough nested entries to resize the map under a build that held its
    // bin, which a build run inside computeIfAbsent would not survive
    def get(): Int = ArtifactCache(spark, "spec://nested", Num) {
      outer.incrementAndGet()
      (1 to 100).map(i => ArtifactCache(spark, "spec://nested", Num, i) {
        inner.incrementAndGet(); i
      }).sum
    }
    ArtifactCache.clearAll()
    assert(get() === 5050)
    assert(get() === 5050)
    assert((outer.get, inner.get) === ((1, 100)))
  }

  test("8 threads on one key run exactly one build") {
    val builds = new AtomicInteger
    val barrier = new CyclicBarrier(8)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map(_ => pool.submit(() => {
        barrier.await()
        ArtifactCache(spark, "spec://threads", Num) {
          Thread.sleep(200); builds.incrementAndGet()
        }
      }))
      assert(futures.map(_.get(60, TimeUnit.SECONDS)).toSet === Set(1))
      assert(builds.get === 1)
    } finally pool.shutdownNow()
  }

  test("a build that throws is built again on the next call") {
    val calls = new AtomicInteger
    def get(): Int = ArtifactCache(spark, "spec://throws", Num) {
      if (calls.incrementAndGet() == 1) throw new IllegalStateException("boom")
      42
    }
    assertThrows[IllegalStateException](get())
    assert(get() === 42)
    assert(get() === 42)
    assert(calls.get === 2)
  }

  test("put replaces an entry and remove drops it") {
    val builds = new AtomicInteger
    def get(): Int = ArtifactCache(spark, "spec://put", Num, 3) {
      builds.incrementAndGet(); 1
    }
    assert(get() === 1)
    ArtifactCache.put(spark, "spec://put", Num, 3)(2)
    assert(get() === 2)
    ArtifactCache.remove(spark, "spec://put", Num, 3)
    assert(get() === 1)
    assert(builds.get === 2)
  }

  test("retainOnly drops the kind's other keys on that dir, and nothing else") {
    val builds = new AtomicInteger
    def get(dir: String, i: Int): Int = ArtifactCache(spark, dir, Num, "w", i) {
      builds.incrementAndGet(); i
    }
    Seq(1, 2, 3).foreach(get("spec://retain", _))
    get("spec://retain-other", 1)
    ArtifactCache.retainOnly(spark, "spec://retain", Num, "w", 3)
    assert(builds.get === 4)
    get("spec://retain", 3)
    get("spec://retain-other", 1)
    assert(builds.get === 4, "the kept key and the other dir's entry stay")
    get("spec://retain", 1)
    get("spec://retain", 2)
    assert(builds.get === 6, "the dropped keys build again")
  }

  test("overflow drops references only: a returned lazy checkpoint still answers") {
    val lazyFrame = ArtifactCache(spark, "spec://overflow", Frame)(
      spark.range(0, 1000).toDF().localCheckpoint(eager = false))
    (0 to ArtifactCache.MaxEntries).foreach(i =>
      ArtifactCache(spark, "spec://overflow", Num, i)(i))
    assert(ArtifactCache.size < ArtifactCache.MaxEntries)
    assert(lazyFrame.count() === 1000L)
  }

  test("two sessions on one dir share no entries") {
    val other = spark.newSession()
    val builds = new AtomicInteger
    def get(s: org.apache.spark.sql.SparkSession): Int =
      ArtifactCache(s, "spec://sessions", Num)(builds.incrementAndGet())
    val (a, b) = (get(spark), get(other))
    assert(a !== b)
    assert((get(spark), get(other)) === ((a, b)))
    assert(builds.get === 2)
  }

  test("clearAll unpersists the checkpoint behind a frame still referenced") {
    val frame = ArtifactCache(spark, "spec://clear", Frame)(
      spark.range(0, 2000).toDF().localCheckpoint(eager = true))
    val ids = frame.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert(ids.nonEmpty && ids.forall(stored))
    ArtifactCache.clearAll()
    // no GC: `frame` keeps the RDD reachable, so only the unpersist frees it
    eventually(timeout(Span(30, Seconds)), interval(Span(200, Millis))) {
      assert(!ids.exists(stored))
    }
  }

  test("clearAll between passes leaves no entries and leaks no blocks") {
    val dir = SparkTestBase.testData("0.01")
    val pass = Seq("q126_knn_graph_nndescent", "q127_graph_ann_search",
      "q129_perceptron_classifier", "q138_perceptron_hashed",
      "q158_graph_batch_serve")
    def storedBytes: Long = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    // unpersist is asynchronous, and the ContextCleaner frees unreferenced
    // intermediate checkpoints only after a GC
    def eventuallyAtMost(bound: Long): Long = {
      eventually(timeout(Span(60, Seconds)), interval(Span(1, Seconds))) {
        System.gc()
        assert(storedBytes <= bound)
      }
      storedBytes
    }
    ArtifactCache.clearAll()
    val before = eventuallyAtMost(Long.MaxValue)
    val after = (1 to 3).map { _ =>
      pass.foreach(q => SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save())
      assert(ArtifactCache.size > 0)
      ArtifactCache.clearAll()
      assert(ArtifactCache.size === 0)
      // each clear frees everything its pass stored
      eventuallyAtMost(before)
    }
    info(s"block-manager bytes before the passes: $before, after each: " +
      after.mkString(", "))
    assert(after(2) <= after(0))
  }
}
