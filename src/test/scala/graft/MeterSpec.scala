package graft

import java.nio.file.Files

import org.apache.spark.TestBus
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Meter

class MeterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a known job gives exactly the jobs, stages and tasks Spark reports") {
    val sc = spark.sparkContext
    val group = "meter-spec-known-job"
    sc.setJobGroup(group, group)
    val (n, c) = try Meter.measure(spark)(spark.range(0, 1000, 1, 4).count())
      finally sc.clearJobGroup()
    assert(n === 1000L)
    // Spark's own record of the same window: its status store is fed by
    // the same bus, which measure drained
    val tracker = sc.statusTracker
    val jobIds = tracker.getJobIdsForGroup(group).toSeq
    val ran = jobIds.flatMap(id => tracker.getJobInfo(id).get.stageIds)
      .distinct.flatMap(tracker.getStageInfo(_))
      .filter(_.numCompletedTasks > 0)
    assert(c.jobs === jobIds.size)
    assert(c.stages === ran.size)
    assert(c.tasks === ran.map(_.numCompletedTasks).sum)
    // AQE: a map-stage job of 4 range tasks, then the 1-task final
    // aggregate (its map stage skipped)
    assert((c.jobs, c.stages, c.tasks) === ((2L, 2L, 5L)))
    assert(c.shuffleWriteBytes > 0 && c.shuffleReadBytes > 0)
  }

  test("the window holds exactly the events its body caused, however far the bus lags") {
    val sc = spark.sparkContext
    // a burst posted just before the window must stay out of it, and one
    // posted inside must be counted whole: the drains on both sides
    TestBus.postStageBurst(sc, 2000)
    val (_, c) = Meter.measure(spark)(TestBus.postStageBurst(sc, 2000))
    assert(c.stages === 2000L)
  }

  test("q05, q119 and q128 repeat their jobs, stages and shuffle bytes across warm passes") {
    val dir = SparkTestBase.testData("0.01")
    val qs = Seq("q05_mart_denorm", "q119_bm25_topk", "q128_tfidf_cosine_pairs")
    def pass() = qs.map(q => Meter.measure(spark)(SparkEntry.queries(q)(spark, dir)
      .write.format("noop").mode("overwrite").save())._2)
    graft.queries.ArtifactCache.clearAll()
    pass() // cold: builds the shared artifacts
    val (a, b) = (pass(), pass())
    qs.zip(a.zip(b)).foreach { case (q, (x, y)) =>
      assert(x.jobs > 0, q)
      assert((x.jobs, x.stages, x.shuffleReadBytes, x.shuffleWriteBytes) ===
        ((y.jobs, y.stages, y.shuffleReadBytes, y.shuffleWriteBytes)), q)
    }
  }

  test("measure leaves the bus with the listeners it found, also when the body throws") {
    val sc = spark.sparkContext
    val before = TestBus.listenerCount(sc)
    Meter.measure(spark)(spark.range(10).count())
    assert(TestBus.listenerCount(sc) === before)
    intercept[IllegalStateException](Meter.measure(spark) {
      spark.range(10).count()
      throw new IllegalStateException("body failed")
    })
    assert(TestBus.listenerCount(sc) === before)
  }

  test("Probe profiles one query on sf0.001 and writes its formatted plan") {
    val plan = Files.createTempDirectory("probe_plans").resolve("q05_smoke.txt")
    val p = graft.tools.Probe.profile(spark,
      SparkTestBase.testData("0.001"), "q05_mart_denorm", Some(plan))
    assert(p.counts.jobs >= 1)
    assert(p.executeSec > 0 && p.counts.wallSec >= p.executeSec)
    assert(p.line(1).startsWith("[probe] pass=1 q05_mart_denorm"))
    assert(new String(Files.readAllBytes(plan), "UTF-8").contains("Physical Plan"))
  }
}
