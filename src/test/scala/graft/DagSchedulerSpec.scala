package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, CyclicBarrier, TimeUnit}
import scala.jdk.CollectionConverters._

/** DagRunner's dependency-driven scheduling: models start when their
  * upstreams have ended, independent models overlap, results and the
  * MetaStore record keep `plan` order, failFast skips what has not
  * started, and no pool thread outlives `run`. */
class DagSchedulerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Models built by name: which ones were derived, and on which thread. */
  private val derivedOn = new ConcurrentHashMap[String, String]()

  private def model(name: String, deps: Seq[String] = Nil,
      mat: Materialization = Materialization.View)(
      body: SparkSession => DataFrame): Model =
    Model(name, "test", dependsOn = deps, materialization = mat,
      build = Some((s: SparkSession, _: EngineConfig) => {
        derivedOn.put(name, Thread.currentThread.getName)
        body(s)
      }))

  private def cfg() = {
    val wh = Files.createTempDirectory("graft_sched").toString
    EngineConfig("/none", wh, s"$wh/exports")
  }

  private def endMs(r: RunResult) = r.startedAtMs + math.round(r.durationS * 1000)

  private def poolThreads() = Thread.getAllStackTraces.keySet.asScala
    .filter(_.getName.startsWith("graft-dag-"))

  test("models start after their upstreams end; independent tables overlap") {
    // a and b only get past the barrier if both are running at once: a
    // serial runner times out there and fails the model
    val barrier = new CyclicBarrier(2)
    def both(s: SparkSession, col: String) = {
      barrier.await(60, TimeUnit.SECONDS)
      s.table("src").selectExpr(s"id AS $col")
    }
    val models = Seq(
      model("c", Seq("a", "b"))(_.sql("SELECT a_id FROM a JOIN b ON a_id = b_id")),
      model("a", Seq("src"), Materialization.Table)(both(_, "a_id")),
      model("b", Seq("src"), Materialization.Table)(both(_, "b_id")),
      model("src") { s => Thread.sleep(200); s.range(3).toDF() })
    val c = cfg()
    val runner = new DagRunner(spark, c, models, Some(new MetaStore(spark, c.warehouseDir)))
    derivedOn.clear()
    val res = runner.run()
    assert(res.forall(_.status == "success"), res.mkString("\n"))
    assert(res.map(_.model) === runner.plan().map(_.name))
    val byName = res.map(r => r.model -> r).toMap
    models.foreach(m => m.dependsOn.foreach(u => assert(
      byName(m.name).startedAtMs >= endMs(byName(u)), s"${m.name} began before $u ended")))
    assert(byName("a").startedAtMs < endMs(byName("b")) &&
      byName("b").startedAtMs < endMs(byName("a")), "a and b did not overlap")
    assert(derivedOn.values.asScala.forall(_.startsWith("graft-dag-")))
    assert(poolThreads().isEmpty, "pool threads outlived run()")
    assert(spark.table("c").count() === 3L)
    // one record: one appended row per model
    val runs = new MetaStore(spark, c.warehouseDir).runs
    assert(runs.count() === models.size.toLong)
  }

  test("failFast skips models that had not started; running ones finish") {
    val failed = new CountDownLatch(1)
    val models = Seq(
      model("slow") { s =>
        failed.await(60, TimeUnit.SECONDS); Thread.sleep(500); s.range(1).toDF()
      },
      model("after_slow", Seq("slow"))(_.range(1).toDF()),
      model("bad") { _ => failed.countDown(); throw new IllegalStateException("boom") },
      model("after_bad", Seq("bad"))(_.range(1).toDF()))
    derivedOn.clear()
    val res = new DagRunner(spark, cfg(), models).run(failFast = true)
    assert(res.map(r => r.model -> r.status) === Seq(
      "slow" -> "success", "after_slow" -> "skipped",
      "bad" -> "failed", "after_bad" -> "skipped"))
    assert(derivedOn.keySet.asScala === Set("slow", "bad"))
    assert(poolThreads().isEmpty)

    // without failFast every model runs, the failure's dependents included
    val all = new DagRunner(spark, cfg(), models).run()
    assert(all.map(_.status) === Seq("success", "success", "failed", "success"))
  }

  test("a selection runs only its upstream closure") {
    val models = Seq(
      model("src")(_.range(2).toDF()),
      model("left", Seq("src"))(_.table("src")),
      model("right", Seq("src"))(_.table("src")),
      model("top", Seq("left", "right"))(_.table("left")))
    derivedOn.clear()
    val res = new DagRunner(spark, cfg(), models).run(Some(Seq("left")))
    assert(res.map(_.model) === Seq("src", "left"))
    assert(derivedOn.keySet.asScala === Set("src", "left"))
  }
}
