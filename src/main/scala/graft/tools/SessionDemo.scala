package graft.tools

import graft.streaming._

/** End-to-end demo of stateful sessionization over a file stream:
  * two AvailableNow catch-up runs sharing a checkpoint, gap = 10s.
  * Usage: runMain graft.tools.SessionDemo [/tmp/graft_sess_demo]
  */
object SessionDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_sess_demo")
    val in = s"$base/in"; val out = s"$base/out"; val ck = s"$base/ck"
    val spark = graft.core.GraftSession.local()
    import spark.implicits._

    Seq(UserEvent(1, 1, 1000), UserEvent(1, 2, 2000), UserEvent(1, 3, 99000),
      UserEvent(2, 4, 500), UserEvent(2, 5, 70000), UserEvent(2, 6, 71000))
      .toDF().write.mode("overwrite").parquet(in)
    def runOnce(): Unit = {
      val st = spark.readStream
        .schema("user_id LONG, event_id LONG, ts_ms LONG")
        .parquet(in).as[UserEvent]
      EventStream.runAvailableNow(
        EventStream.sessionize(st, 10000).toDF(), out, ck)
    }
    runOnce()
    println("== closed sessions after batch 1 ==")
    spark.read.parquet(out).orderBy("user_id", "start_ms").show()
    // new file: only the delta is processed; the run must terminate promptly
    Seq(UserEvent(3, 7, 100), UserEvent(3, 8, 50000)).toDF()
      .write.mode("append").parquet(in)
    runOnce()
    println("== closed sessions after batch 2 ==")
    spark.read.parquet(out).orderBy("user_id", "start_ms").show()
    spark.stop()
  }
}
