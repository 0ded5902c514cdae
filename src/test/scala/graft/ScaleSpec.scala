package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Layout, RuntimeFilter, Sessionize, Skew}

/** Scale-pattern operators: Z-order keys, bloom-prefiltered semi join,
  * batch sessionization. The integrated queries (q53–q58) are oracle-
  * verified; this covers operator semantics and plan shape directly. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("zorder2 magic-number spread equals bit-at-a-time reference") {
    val cases = Seq((0, 0), (1, 0), (0, 1), (3, 1), (1023, 511),
      (65535, 65535), (0xABCD, 0x1234), (42, 31337))
    val df = cases.toDF("a", "b")
      .select(Layout.zorder2(col("a"), col("b")).as("z"))
    val got = df.as[Long].collect().toSeq
    val want = cases.map { case (a, b) => Layout.zorder2Ref(a, b) }
    assert(got === want)
    // interleave identity: z-order of (x, 0) spreads x onto even bits
    assert(Layout.zorder2Ref(0xFFFF, 0) === 0x55555555L)
    assert(Layout.zorder2Ref(0, 0xFFFF) === 0xAAAAAAAAL)
  }

  test("unzorder2 is the Column-level inverse of zorder2") {
    val dims = Seq((0, 0), (1, 2), (1023, 511), (65535, 1), (0x1234, 0xABCD))
    val got = dims.toDF("a", "b")
      .select(Layout.unzorder2(Layout.zorder2(col("a"), col("b"))).as("ab"))
      .select(col("ab.a").cast("int"), col("ab.b").cast("int"))
      .as[(Int, Int)].collect().toSeq
    assert(got === dims)
  }

  test("zorderN equals bit-at-a-time reference; 2-dim case equals zorder2") {
    val cases3 = Seq(Seq(0, 0, 0), Seq(1, 0, 0), Seq(0, 1, 0), Seq(0, 0, 1),
      Seq(1023, 511, 255), Seq(7, 42, 1000), Seq(1023, 1023, 1023))
    val got3 = cases3.map(c => (c(0), c(1), c(2))).toDF("a", "b", "c")
      .select(Layout.zorderN(Seq(col("a"), col("b"), col("c")), 10).as("z"))
      .as[Long].collect().toSeq
    assert(got3 === cases3.map(Layout.zorderNRef(_, 10)))
    // n=2, bits=16 degenerates to the magic-number zorder2
    val cases2 = Seq((0, 0), (1023, 511), (65535, 65535), (0xABCD, 0x1234))
    val both = cases2.toDF("a", "b")
      .select(Layout.zorderN(Seq(col("a"), col("b")), 16).as("zn"),
        Layout.zorder2(col("a"), col("b")).as("z2"))
      .as[(Long, Long)].collect()
    both.foreach { case (zn, z2) => assert(zn === z2) }
    // 4 dims × 8 bits
    val c4 = Seq(Seq(0, 1, 2, 3), Seq(255, 0, 255, 0), Seq(17, 34, 68, 136))
    val got4 = c4.map(c => (c(0), c(1), c(2), c(3))).toDF("a", "b", "c", "d")
      .select(Layout.zorderN(
        Seq(col("a"), col("b"), col("c"), col("d")), 8).as("z"))
      .as[Long].collect().toSeq
    assert(got4 === c4.map(Layout.zorderNRef(_, 8)))
    // guard: a 64-bit key would overflow a signed long
    intercept[IllegalArgumentException](
      Layout.zorderN(Seq(col("a"), col("b")), 32))
  }

  test("unzorderN inverts zorderN for every dimension count") {
    for (n <- 1 to 4) {
      val bits = 63 / n min 16
      val max = (1 << bits) - 1
      val vals = Seq.tabulate(8)(i =>
        Seq.tabulate(n)(d => (i * 2654435761L + d * 40503L).toInt & max))
      val df = vals.map(v => Tuple1(Layout.zorderNRef(v, bits)))
        .toDF("z")
        .select(Layout.unzorderN(col("z"), n, bits).as("dims"))
      val got = df.select((0 until n).map(d =>
        col(s"dims.d$d").cast("int")): _*).collect()
        .map(r => (0 until n).map(r.getInt)).toSeq
      assert(got === vals.map(_.map(_.toInt)))
    }
  }

  test("zorderN tile prefix property holds at 3 dims (file pruning)") {
    // every point of an aligned 2^k-cube shares the zkey prefix — the
    // pruning property, now in 3 dimensions
    val tile = for (a <- 16 until 32; b <- 32 until 48; c <- 48 until 64)
      yield Seq(a, b, c)
    val keys = tile.map(Layout.zorderNRef(_, 10))
    val prefix = keys.map(_ >> 12) // 4 low bits per dim interleaved away
    assert(prefix.distinct.size === 1)
    assert(keys.distinct.size === tile.size)
  }

  test("zorder2 preserves per-dimension range locality (file pruning)") {
    // all points in a 2^k-aligned tile share the zkey prefix: the layout
    // property that makes either-dimension range predicates prune files
    val tile = for (a <- 64 until 128; b <- 192 until 256) yield (a, b)
    val keys = tile.map { case (a, b) => Layout.zorder2Ref(a, b) }
    assert(keys.map(_ >> 12).distinct.size === 1,
      "a 64x64 aligned tile must map to one zkey >> 12 prefix")
  }

  test("zorder-ranged write clusters BOTH dimensions; single-dim sort does not") {
    // the layout claim made measurable: range-partition by zkey + sorted
    // write → every file covers a tight (px, sy) tile, so min/max file
    // stats prune on EITHER dimension; a px-sorted layout prunes only px
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val src = SparkTestBase.spark.read
      .parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select((col("l_partkey") % 1024).as("px"), (col("l_orderkey") % 1024).as("sy"))
      .select(col("px"), col("sy"), Layout.zorder2(col("px"), col("sy")).as("zkey"))
    src.repartitionByRange(64, col("zkey")).sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(s"$dir/zordered")
    src.repartitionByRange(64, col("px")).sortWithinPartitions("px")
      .write.mode("overwrite").parquet(s"$dir/pxsorted")
    def avgSpans(path: String): (Double, Double) = {
      val r = SparkTestBase.spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("px") - min("px")).as("pxs"), (max("sy") - min("sy")).as("sys"))
        .agg(avg("pxs"), avg("sys")).head
      (r.getDouble(0), r.getDouble(1))
    }
    val (zpx, zsy) = avgSpans(s"$dir/zordered")
    val (ppx, psy) = avgSpans(s"$dir/pxsorted")
    assert(zpx < 320 && zsy < 320,
      s"zorder files must cover tight tiles in BOTH dims: px=$zpx sy=$zsy")
    assert(ppx < 64, s"px-sorted layout prunes px: $ppx")
    assert(psy > 900, s"px-sorted layout cannot prune sy: $psy")
    assert(zsy < psy / 2, "zorder at least halves the off-dimension span")
  }

  test("zorder layout prunes parquet row groups: range scan decodes far fewer records") {
    import java.nio.file.Files
    val n = 200000L
    // pseudo-random but deterministic dims over [0, 1024): independent
    // hashes so the points genuinely fill the 2-D grid (linear-congruence
    // dims collapse to 1024 collinear points — no z-locality to exploit)
    val df = spark.range(n).select(
      pmod(xxhash64(col("id")), lit(1024)).as("px"),
      pmod(xxhash64(col("id"), lit(7)), lit(1024)).as("sy"))
    val z = df.withColumn("zkey", Layout.zorder2(col("px"), col("sy")))
    val dir = Files.createTempDirectory("graft_zprune").toString
    // clustered: range-partitioned + sorted on zkey, small row groups so
    // parquet min/max stats give sub-file pruning granularity (the K1
    // export path — rowGroupRows is the same knob remote readers prune on)
    graft.export.Exporter.parquet(
      z.repartitionByRange(8, col("zkey")).sortWithinPartitions("zkey"),
      s"$dir/zorder", rowGroupRows = 2048L)
    // control: same data, same file/row-group geometry, no clustering
    graft.export.Exporter.parquet(
      z.repartition(8), s"$dir/shuffled", rowGroupRows = 2048L)
    def recordsRead(path: String): Long = graft.core.Meter.measure(spark)(
      spark.read.parquet(path).filter(col("px") < 64).count())._2.inputRecords
    val clustered = recordsRead(s"$dir/zorder")
    val shuffled = recordsRead(s"$dir/shuffled")
    // px < 64 is 1/16 of the px space; zkey order clusters it into a few
    // row-group runs whose min/max stats exclude the rest, while every
    // shuffled row group straddles the predicate and must be decoded
    assert(shuffled > (n * 9) / 10,
      s"control should decode ~everything, read=$shuffled")
    assert(clustered < shuffled / 4,
      s"zorder layout failed to prune: clustered=$clustered shuffled=$shuffled")
  }

  test("bloomSemiJoin equals exact semi join, bloom filter is pre-join") {
    val big = spark.range(0, 10000).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    val small = spark.range(0, 10000).filter(col("id") % 100 === 3)
      .select(col("id").as("sk"))
    val got = RuntimeFilter.bloomSemiJoin(big, small, "k", "sk",
      expectedItems = 128)
    val want = big.join(small, col("k") === col("sk"), "left_semi")
    assert(got.collect().map(_.getLong(0)).sorted
      === want.collect().map(_.getLong(0)).sorted)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan)
  }

  test("bloomSemiJoin with empty small side returns no rows") {
    val big = spark.range(0, 100).select(col("id").as("k"))
    val small = spark.range(0, 100).filter(col("id") < 0)
      .select(col("id").as("sk"))
    assert(RuntimeFilter.bloomSemiJoin(big, small, "k", "sk",
      expectedItems = 16).count() === 0L)
  }

  test("batch sessionization: gap splits, ties break on tiebreaker") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(ts0.getTime + sec * 1000)
    val events = Seq(
      (1L, at(0), 10L), (1L, at(60), 11L), // session 1
      (1L, at(60 + 1801), 12L),            // > 30 min gap: session 2
      (1L, at(60 + 1801 + 1800), 13L),     // exactly 30 min: SAME session
      (2L, at(0), 20L)                     // other user: own session 1
    ).toDF("user_id", "ts", "event_id")
    val got = Sessionize.batch(events, "user_id", "ts", "event_id", 1800L)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 1L, 11L -> 1L, 12L -> 2L, 13L -> 2L, 20L -> 1L))
  }

  test("batch sessionization equals the streaming state machine") {
    import graft.streaming.{EventStream, UserEvent}
    // deterministic pseudo-random gaps: multiplicative scramble mod a prime
    val evs = (0L until 400L).map { i =>
      UserEvent(user_id = i % 23, event_id = i,
        ts_ms = (i * 7919L) % 99991L * 500L)
    }
    // streaming operator run in batch mode (flatMapGroupsWithState over a
    // bounded Dataset): emits CLOSED sessions + keeps the last one in state,
    // so append the still-open session per user from the batch view
    val gapMs = 3000000L // ~median inter-event gap: a real open/close mix
    val streamed = EventStream.sessionize(evs.toDS(), gapMs).collect()
      .map(s => (s.user_id, s.start_ms, s.end_ms, s.n_events)).toSet
    val batch = Sessionize.batch(
        evs.toDF().select(col("user_id"), col("event_id"),
          timestamp_millis(col("ts_ms")).as("ts")),
        "user_id", "ts", "event_id", gapSeconds = gapMs / 1000)
      .groupBy("user_id", "session_seq")
      .agg(unix_millis(min(col("ts"))).as("start_ms"),
        unix_millis(max(col("ts"))).as("end_ms"),
        count(lit(1)).as("n"))
    val batchAll = batch.select("user_id", "start_ms", "end_ms", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the streaming run emits only closed sessions; every one must appear
    // identically in the batch result, and the batch extras must be exactly
    // one trailing (still-open) session per user
    assert(streamed.subsetOf(batchAll),
      s"closed streaming sessions missing from batch: ${streamed -- batchAll}")
    val open = batchAll -- streamed
    assert(open.size === evs.map(_.user_id).distinct.size,
      s"expected one open session per user, got: $open")
    assert(open.forall { case (u, _, end, _) =>
      end === batchAll.filter(_._1 == u).map(_._3).max },
      s"open sessions must be each user's trailing one: $open")
  }

  test("TopKByScore: map-side heap equals window ranking incl. score ties") {
    import org.apache.spark.sql.graft.TopKByScore
    // many groups, duplicate scores (id % 50 / 10.0) force tie-breaking
    val df = spark.range(0, 20000).select(
      (col("id") % 7).as("g"),
      (col("id") % 50).cast("double").as("score"),
      col("id").as("pid"))
      .repartition(8) // multiple partitions: partial buffers must merge
    val got = df.groupBy("g")
      .agg(TopKByScore.columnFor(col("score"), col("pid"), 5).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.score"), col("col.payload"))
      .as[(Long, Double, Long)].collect().toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(desc("score"), asc("pid"))
    val want = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5).select("g", "score", "pid")
      .as[(Long, Double, Long)].collect().toSet
    assert(got === want)
    // plan shape: partial ObjectHashAggregate BEFORE the exchange — the
    // shuffle carries at most k entries per key
    val plan = df.groupBy("g")
      .agg(TopKByScore.columnFor(col("score"), col("pid"), 5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("GraftExtensions wires functions + as-of strategy without error") {
    // extensions apply at session build; here: the injection calls
    // themselves (a bad builder signature fails this immediately). The
    // injected pieces are behavior-tested via register()/ensureStrategy.
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new org.apache.spark.sql.graft.GraftExtensions().apply(e)
  }

  test("topk_by_score is callable from the SQL-text surface") {
    org.apache.spark.sql.graft.TopKByScore.register(spark)
    spark.range(0, 100)
      .select((col("id") % 3).as("g"), col("id").cast("double").as("s"),
        col("id").as("p"))
      .createOrReplaceTempView("topk_sql_t")
    val rows = spark.sql(
      """SELECT g, topk_by_score(s, p, 2) AS top FROM topk_sql_t GROUP BY g""")
      .selectExpr("g", "top[0].payload AS best")
      .as[(Long, Long)].collect().toMap
    assert(rows === Map(0L -> 99L, 1L -> 97L, 2L -> 98L))
  }

  test("nfc_normalize is callable from the SQL-text surface") {
    org.apache.spark.sql.graft.NfcNormalizeExpr.register(spark)
    // 'Cafe' + combining acute (raw codepoint in the literal — Spark's
    // chr() truncates above 255, so it can't build one) normalizes to
    // the composed form
    val got = spark.sql("SELECT nfc_normalize('Café') AS s")
      .as[String].head()
    assert(got === "Café")
    assert(got.length === 4)
  }

  test("edge paths: empty inputs and bad arguments fail fast, not mysteriously") {
    // compact: missing dir → skipped, no crash
    assert(graft.export.Exporter.compact(spark, "/tmp/graft_no_such_dir_x") === -1L)
    // bloom: invalid fpp rejected eagerly
    intercept[IllegalArgumentException] {
      RuntimeFilter.bloomSemiJoin(spark.range(1).toDF("k"),
        spark.range(1).toDF("s"), "k", "s", fpp = 1.5)
    }
    // sessionize: empty frame stays empty with the session_seq column
    val empty = Sessionize.batch(
      Seq.empty[(Long, java.sql.Timestamp, Long)]
        .toDF("user_id", "ts", "event_id"),
      "user_id", "ts", "event_id", 60L)
    assert(empty.count() === 0L && empty.columns.contains("session_seq"))
    // config: explicitly-named missing file is an error, not silent defaults
    val e = intercept[RuntimeException](
      graft.core.GraftConfig.load(Some("/tmp/graft_no_such_config.yml")))
    assert(e.getMessage.contains("not found"))
  }

  test("salted join equals plain join (salting never changes the answer)") {
    val fact = spark.range(0, 5000)
      .select((col("id") % 5).as("k"), col("id").as("x"))
    val dim = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("dk", "name")
    val got = Skew.saltedJoin(fact, dim, "k", "dk", buckets = 8)
      .groupBy("name").agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val want = fact.join(dim, col("k") === col("dk"))
      .groupBy("name").agg(count(lit(1)).as("n"), sum("x").as("sx"))
    assert(got.collect().map(_.toSeq).toSet === want.collect().map(_.toSeq).toSet)
  }

  // The scale harness's scenario table, run the way its main runs an
  // entry: the scenario's corpus at mult 1, then its body, rendered as the
  // main's JSON line. `rp` is the cheapest entry; its fields are the ones
  // SCALE.md quotes for the RP forest's distributed tier.
  test("ScaleStress rp scenario at 1x prints the fields SCALE.md quotes") {
    import graft.tools.ScaleStress
    val dir = java.nio.file.Files.createTempDirectory("scale_rp").toString
    try {
      val sc = ScaleStress.Scenarios("rp")
      sc.corpus(spark, dir, 1)
      val line = ScaleStress.line("rp", 1, sc.body(spark, dir, 1))
      def field(k: String) = ("\"" + k + "\":([^,}]+)").r.findFirstMatchIn(line)
        .map(_.group(1)).getOrElse(fail(s"no $k in $line"))
      assert(field("scenario") === "\"rp\"" && field("mult") === "1")
      assert(field("n").toLong === 2000L)
      // every vector sits in one leaf per tree (3 trees)
      assert(field("leaf_rows").toLong === 6000L, line)
      val frac = field("cand_frac").toDouble
      assert(frac > 0 && frac <= 1, line)
      assert(field("cand_rows").toLong > 0L)
      assert(field("build_sec").toDouble > 0 && field("route_sec").toDouble > 0)
    } finally graft.export.Exporter.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
