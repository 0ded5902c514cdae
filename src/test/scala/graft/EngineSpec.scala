package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import graft.export.Exporter
import graft.multimodal.Multimodal
import graft.streaming.EventStream
import graft.sources.Tables
import graft.functions.TextFunctions

import java.nio.file.Files

/** Export/catalog, streaming façade, multimodal plumbing, text funcs. */
class EngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  import spark.implicits._

  test("atomic export + done marker + catalog.json") {
    val dir = Files.createTempDirectory("graft_exp").toString
    val df = Tables(spark, "/root/testdata/sf0.001", "region")
    Exporter.atomically(spark, s"$dir/marts") { tmp =>
      Exporter.parquet(df, s"$tmp/region.parquet")
    }
    assert(Exporter.isDone(s"$dir/marts"))
    assert(spark.read.parquet(s"$dir/marts/region.parquet").count() === 5L)
    Exporter.writeCatalogJson(spark, dir, "v1")
    val json = Files.readString(java.nio.file.Paths.get(s"$dir/catalog.json"))
    assert(json.contains("\"total_rows\": 5"))
    // remote-views bootstrap
    val sql = Exporter.remoteViewsSql(Seq("region" -> "https://x/region.parquet"))
    assert(sql.contains("CREATE OR REPLACE TEMP VIEW region"))
  }

  test("catalog rewrites in place; total_rows follows a re-export") {
    val dir = Files.createTempDirectory("graft_cat").toString
    def total() = "\"total_rows\": (\\d+)".r.findFirstMatchIn(Files.readString(
      java.nio.file.Paths.get(s"$dir/catalog.json"))).map(_.group(1).toLong)
    Exporter.parquet(spark.range(5).toDF(), s"$dir/marts/items.parquet")
    Exporter.writeCatalogJson(spark, dir, "v1")
    // the second call overwrites the catalog.parquet the first one wrote
    Exporter.writeCatalogJson(spark, dir, "v2")
    assert(total() === Some(5L))
    Exporter.parquet(spark.range(8).toDF(), s"$dir/marts/items.parquet")
    Exporter.writeCatalogJson(spark, dir, "v3")
    assert(total() === Some(8L))
    val cat = spark.read.parquet(s"$dir/catalog.parquet")
      .select("file_name", "num_rows").collect().map(r => r.getString(0) -> r.getLong(1))
    assert(cat.toSeq === Seq("items.parquet" -> 8L))
  }

  test("parquet export honors row-group row-count limit (footer-verified)") {
    val dir = Files.createTempDirectory("graft_rg").toString
    val df = Tables(spark, "/root/testdata/sf0.01", "lineitem").coalesce(1)
    Exporter.parquet(df, s"$dir/li.parquet", rowGroupRows = 10000L)
    val meta = graft.sources.ParquetFooterMeta(spark, s"$dir/li.parquet")
      .select("file_name", "row_group_id", "num_rows").collect()
    val total = meta.map(_.getLong(2)).sum
    assert(total === df.count())
    // ~10k-row groups: every group is at the limit except each file's last
    assert(meta.length > 1, "expected multiple row groups")
    assert(meta.map(_.getLong(2)).max <= 10000L)
    // default (100k limit) over the same single-file frame → fewer groups
    Exporter.parquet(df, s"$dir/li_default.parquet")
    val metaDef = graft.sources.ParquetFooterMeta(spark, s"$dir/li_default.parquet")
      .collect()
    assert(metaDef.length < meta.length)
  }

  test("streaming dedup ingest equals the full batch re-clustering") {
    import org.apache.spark.sql.functions.col
    val all = Tables(spark, "/root/testdata/sf0.01", "documents")
    val in = Files.createTempDirectory("ingest_in").toString
    val storeDir = Files.createTempDirectory("ingest_store").toString + "/sigs.parquet"
    val assignDir = Files.createTempDirectory("ingest_assign").toString + "/assign.parquet"
    val ckpt = Files.createTempDirectory("ingest_ck").toString
    // three doc files land; maxFilesPerTrigger=1 forces three micro-batches
    Seq((0L, 200L), (200L, 400L), (400L, 600L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        all.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.parquet(s"$in/batch_$i")
    }
    val (nh, br) = (16, 4)
    val q = graft.streaming.DedupIngest.start(spark, s"$in/batch_*",
      all.schema, storeDir, assignDir, ckpt,
      numHashes = nh, bandRows = br, minJaccard = 0.5)
    q.awaitTermination()
    val got = spark.read.parquet(assignDir).orderBy("id")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    // ground truth: one-shot clustering of the full corpus at the same
    // geometry and threshold
    val pairs = graft.queries.DedupOps
      .lshPairsTuned(spark, "/root/testdata/sf0.01", nh, br,
        maxBucket = 0L, minJaccard = 0.5)
    val want = graft.operators.ConnectedComponents
      .hashMin(pairs.select("doc_a", "doc_b"), all.select("doc_id"))
      .orderBy("id").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(got === want)
    assert(got.size === 500)
  }

  test("availableNow file stream: windowed counts, incremental on restart") {
    val in = Files.createTempDirectory("graft_stream_in").toString
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_stream_ck").toString
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    events.limit(400).write.mode("append").parquet(in)
    val schema: StructType = events.schema
    def runOnce(): Long = {
      val stream = EventStream.fileStream(spark, in, schema)
      EventStream.runAvailableNow(
        EventStream.windowedCounts(stream), out, ckpt)
      spark.read.parquet(out).count()
    }
    val n1 = runOnce()
    assert(n1 > 0)
    // second batch of files: only the delta is processed (checkpoint = the
    // reference's semaphore-resume semantics)
    events.limit(1000).write.mode("append").parquet(in)
    val n2 = runOnce()
    assert(n2 >= n1)
  }

  test("append-mode windowed agg: watermark finalization withholds the tail (q96's sentinel is load-bearing)") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_wm_in").toString
    val out = Files.createTempDirectory("graft_wm_out").toString
    val ckpt = Files.createTempDirectory("graft_wm_ck").toString
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    events.write.mode("append").parquet(in)
    val stream = EventStream.fileStream(spark, in, events.schema)
    EventStream.runAvailableNow(
      EventStream.windowedCounts(stream, "ts", "6 hours", "1 hour"),
      out, ckpt)
    val emitted = spark.read.parquet(out)
      .select(unix_micros(col("window_start")).as("ws"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val winUs = 21600L * 1000000L
    val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val wmUs = maxUs - 3600L * 1000000L
    val batch = events
      .groupBy((floor(unix_micros(col("ts")) / winUs) * winUs).as("ws"),
        col("event_type"))
      .agg(count(lit(1))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // append mode emits exactly the windows the final watermark passed
    // (window_end <= max_ts - delay): a strict subset of the batch
    // group-by — the still-open tail is withheld until more data (q96's
    // far-future sentinels) advances the watermark past it
    val finalized = batch.filter { case (ws, _) => ws + winUs <= wmUs }.toSet
    val open = batch.filterNot { case (ws, _) => ws + winUs <= wmUs }
    assert(open.nonEmpty, "test premise: some windows must still be open")
    assert(emitted === finalized)
  }

  test("streaming dedup within watermark drops repeats, keeps state bounded") {
    val in = Files.createTempDirectory("graft_dedup_in").toString
    val out = Files.createTempDirectory("graft_dedup_out").toString
    val ckpt = Files.createTempDirectory("graft_dedup_ck").toString
    val events = Tables(spark, "/root/testdata/sf0.001", "events").limit(300)
    // duplicate every event: the stream must emit each event_id once
    events.write.mode("append").parquet(in)
    events.write.mode("append").parquet(in)
    val stream = EventStream.fileStream(spark, in, events.schema)
    EventStream.runAvailableNow(
      EventStream.dedupWithinWatermark(stream, Seq("event_id")), out, ckpt)
    val got = spark.read.parquet(out)
    assert(got.count() === 300L)
    assert(got.select("event_id").distinct().count() === 300L)
  }

  test("streaming dedup: cross-batch suppression within delay, re-emission after eviction") {
    val in = Files.createTempDirectory("graft_dedupev_in").toString
    val out = Files.createTempDirectory("graft_dedupev_out").toString
    val ckpt = Files.createTempDirectory("graft_dedupev_ck").toString
    val minUs = 60L * 1000000L
    def mkBatch(rows: (String, Long)*) =
      rows.toSeq.toDF("k", "ts_us")
        .select($"k",
          org.apache.spark.sql.functions.timestamp_micros($"ts_us").as("ts"))
    // delay 10 min. A first arrives at t=0; its repeat at +5 min lands in
    // batch 2 and must be suppressed by dedup state carried across the
    // checkpoint (cross-batch suppression). B at +60 min advances the
    // watermark (60-10=50 min) past A's expiry (0+10 min), so batch 3's
    // A at +65 min RE-EMITS: dropDuplicatesWithinWatermark bounds state,
    // it does not promise cross-eviction dedup — that completeness pass
    // is the batch digest groupBy's job (q30), run alongside the stream.
    val batches = Seq(
      mkBatch(("A", 0L)),
      mkBatch(("A", 5L * minUs), ("B", 60L * minUs)),
      mkBatch(("A", 65L * minUs)))
    batches.foreach { b =>
      b.coalesce(1).write.mode("append").parquet(in)
      val st = spark.readStream.schema("k STRING, ts TIMESTAMP").parquet(in)
      EventStream.runAvailableNow(
        EventStream.dedupWithinWatermark(st, Seq("k"), "ts", "10 minutes"),
        out, ckpt)
    }
    val emitted = spark.read.parquet(out).groupBy("k").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(emitted("B") === 1L)
    assert(emitted("A") === 2L,
      "A must re-emit once its dedup state expired, and only then")
  }

  test("transformWithState sessionization == flatMapGroupsWithState across catch-up runs") {
    import graft.streaming.UserEvent
    import org.apache.spark.sql.functions.{col, unix_micros}
    // RocksDB state store is transformWithState's hard requirement;
    // bracket the session conf so other streaming tests keep the default
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gapUs = 1800L * 1000000L
      val slice = Tables(spark, "/root/testdata/sf0.001", "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_ms"))
        .as[UserEvent].localCheckpoint(true)
      val Array(minTs, maxTs) = slice.toDF()
        .agg(org.apache.spark.sql.functions.min("ts_ms"),
          org.apache.spark.sql.functions.max("ts_ms")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val cut = minTs + (maxTs - minTs) / 2
      val sentinel = slice.map(e =>
        UserEvent(e.user_id, e.event_id + 1000000000L, maxTs + 10 * gapUs))
      val in = Files.createTempDirectory("graft_tws_in").toString
      val outA = Files.createTempDirectory("graft_tws_a").toString
      val ckA = Files.createTempDirectory("graft_tws_cka").toString
      val outB = Files.createTempDirectory("graft_tws_b").toString
      val ckB = Files.createTempDirectory("graft_tws_ckb").toString
      // two halves + a sentinel flush: sessions span the batch boundary,
      // so BOTH APIs must carry open-session state across their
      // checkpoints and close it identically
      val batches = Seq(slice.filter(_.ts_ms < cut),
        slice.filter(_.ts_ms >= cut), sentinel)
      batches.foreach { b =>
        b.toDF().coalesce(1).write.mode("append").parquet(in)
        def st = spark.readStream
          .schema("user_id LONG, event_id LONG, ts_ms LONG")
          .parquet(in).as[UserEvent]
        EventStream.runAvailableNow(
          EventStream.sessionize(st, gapUs).toDF(), outA, ckA)
        EventStream.runAvailableNow(
          EventStream.sessionizeTws(st, gapUs).toDF(), outB, ckB)
      }
      val a = spark.read.parquet(outA)
      val b = spark.read.parquet(outB)
      assert(a.count() > 0)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "the two stateful APIs diverged session-for-session")
    } finally {
      prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  test("event-time-timer sessionization: watermark flushes open sessions, == batch gaps-and-islands") {
    import org.apache.spark.sql.functions.{col, collect_list => _, _}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gapMs = 1800L * 1000L
      val slice = Tables(spark, "/root/testdata/sf0.001", "events")
        .filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"), col("ts"))
        .localCheckpoint(true)
      val Array(minMs, maxMs) = slice
        .agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts")))).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val cut1 = minMs + (maxMs - minMs) / 3
      val cut2 = minMs + 2 * (maxMs - minMs) / 3
      // ONE global watermark-advancing sentinel (user -1) replaces the
      // per-user sentinel fleet the NoTimeout gates need: the watermark
      // passing every real session's close time is what fires the timers
      val sentinel = spark.range(1).select(lit(-1L).as("user_id"),
        lit(999999999L).as("event_id"),
        timestamp_millis(lit(maxMs + 10 * gapMs)).as("ts"))
      val in = Files.createTempDirectory("graft_twst_in").toString
      val out = Files.createTempDirectory("graft_twst_out").toString
      val ck = Files.createTempDirectory("graft_twst_ck").toString
      val ms = unix_millis(col("ts"))
      val batches = Seq(
        slice.filter(ms < cut1), slice.filter(ms >= cut1 && ms < cut2),
        slice.filter(ms >= cut2), sentinel)
      batches.foreach { b =>
        b.coalesce(1).write.mode("append").parquet(in)
        val st = spark.readStream
          .schema("user_id LONG, event_id LONG, ts TIMESTAMP").parquet(in)
        EventStream.runAvailableNow(
          EventStream.sessionizeTwsTimers(st, gapMs).toDF(), out, ck)
      }
      val got = spark.read.parquet(out).filter(col("user_id") >= 0)
        .select("user_id", "start_ms", "end_ms", "n_events")
      // expected: the one-shot batch gaps-and-islands clustering (q53's
      // oracle-verified operator) over the same slice
      val want = graft.operators.Sessionize
        .batch(slice, "user_id", "ts", "event_id", gapSeconds = 1800L)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(unix_millis(min(col("ts"))).as("start_ms"),
          unix_millis(max(col("ts"))).as("end_ms"),
          count(lit(1)).as("n_events"))
        .select("user_id", "start_ms", "end_ms", "n_events")
      assert(got.count() > 0)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "timer-flushed end state diverged from the batch clustering")
    } finally {
      prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
    }
  }

  test("stream-stream temporal join equals the batch interval join") {
    val base = Tables(spark, "/root/testdata/sf0.001", "events")
    val inC = Files.createTempDirectory("graft_ssj_c").toString
    val inP = Files.createTempDirectory("graft_ssj_p").toString
    val out = Files.createTempDirectory("graft_ssj_out").toString
    val ckpt = Files.createTempDirectory("graft_ssj_ck").toString
    base.filter($"event_type" === "click").write.mode("append").parquet(inC)
    base.filter($"event_type" === "purchase").write.mode("append").parquet(inP)
    val joined = EventStream.streamTemporalJoin(
      EventStream.fileStream(spark, inC, base.schema),
      EventStream.fileStream(spark, inP, base.schema))
    EventStream.runAvailableNow(joined, out, ckpt)
    val got = spark.read.parquet(out).count()
    val want = base.filter($"event_type" === "click").alias("c")
      .join(base.filter($"event_type" === "purchase").alias("p"),
        $"c.user_id" === $"p.user_id" &&
          $"p.ts" >= $"c.ts" - org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR") &&
          $"p.ts" <= $"c.ts")
      .count()
    assert(got === want && got > 0)
  }

  test("multimodal: stub codec is deterministic, schema is typed") {
    val media = Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
      .selectExpr("doc_id AS media_id", "'image' AS media_type",
        "CAST(text AS BINARY) AS payload", "source AS source_uri")
      .as[Multimodal.MediaRecord]
    val feats = Multimodal.extractFeatures(media)
    assert(feats.schema.fieldNames.toSeq ===
      Seq("media_id", "media_type", "n_bytes", "width", "height",
        "duration_ms", "feature"))
    val twice = Multimodal.extractFeatures(media)
    val a = feats.orderBy("media_id").collect()
    val b = twice.orderBy("media_id").collect()
    assert(a.map(_.n_bytes).toSeq === b.map(_.n_bytes).toSeq)
    assert(a.forall(_.feature.length === 8))
    // byte metadata without codec
    val metaDf = Multimodal.byteMetadata(
      media.toDF())
    assert(metaDf.columns.toSeq ===
      Seq("media_id", "media_type", "n_bytes", "payload_md5"))
    assert(metaDf.count() === 50L)
  }

  test("multimodal: javax.imageio decodes real PNGs distributed, stub only for non-images") {
    // real PNGs, generated in-fixture: dimensions and solid fill color are
    // the ground truth the decoded features must reproduce
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val records = Seq(
      Multimodal.MediaRecord(1L, "image", png(37, 21, 0xff0000), "a.png"),
      Multimodal.MediaRecord(2L, "image", png(128, 256, 0x00ff00), "b.png"),
      Multimodal.MediaRecord(3L, "image", Array[Byte](1, 2, 3), "corrupt.png"),
      Multimodal.MediaRecord(4L, "audio", png(8, 8, 0), "not-an-image.wav"))
    val feats = Multimodal.extractFeatures(
        spark.createDataset(records).repartition(3))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).width === 37 && feats(1L).height === 21)
    assert(feats(1L).feature(0) === 1f && feats(1L).feature(1) === 0f) // red
    assert(feats(2L).width === 128 && feats(2L).height === 256)
    assert(feats(2L).feature(1) === 1f && feats(2L).feature(0) === 0f) // green
    assert(feats(2L).feature(3) === 0f) // solid fill: zero luma stddev
    assert(feats(2L).feature(4) === 0.5f) // aspect 128/256
    // corrupt image payload + audio fall through to the deterministic stub
    val stub3 = Multimodal.StubCodec.decode(Iterator(records(2))).next()
    assert(feats(3L).width === stub3.width &&
      feats(3L).height === stub3.height &&
      feats(3L).feature.toSeq === stub3.feature.toSeq)
    // resize → decode composes: true target dims, color preserved,
    // non-images pass through untouched
    val resized = Multimodal.extractFeatures(Multimodal.resize(
        spark.createDataset(records).repartition(2), 16, 12))
      .collect().map(f => f.media_id -> f).toMap
    assert(resized(1L).width === 16 && resized(1L).height === 12)
    assert(resized(1L).feature(0) === 1f && resized(1L).feature(1) === 0f)
    assert(resized(2L).width === 16 && resized(2L).height === 12)
    assert(resized(4L).width === feats(4L).width) // audio: untouched stub
    assert(feats(4L).duration_ms === Multimodal.StubCodec
      .decode(Iterator(records(3))).next().duration_ms)
  }

  test("multimodal: pHash image near-dup finds re-encodes/resizes, not distinct images") {
    // structured test images: a diagonal gradient and a checkerboard —
    // perceptually distinct; the near-dups are a JPEG re-encode and a
    // bilinear downscale of the gradient (the classic pHash invariances)
    def render(w: Int, h: Int, f: (Int, Int) => Int, fmt: String): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, f(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, bos)
      bos.toByteArray
    }
    def gray(v: Int): Int = { val c = v.max(0).min(255); (c << 16) | (c << 8) | c }
    // spectrally rich pattern (a plain linear gradient is pHash-degenerate:
    // almost every AC coefficient sits at ~0, so the median threshold
    // flips bits on numeric noise — a documented property of the public
    // algorithm, not of this implementation). `s` scales the sampling
    // frequency so the same continuous field renders at any resolution.
    def pattern(s: Double)(x: Int, y: Int): Int = gray((128 +
      55 * math.sin(x * 0.20 * s) + 45 * math.cos(y * 0.13 * s) +
      20 * math.sin((x + y) * 0.07 * s)).toInt)
    val checker = (x: Int, y: Int) => gray(if (((x / 16) + (y / 16)) % 2 == 0) 230 else 20)
    val base = render(128, 128, pattern(1.0), "png")
    // near-dup 1: the same pixels through lossy JPEG (explicit quality
    // 0.9 — ImageIO's default ~0.75 visibly mangles high-frequency
    // synthetic patterns, pushing hamming past the radius; real photos
    // re-encode closer, synthetic spectra are the worst case)
    val jpegDup = {
      val im = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(base))
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val p = w.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.9f)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(im, null, null), p)
      w.dispose(); ios.close()
      bos.toByteArray
    }
    // near-dup 2: the same field at half resolution
    val resizedDup = render(64, 64, pattern(2.0), "png")
    // near-dup 3: brightness shift (+6) — only the DC coefficient moves,
    // and pHash drops DC
    val brightDup = render(128, 128,
      (x, y) => gray(((pattern(1.0)(x, y) & 0xff) + 6).min(255)), "png")
    val distinct = render(128, 128, checker, "png")
    val records = Seq(
      Multimodal.MediaRecord(1L, "image", base, "base.png"),
      Multimodal.MediaRecord(2L, "image", jpegDup, "dup.jpg"),
      Multimodal.MediaRecord(3L, "image", resizedDup, "dup_small.png"),
      Multimodal.MediaRecord(7L, "image", brightDup, "dup_bright.png"),
      Multimodal.MediaRecord(4L, "image", distinct, "checker.png"),
      Multimodal.MediaRecord(5L, "image", Array[Byte](1, 2), "corrupt.png"),
      Multimodal.MediaRecord(6L, "audio", base, "not-image.wav"))
    val media = spark.createDataset(records).repartition(3)
    // hashes: only decodable images emit one (distributed path)
    val hashes = Multimodal.imagePHashes(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes.keySet === Set(1L, 2L, 3L, 4L, 7L))
    val pairs = Multimodal.imageNearDupPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every near-dup pairs with the base; the checkerboard pairs with
    // nothing
    assert(pairs.contains((1L, 2L)), s"jpeg re-encode not found: $pairs")
    assert(pairs.contains((1L, 3L)), s"resize not found: $pairs")
    assert(pairs.contains((1L, 7L)), s"brightness shift not found: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L),
      s"distinct image false-paired: $pairs")
    // pigeonhole exactness: banding found every pair at the radius that
    // a brute-force Hamming scan over the hashes finds
    def bits(x: Long) = java.lang.Long.bitCount(x)
    val brute = (for {
      Seq((a, ha), (b, hb)) <- hashes.toSeq.sortBy(_._1).combinations(2)
      if bits(ha ^ hb) <= 6
    } yield (a, b) -> bits(ha ^ hb).toLong).toMap
    assert(pairs === brute)
  }

  test("multimodal: javax.sound decodes real WAVs, stub only for compressed audio") {
    // 16-bit mono PCM sine, 8 kHz, 2000 frames = exactly 250 ms
    def wav(hz: Double, frames: Int, rate: Float): Array[Byte] = {
      val pcm = new Array[Byte](frames * 2)
      for (i <- 0 until frames) {
        val s = (math.sin(2 * math.Pi * hz * i / rate) * 16384).toInt
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val records = Seq(
      Multimodal.MediaRecord(1L, "audio", wav(440.0, 2000, 8000f), "a.wav"),
      Multimodal.MediaRecord(2L, "audio", Array[Byte](9, 9, 9), "bad.mp3"))
    val feats = Multimodal.extractFeatures(
        spark.createDataset(records).repartition(2))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).duration_ms === 250L)
    assert(feats(1L).feature(0) === 8000f / 96000f) // true sample rate
    assert(feats(1L).feature(1) === 1f / 8f)        // mono
    assert(feats(1L).feature(2) === 16f / 32f)      // 16-bit
    // full-scale/2 sine has RMS ~ 0.5/sqrt(2) ~ 0.354
    assert(math.abs(feats(1L).feature(3) - 0.354f) < 0.01f)
    assert(feats(1L).feature(4) > 0f) // sine crosses zero
    // undecodable audio falls through to the deterministic stub
    val stub = Multimodal.StubCodec.decode(Iterator(records(1))).next()
    assert(feats(2L).width === stub.width &&
      feats(2L).feature.toSeq === stub.feature.toSeq)
  }

  test("multimodal: MP4 box walk yields true duration + geometry, stub for junk") {
    // hand-built minimal ISO-BMFF: ftyp + moov{mvhd(v0), trak{tkhd(v0)}}
    def box(tpe: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length)
      bb.putInt(8 + body.length).put(tpe.getBytes("US-ASCII")).put(body)
      bb.array()
    }
    val mvhd = {
      val b = java.nio.ByteBuffer.allocate(100) // v0 body
      b.putInt(12, 600)   // timescale: 600 units/sec
      b.putInt(16, 9000)  // duration: 9000 units = 15 s
      box("mvhd", b.array())
    }
    val tkhd = {
      val b = java.nio.ByteBuffer.allocate(84) // v0 body
      b.putInt(76, 640 << 16) // width, 16.16 fixed
      b.putInt(80, 360 << 16) // height
      box("tkhd", b.array())
    }
    val mp4 = box("ftyp", "isom    ".getBytes("US-ASCII")) ++
      box("moov", mvhd ++ box("trak", tkhd))
    val records = Seq(
      Multimodal.MediaRecord(1L, "video", mp4, "clip.mp4"),
      Multimodal.MediaRecord(2L, "video", Array[Byte](1, 2, 3, 4), "junk.bin"))
    val feats = Multimodal.extractFeatures(
        spark.createDataset(records).repartition(2))
      .collect().map(f => f.media_id -> f).toMap
    assert(feats(1L).duration_ms === 15000L)
    assert(feats(1L).width === 640 && feats(1L).height === 360)
    // undecodable payload falls through to the deterministic stub
    val stubJunk = Multimodal.StubCodec.decode(Iterator(records(1))).next()
    assert(feats(2L).width === stubJunk.width &&
      feats(2L).feature.toSeq === stubJunk.feature.toSeq)
  }

  test("shingles: fewer tokens than k yields empty, exact k yields one") {
    val df = Seq("a b", "a b c", "a b c d").toDF("text")
      .select(TextFunctions.shingles(
        TextFunctions.tokens(org.apache.spark.sql.functions.col("text")), 3)
        .as("sh"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) === Seq.empty[String])
    assert(out(1) === Seq("a b c"))
    assert(out(2) === Seq("a b c", "b c d"))
  }

  test("CosineSimilarity expression: codegen == interpreted == HOF form") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(20)
    val pairs = e.select($"vec_id".as("ida"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("idb"), $"embedding".as("b")))
      .filter($"ida" < $"idb")
    import org.apache.spark.sql.functions.{aggregate => agg_, _}
    def hofDot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      agg_(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val both = pairs.select($"ida", $"idb",
      graft.plans.CosineSimilarity.cosineSim($"a", $"b").as("expr_cos"),
      (hofDot($"a", $"b") / (sqrt(hofDot($"a", $"a")) * sqrt(hofDot($"b", $"b"))))
        .as("hof_cos"))
    val mismatch = both
      .filter(abs($"expr_cos" - $"hof_cos") > 1e-12).count()
    assert(mismatch === 0L)
    // interpreted path (eval without codegen) agrees too
    val lit3 = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array(1.0f, 2.0f, 3.0f),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val expr = graft.plans.CosineSimilarity.expr(lit3, lit3)
    assert(math.abs(expr.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
  }

  test("bucketed tables join without a shuffle") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val o = Tables(spark, "/root/testdata/sf0.001", "orders")
    Seq("b_lineitem", "b_orders").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(s"spark-warehouse/$tbl")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    graft.export.Exporter.bucketedTable(li, "b_lineitem", 8, Seq("l_orderkey"))
    graft.export.Exporter.bucketedTable(o, "b_orders", 8, Seq("o_orderkey"))
    // force the sort-merge path (tiny test tables would auto-broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      // both sides pre-bucketed on the key: no Exchange before the join
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(plan.contains("Bucketed: true"))
      // no shuffle on the JOIN keys (the groupBy key still exchanges)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        "join inputs should be shuffle-free")
      assert(joined.agg(sum("n")).head().getLong(0) === li.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE b_lineitem"); spark.sql("DROP TABLE b_orders")
    }
  }

  test("ndjson.gz export round-trips") {
    val dir = Files.createTempDirectory("graft_nd").toString
    val df = Tables(spark, "/root/testdata/sf0.001", "nation")
    graft.export.Exporter.ndjsonGz(df, s"$dir/nation")
    val files = new java.io.File(s"$dir/nation").listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(files.nonEmpty)
    val back = spark.read.json(s"$dir/nation")
    assert(back.count() === 25L)
    assert(back.columns.sorted === df.columns.sorted)
  }

  test("aboveHighWatermark: full source when no target, delta afterwards") {
    import graft.incremental.IntervalRunner
    val dir = Files.createTempDirectory("graft_hw").toString + "/t"
    val src = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select($"o_orderkey", $"o_orderdate")
    assert(IntervalRunner.aboveHighWatermark(spark, src, dir, "o_orderdate")
      .count() === src.count())
    // persist the older half as the target; only newer rows flow
    val older = src.filter($"o_orderdate" < org.apache.spark.sql.functions
      .lit("1998-01-01").cast("timestamp"))
    older.write.mode("overwrite").parquet(dir)
    val delta = IntervalRunner.aboveHighWatermark(spark, src, dir, "o_orderdate")
    val hw = older.agg(org.apache.spark.sql.functions.max("o_orderdate"))
      .head().getAs[java.time.LocalDateTime](0)
    assert(delta.count() ===
      src.filter($"o_orderdate" > org.apache.spark.sql.functions.lit(hw)).count())
  }

  test("sessionize: gap splits sessions, state emits per-user sessions") {
    import graft.streaming._
    val in = Files.createTempDirectory("graft_sess_in").toString
    val out = Files.createTempDirectory("graft_sess_out").toString
    val ckpt = Files.createTempDirectory("graft_sess_ck").toString
    Seq(
      UserEvent(1L, 1L, 1000L), UserEvent(1L, 2L, 2000L), // session A
      UserEvent(1L, 3L, 100000L), // session B (gap > 10s)
      UserEvent(2L, 4L, 5000L)) // user 2 session
      .toDF().write.mode("overwrite").parquet(in)
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, ts_ms LONG").parquet(in)
      .as[UserEvent]
    EventStream.runAvailableNow(
      EventStream.sessionize(stream, gapMs = 10000L).toDF(), out, ckpt)
    // closed sessions emitted so far: user 1's first session (closed by the
    // gap inside the batch); open sessions stay in state
    val sessions = spark.read.parquet(out).as[UserSession].collect()
    assert(sessions.exists(s =>
      s.user_id == 1L && s.start_ms == 1000L && s.end_ms == 2000L && s.n_events == 2))
  }

  test("streaming as-of enrichment: stream-static join on intervalized dim ≡ batch as-of") {
    import graft.operators.AsOf
    import graft.streaming.EventStream
    val base = Tables(spark, "/root/testdata/sf0.001", "events")
    val clicks = base.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id", $"ts".as("click_ts"))
    val purchases = base.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"value")
    // batch truth: the custom as-of operator
    val want = AsOf.join(clicks, purchases, Seq("user_id"), Seq("p_user"),
        "click_ts", "p_ts")
      .select($"click_id", $"value").as[(Long, Double)].collect().toSet
    // streaming path: clicks as a file stream, purchases intervalized as a
    // STATIC dim, plain stream-static condition join
    val in = Files.createTempDirectory("graft_enrich_in").toString
    val out = Files.createTempDirectory("graft_enrich_out").toString
    val ckpt = Files.createTempDirectory("graft_enrich_ck").toString
    clicks.write.mode("overwrite").parquet(in)
    val dim = AsOf.intervalize(purchases, Seq("p_user"), "p_ts")
    val stream = spark.readStream.schema(clicks.schema).parquet(in)
      .join(dim, $"user_id" === $"p_user" &&
        $"click_ts" >= $"valid_from" &&
        ($"valid_to".isNull || $"click_ts" < $"valid_to"))
      .select($"click_id", $"value")
    EventStream.runAvailableNow(stream, out, ckpt)
    val got = spark.read.parquet(out).as[(Long, Double)].collect().toSet
    assert(got === want && got.nonEmpty)

    // with tolerance: capped intervals make the SAME plain condition join
    // enforce the max lookback (valid_to is never null when capped), so
    // streaming enrichment composes with tolerance for free
    val tol = 86400000000L // 1 day in µs
    val wantTol = AsOf.join(clicks, purchases, Seq("user_id"), Seq("p_user"),
        "click_ts", "p_ts", tolerance = Some(tol))
      .select($"click_id", $"value").as[(Long, Double)].collect().toSet
    val out2 = Files.createTempDirectory("graft_enrich_out2").toString
    val ckpt2 = Files.createTempDirectory("graft_enrich_ck2").toString
    val dimTol = AsOf.intervalize(purchases, Seq("p_user"), "p_ts",
      tolerance = Some(tol))
    val streamTol = spark.readStream.schema(clicks.schema).parquet(in)
      .join(dimTol, $"user_id" === $"p_user" &&
        $"click_ts" >= $"valid_from" && $"click_ts" < $"valid_to")
      .select($"click_id", $"value")
    EventStream.runAvailableNow(streamTol, out2, ckpt2)
    val gotTol = spark.read.parquet(out2).as[(Long, Double)].collect().toSet
    assert(gotTol === wantTol && gotTol.nonEmpty)
    assert(gotTol.size < got.size) // the bound actually drops matches
  }

  test("sinkToWarehouse: stream lands day partitions, replay is idempotent") {
    import graft.streaming.EventStream
    val in = Files.createTempDirectory("graft_sink_in").toString
    val out = Files.createTempDirectory("graft_sink_out").toString
    def events = Tables(spark, "/root/testdata/sf0.001", "events")
      .select($"event_id", $"ts", $"user_id", $"value")
    events.write.mode("overwrite").parquet(in)
    def stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
      .parquet(in)
    EventStream.sinkToWarehouse(stream, out,
      Files.createTempDirectory("graft_sink_ck1").toString)
    val landed = spark.read.parquet(out)
    assert(landed.count() === events.count())
    // hive day-partitioned layout, value-complete
    assert(landed.select("_ds").distinct().count() ===
      events.select(org.apache.spark.sql.functions
        .to_date($"ts").as("d")).distinct().count())
    // replay the whole input with a FRESH checkpoint: dynamic partition
    // overwrite rewrites the same _ds partitions — no duplication
    EventStream.sinkToWarehouse(stream, out,
      Files.createTempDirectory("graft_sink_ck2").toString)
    assert(spark.read.parquet(out).count() === events.count(),
      "replay must overwrite day partitions, not append duplicates")
  }

  test("flattenCharacteristics: map of lists -> flat array with name field") {
    import org.apache.spark.sql.functions._
    val df = spark.sql(
      """SELECT map(
           'organism', array(named_struct('text', 'human', 'tag', CAST(NULL AS STRING))),
           'tissue', array(named_struct('text', 'liver', 'tag', 't1'),
                           named_struct('text', 'lung', 'tag', 't2'))
         ) AS characteristics""")
    val out = df.select(explode(
        graft.functions.Nested.flattenCharacteristics($"characteristics")).as("c"))
      .select("c.characteristic", "c.text", "c.tag")
      .as[(String, String, String)].collect().sortBy(r => (r._1, r._2))
    assert(out === Array(
      ("organism", "human", null), ("tissue", "liver", "t1"),
      ("tissue", "lung", "t2")))
  }

  test("lineage columns: _loaded_at and _read_from populated") {
    val df = graft.functions.Nested.withLineage(
      Tables(spark, "/root/testdata/sf0.001", "region"))
    val r = df.select("_read_from", "_loaded_at").head()
    assert(r.getString(0).contains("region.parquet"))
    assert(!r.isNullAt(1))
  }

  test("partitioned export writes hive-style subdirs") {
    val dir = Files.createTempDirectory("graft_part").toString
    val df = Tables(spark, "/root/testdata/sf0.001", "orders")
    graft.export.Exporter.parquet(df, s"$dir/orders",
      partitionBy = Seq("o_orderstatus"))
    val parts = new java.io.File(s"$dir/orders").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(parts.forall(_.startsWith("o_orderstatus=")) && parts.length >= 2)
    // partition-pruned read round-trips
    val back = spark.read.parquet(s"$dir/orders")
      .filter($"o_orderstatus" === parts.head.split("=")(1))
    assert(back.count() > 0)
  }

  test("entrezid_to_geo mapping matches reference semantics") {
    import org.apache.spark.sql.functions.col
    val out = Seq("200012345", "100000001", "3000777", "900")
      .toDF("id")
      .select(TextFunctions.entrezidToGeo(col("id")).as("acc"))
      .as[String].collect()
    assert(out(0) === "GSE12345")
    assert(out(1) === "GPL1")
    assert(out(2) === "GSM777")
    assert(out(3) === null) // reference raises; engine yields null
  }

  test("HyperplaneBucketExpr equals the HOF formulation") {
    import org.apache.spark.sql.functions.{aggregate => agg_, _}
    val planes = (0 until 12).map(p =>
      graft.queries.SimilarityOps.planeWeights(p, 64))
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val hofSig = planes.zipWithIndex.map { case (w, p) =>
      val proj = agg_(zip_with($"embedding", typedLit(w),
        (x, ww) => x.cast("double") * ww), lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val both = e.select($"vec_id",
      graft.plans.HyperplaneBucket.bucket($"embedding", planes).as("fused"),
      hofSig.as("hof"))
    assert(both.filter($"fused" =!= $"hof").count() === 0L)
  }

  test("Md5Prefix60Expr equals the composed conv(substring(md5)) spelling") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(split($"text", " ")).as("tok"))
      .union(Seq("", "a", "é中文 unicode").toDF("tok"))
    val both = docs.select(
      TextFunctions.stableHash($"tok").as("fused"),
      TextFunctions.stableHashComposed($"tok").as("composed"))
    assert(both.filter($"fused" =!= $"composed").count() === 0L)
    assert(both.filter($"fused" < 0).count() === 0L) // 60-bit positive
    // null propagates
    val n = Seq[Option[String]](None).toDF("tok")
      .select(TextFunctions.stableHash($"tok")).collect()
    assert(n.head.isNullAt(0))
  }

  test("cosine_similarity callable from SQL after registration") {
    graft.plans.CosineSimilarity.registerSql(spark)
    Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(5)
      .createOrReplaceTempView("v_emb_sql")
    val r = spark.sql(
      """SELECT a.vec_id, round(cosine_similarity(a.embedding, b.embedding), 6) AS c
         FROM v_emb_sql a JOIN v_emb_sql b ON a.vec_id = b.vec_id""")
      .collect()
    assert(r.length === 5 && r.forall(x => math.abs(x.getDouble(1) - 1.0) < 1e-6))
  }

  test("salted join equals plain join; histogram finds the hot key") {
    import org.apache.spark.sql.functions._
    val skewed = spark.range(0, 2000)
      .select((when($"id" < 1500, 7L).otherwise($"id" % 25)).as("k"),
        $"id".as("payload"))
    val dim = spark.range(0, 25).select($"id".as("k2"), concat(lit("d"), $"id").as("name"))
    val plain = skewed.join(dim, skewed("k") === dim("k2"))
      .agg(count(lit(1)), sum("payload")).head()
    val salted = graft.operators.Skew.saltedJoin(skewed, dim, "k", "k2", 8)
      .agg(count(lit(1)), sum("payload")).head()
    assert(plain === salted)
    val hot = graft.operators.Skew.keyHistogram(skewed, "k", 1).head()
    // 1500 rows from the hot branch + 20 from id%25==7 in [1500,2000)
    assert(hot.getLong(0) === 7L && hot.getLong(1) === 1520L)
  }

  test("all SparkEntry queries run at sf0.001 and entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      // gate-shape contract (r9 verdict): scalar top-level columns only —
      // the driver's pandas canonicalizer cannot hash array/map/struct
      // cells, so a violation here would ERR in the driver's gate.
      withClue(name)(assert(graft.core.GateShape.badColumns(df).isEmpty))
      val n = df.count()
      withClue(name)(assert(n >= 0))
    }
    // every oracle key corresponds to a query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
