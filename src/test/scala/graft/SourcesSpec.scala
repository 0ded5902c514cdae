package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.sources.{LakeManifest, LakeReader, ParquetFooterMeta, SchemaEnforcement, Tables}
import graft.core.EngineConfig
import graft.models.OmicidxModels

import java.nio.file.{Files, Paths}

/** Scan operators + write-side schema enforcement + timestamp-cast
  * semantics (FIXTURES.md §4, §8). */
class SourcesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  import spark.implicits._

  test("nullListsToEmpty: null arrays become [], scalars stay null") {
    val df = Seq(
      (1, Seq("a"), Option("x")),
      (2, null.asInstanceOf[Seq[String]], None))
      .toDF("id", "tags", "name")
    val out = SchemaEnforcement.nullListsToEmpty(df).orderBy("id").collect()
    assert(out(1).getSeq[String](1) === Seq.empty[String])
    assert(out(1).isNullAt(2)) // missing scalar stays null
    assert(out(0).getSeq[String](1) === Seq("a"))
  }

  test("conform: adds missing typed-null columns, casts, reorders, drops") {
    val target = StructType(Seq(
      StructField("id", LongType),
      StructField("score", DoubleType),
      StructField("tags", ArrayType(StringType))))
    val df = Seq(("5", 1)).toDF("id", "extra")
    val out = SchemaEnforcement.conform(df, target)
    assert(out.schema.fieldNames.toSeq === Seq("id", "score", "tags"))
    assert(out.schema("id").dataType === LongType)
    val r = out.head()
    assert(r.getLong(0) === 5L && r.isNullAt(1) && r.isNullAt(2))
  }

  test("ndjson gz glob scan unions drifted schemas by name") {
    val dir = tmp("graft_json")
    LakeFixture.gzLines(Paths.get(dir, "f1.ndjson.gz"), Seq("""{"a": 1, "b": "x"}"""))
    LakeFixture.gzLines(Paths.get(dir, "f2.ndjson.gz"), Seq("""{"a": 2, "c": true}"""))
    val m = LakeManifest(spark, s"$dir/f*.ndjson.gz", s"$dir/manifest",
      LakeManifest.Json(StructType.fromDDL("a LONG, b STRING, c BOOLEAN")),
      LakeManifest.DateOf("d"))
    // no file holds the prune column `d`: both are read for any window
    val out = m.read(m.meeting("2024-01-01", "2024-01-01"))
    assert(out.columns.toSeq === Seq("a", "b", "c"))
    assert(out.orderBy("a").collect().map(_.toSeq).toSeq ===
      Seq(Seq(1L, "x", null), Seq(2L, null, true)))
  }

  test("pinned GEO schema defeats NDJSON drift: all-null month keeps types") {
    val (lake, wh) = (tmp("graft_drift"), tmp("graft_drift_wh"))
    // month 1: full record; month 2: drifted — channel_count,
    // last_update_date and supplemental_files entirely absent
    LakeFixture.gzLines(Paths.get(lake, "geo", "gsm-01.ndjson.gz"), Seq(
      """{"accession":"GSM1","title":"t1","last_update_date":"2005-05-28","channel_count":2,"supplemental_files":["http://x/f.gz"],"channels":[{"source_name":"s1","organism":"hs","molecule":"RNA"}],"contact":{"email":"a@x","name":{"first":"Ada","last":"L"}}}"""))
    LakeFixture.gzLines(Paths.get(lake, "geo", "gsm-02.ndjson.gz"),
      Seq("""{"accession":"GSM2","title":"t2"}"""))

    // inferred, the drifted glob would type whatever the surviving values
    // allow — an all-null column would come back string. The raw view
    // parses with the pinned schema: every column keeps its declared type
    // and absent ones are typed nulls. Month 2 has no update date, so the
    // month-1 window reads it too.
    val pinned = rawView("src_geo_samples", EngineConfig(lake, wh, "/none",
      Map("start_ds" -> "2005-05-28", "end_ds" -> "2005-05-28")))
    assert(pinned.schema("last_update_date").dataType === DateType)
    assert(pinned.schema("channel_count").dataType === IntegerType)
    assert(pinned.schema("supplemental_files").dataType
      === ArrayType(StringType))
    assert(pinned.schema("channels").dataType.isInstanceOf[ArrayType])
    val rows = pinned.orderBy("accession").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[java.sql.Date]("last_update_date").toString
      === "2005-05-28")
    assert(rows(1).isNullAt(rows(1).fieldIndex("last_update_date")))
    // and the gsm view's nested paths still resolve on the pinned frame
    pinned.createOrReplaceTempView("drift_gsm")
    val c = spark.sql(
      """SELECT contact.name.first || ' ' || contact.name.last AS contact,
                try_element_at(channels, 1).source_name AS src1
         FROM drift_gsm ORDER BY accession""").collect()
    assert(c(0).getString(0) === "Ada L" && c(0).getString(1) === "s1")
    assert(c(1).isNullAt(0) && c(1).isNullAt(1))
  }

  test("ndjson quarantine: torn lines surface in _corrupt, good rows parse") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quar").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.ndjson"),
      Seq(
        """{"id": 1, "name": "ok"}""",
        """{"id": 2, "name": "also ok"}""",
        """{"id": 3, "name": "torn""", // truncated mid-record
        """not json at all""").mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, name STRING")
    val landed = s"$dir/landed"
    // the documented pattern: land once partitioned by corruption, then
    // split — filtering _corrupt straight off the JSON relation is
    // disallowed by Spark (it would re-parse)
    graft.sources.LakeReader.ndjsonWithQuarantine(spark, s"$dir/*.ndjson", schema)
      .withColumn("_quarantined", col("_corrupt").isNotNull)
      .write.partitionBy("_quarantined").mode("overwrite").parquet(landed)
    val back = spark.read.parquet(landed)
    // hive partition values round-trip as strings
    val good = back.filter(col("_quarantined") === "false")
    val bad = back.filter(col("_quarantined") === "true")
    assert(good.select("id", "name").as[(Long, String)].collect().toSet
      === Set((1L, "ok"), (2L, "also ok")))
    assert(bad.count() === 2L)
    // the raw line is preserved verbatim for replay/debugging
    assert(bad.select("_corrupt").as[String].collect().toSet
      === Set("""{"id": 3, "name": "torn""", "not json at all"))
  }

  test("scheme-qualified URIs flow through every reader (file://)") {
    // the remote-lake path: same readers, scheme resolved by Hadoop FS.
    // s3a:// needs only the connector jar + LakeReader.remoteFs configs
    // a space in the path: `_metadata.file_path` spells it %20
    val lake = tmp("uri lake")
    (0 to 2).foreach(LakeFixture.landDay(spark, lake, _))
    val day1 = lakeCfg(s"file://$lake", tmp("uri_wh"), 1, 1)
    // one file of each source is read: the spine's and GEO's content-pass
    // ranges (keyed by `_metadata.file_path`) and the detail file's footer
    // range were all matched to the file:// listing
    Seq("src_sra_accessions", "src_sra_experiments", "src_geo_samples")
      .foreach { name =>
        val view = rawView(name, day1)
        assert(view.inputFiles.length === 1, name)
        assert(view.count() === 4L, name)
      }
    assert(ParquetFooterMeta.rowCount(spark,
      "file:///root/testdata/sf0.001/region.parquet") === 5L)
    graft.sources.LakeReader.remoteFs(spark,
      endpoint = Some("https://example.invalid"), pathStyle = true)
    val h = spark.sparkContext.hadoopConfiguration
    assert(h.get("fs.s3a.endpoint") === "https://example.invalid")
    assert(h.get("fs.s3a.path.style.access") === "true")
  }

  test("compact: small-file dir repacks atomically, already-compact skips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString + "/t"
    val src = graft.sources.Tables(spark, "/root/testdata/sf0.001", "lineitem")
    src.repartition(20).write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(before >= 20)
    val rows = src.count()
    val after = graft.export.Exporter.compact(spark, dir,
      targetBytes = 64L * 1024 * 1024)
    assert(after >= 1 && after < before, s"want fewer files, got $after")
    assert(spark.read.parquet(dir).count() === rows, "no rows lost")
    assert(graft.export.Exporter.isDone(spark, dir), "atomic publish marker")
    assert(graft.export.Exporter.compact(spark, dir) === -1L,
      "second compact must skip an already-compact dir")
  }

  test("compactPartitioned: per-partition repack, no stray root files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cpart")
      .toString + "/t"
    val src = graft.sources.Tables(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("ds", date_format(col("o_orderdate"), "yyyy"))
    src.repartition(8).write.partitionBy("ds").mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir).count()
    val (done, skipped) = graft.export.Exporter.compactPartitioned(spark, dir,
      targetBytes = 64L * 1024 * 1024)
    assert(done > 0, s"expected compactions, got done=$done skipped=$skipped")
    val back = spark.read.parquet(dir)
    assert(back.count() === rows)
    assert(back.columns.contains("ds"), "partition column must survive")
    // no marker FILES at the table root (they break partition inference)
    assert(!new java.io.File(dir).listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".done")))
  }

  test("orc export + glob scan round-trips schema and rows; drift unions by name") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val base = Tables(spark, "/root/testdata/sf0.001", "nation")
    graft.export.Exporter.orc(base, s"$dir/g1")
    // a drifted second generation: one extra column
    graft.export.Exporter.orc(base.withColumn("extra", lit(7L)), s"$dir/g2")
    val one = LakeReader.orcGlob(spark, s"$dir/g1")
    assert(one.schema === base.schema)
    assert(one.count() === base.count())
    assert(one.exceptAll(base).isEmpty && base.exceptAll(one).isEmpty)
    val merged = LakeReader.orcGlob(spark, s"$dir/g*")
    assert(merged.columns.contains("extra"))
    assert(merged.count() === base.count() * 2)
    // generation 1 rows carry a typed null in the drifted column
    assert(merged.filter(col("extra").isNull).count() === base.count())
  }

  test("orc scan pushes filters and prunes columns (same S1 guarantees as parquet)") {
    val dir = Files.createTempDirectory("graft_orc_push").toString
    graft.export.Exporter.orc(
      Tables(spark, "/root/testdata/sf0.001", "orders"), dir)
    val q = LakeReader.orcGlob(spark, dir)
      .filter(col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_totalprice")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(o_totalprice,100000.0)"),
      s"filter not pushed to the ORC scan:\n$plan")
    // pruned read schema: exactly the two projected columns reach the scan
    assert(plan.contains("o_orderkey") && !plan.contains("o_custkey"),
      s"column pruning failed on the ORC scan:\n$plan")
    assert(q.count() > 0)
  }

  test("csv scan with delimiter + inference") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/x.csv"),
      "id;name;rank\n1;alpha;0.5\n2;beta;0.7\n")
    val out = LakeReader.csv(spark, s"$dir/x.csv")
    assert(out.schema("id").dataType === IntegerType)
    assert(out.schema("rank").dataType === DoubleType)
    assert(out.count() === 2L)
  }

  test("parquet footer metadata matches actual row counts") {
    val sf = SparkTestBase.testData("0.001")
    val glob = s"$sf/*.parquet"
    val meta = ParquetFooterMeta(spark, glob)
    assert(meta.columns.contains("total_compressed_size"))
    val byFile = meta.groupBy("file_name").agg(sum("num_rows").as("n"))
      .as[(String, Long)].collect().toMap
    val li = byFile.find(_._1.contains("lineitem")).get._2
    assert(li === Tables(spark, sf, "lineitem").count())
    assert(byFile.size === 10)
    val (rows, driver) = graft.core.Meter.measure(spark)(
      ParquetFooterMeta.rowCount(spark, glob))
    assert(rows === byFile.values.sum)
    assert(driver.jobs === 0L, "a handful of footers is read on the driver")

    // past DriverTier.FooterFilesMax files the footers are read in a job
    val dir = tmp("footer_tiers")
    val n = graft.operators.DriverTier.FooterFilesMax + 4
    spark.range(0, n * 10L).repartition(n).write.parquet(s"$dir/t")
    val many = s"$dir/t/*.parquet"
    def name(p: String) = p.split("/").last
    val truth = spark.read.parquet(s"$dir/t").groupBy(input_file_name().as("f"))
      .count().as[(String, Long)].collect().map(r => name(r._1) -> r._2).toMap
    assert(truth.size > graft.operators.DriverTier.FooterFilesMax)
    val (jobRows, job) = graft.core.Meter.measure(spark)(
      ParquetFooterMeta(spark, many).collect().toSeq)
    assert(job.jobs >= 1L, "many footers are read in a Spark job")
    assert(jobRows.groupBy(r => name(r.getAs[String]("file_name")))
      .map { case (f, rs) => f -> rs.map(_.getAs[Long]("num_rows")).sum } === truth)
    assert(ParquetFooterMeta.rowCount(spark, many) === n * 10L)
    // both tiers give the same rows: a few of the same files, on the driver
    val few = truth.keySet.toSeq.sorted.take(3).toSet
    val (fewRows, fewRun) = graft.core.Meter.measure(spark)(
      ParquetFooterMeta(spark, many, p => few(p.getName)).collect().toSet)
    assert(fewRun.jobs === 0L)
    assert(fewRows === jobRows.filter(r => few(name(r.getAs[String]("file_name")))).toSet)
  }

  // ---- lake manifest (OmicidxModels.lakeSources) ----------------------

  private def lakeCfg(lake: String, wh: String, from: Int, to: Int) =
    EngineConfig(lake, wh, "/none", Map(
      "start_ds" -> LakeFixture.date(from).toString,
      "end_ds" -> LakeFixture.date(to).toString))

  private def rawView(name: String, c: EngineConfig) =
    OmicidxModels.lakeSources(name)(spark, c)

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("lake manifest: a file landed late that holds old Updated values is still read") {
    val (lake, wh) = (tmp("late_lake"), tmp("late_wh"))
    (0 to 2).foreach(LakeFixture.landDay(spark, lake, _))
    val day1 = lakeCfg(lake, wh, 1, 1)
    def accessions(name: String, col: String) =
      rawView(name, day1).select(col).as[String].collect().toSet
    assert(accessions("src_sra_accessions", "Accession").size === 4)
    assert(rawView("src_sra_accessions", day1).inputFiles.length === 1,
      "the day-1 window opens the one day-1 spine file")
    // lands after day 2, named after it, but its rows are of day 1
    val late = LakeFixture.accession(1, 99)
    LakeFixture.writeFile(
      LakeFixture.spine(spark, Seq(late -> s"${LakeFixture.date(1)} 23:00:00")),
      java.nio.file.Paths.get(lake, "sra", "sra_accessions.parquet", "part-0009.parquet"))
    LakeFixture.writeFile(Seq(late).toDF("accession"),
      java.nio.file.Paths.get(lake, "sra", "meta-experiment-0009.parquet"))
    assert(accessions("src_sra_accessions", "Accession").contains(late))
    assert(accessions("src_sra_experiments", "accession").contains(late))
    assert(rawView("src_sra_experiments", day1).inputFiles.length === 2,
      "day 1's detail file and the late one")
  }

  test("lake manifest: a file rewritten in place is manifested again") {
    val (lake, wh) = (tmp("rewrite_lake"), tmp("rewrite_wh"))
    val file = java.nio.file.Paths.get(lake, "sra", "sra_accessions.parquet", "part-0000.parquet")
    LakeFixture.writeFile(LakeFixture.spine(spark,
      Seq("SRX1" -> s"${LakeFixture.date(0)} 10:00:00")), file)
    assert(rawView("src_sra_accessions", lakeCfg(lake, wh, 0, 0)).count() === 1L)
    val day2 = lakeCfg(lake, wh, 2, 2)
    assert(rawView("src_sra_accessions", day2).count() === 0L)
    val before = Files.getLastModifiedTime(file).toMillis
    LakeFixture.writeFile(LakeFixture.spine(spark, Seq(
      "SRX1" -> s"${LakeFixture.date(2)} 10:00:00",
      "SRX2" -> s"${LakeFixture.date(2)} 11:00:00")), file)
    // a rewrite in the same clock tick still shows a new modification time
    Files.setLastModifiedTime(file,
      java.nio.file.attribute.FileTime.fromMillis(before + 5000))
    assert(rawView("src_sra_accessions", day2).count() === 2L)
  }

  test("lake manifest: merged schema equals mergeSchema inference, and normalize output is identical, on a drifted lake") {
    val (lake, wh) = (tmp("drift_lake"), tmp("drift_wh"))
    val base = Seq(("SAMEA1", "one", "2024-01-05T10:00:00.000Z", 9606L),
        ("SAMEA2", "two", "2024-01-06T10:00:00.000Z", 10090L))
      .toDF("accession", "name", "update", "taxId")
    def land(df: DataFrame, dir: String, name: String) = LakeFixture.writeFile(
      df, java.nio.file.Paths.get(lake, dir, name))
    // a column added later, and a month where `name` is absent
    land(base.drop("taxId"), "ebi_biosample", "samples-01.parquet")
    land(base, "ebi_biosample", "samples-02.parquet")
    land(base.drop("name"), "ebi_biosample", "samples-03.parquet")
    val prj = Seq(("PRJ1", "2024-01-05 10:00:00")).toDF("accession", "release_date")
    land(prj, "biosample", "bioproject-01.parquet")
    land(prj.withColumn("title", lit("t")), "biosample", "bioproject-02.parquet")
    land(prj.withColumn("data_types", lit("genome")).drop("release_date")
      .withColumn("release_date", lit("2024-01-07")), "biosample", "bioproject-03.parquet")
    val all = EngineConfig(lake, wh, "/none")
    def inferred(rel: String) =
      spark.read.option("mergeSchema", "true").parquet(s"$lake/$rel")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

    val ebi = inferred("ebi_biosample/*.parquet")
    val manifest = graft.sources.LakeManifest(spark, s"$lake/ebi_biosample/*.parquet",
      s"$wh/probe", graft.sources.LakeManifest.Parquet(None),
      graft.sources.LakeManifest.DateOf("update"))
    assert(manifest.schema === ebi.schema)
    val pin = graft.models.DomainSchemas.ebiBiosample
    val view = rawView("src_ebi_biosample", all)
    assert(view.schema === SchemaEnforcement.normalize(ebi, pin).schema)
    assert(rows(view) === rows(SchemaEnforcement.normalize(ebi, pin)))
    // the unpinned bioproject view is the by-name union itself
    val bioproject = inferred("biosample/bioproject*.parquet")
    assert(rawView("src_ncbi_bioproject", all).schema === bioproject.schema)
    assert(rows(rawView("src_ncbi_bioproject", all)) === rows(bioproject))
  }

  test("lake manifest: a file whose time column is all null or unparseable is always read") {
    val (lake, wh) = (tmp("null_lake"), tmp("null_wh"))
    def land(updates: Seq[String], name: String) = LakeFixture.writeFile(
      updates.zipWithIndex.map { case (u, i) => (s"SAMEA$i", u) }
        .toDF("accession", "update"),
      java.nio.file.Paths.get(lake, "ebi_biosample", name))
    land(Seq("2024-01-01T10:00:00.000Z"), "samples-01.parquet")
    land(Seq(null, null), "samples-02.parquet")
    land(Seq("2024-01-01T10:00:00.000Z", "not a timestamp"), "samples-03.parquet")
    def read(from: Int, to: Int) = rawView("src_ebi_biosample",
      lakeCfg(lake, wh, from, to)).inputFiles.map(_.split("/").last).sorted.toSeq
    assert(read(0, 0) === Seq("samples-01.parquet", "samples-02.parquet",
      "samples-03.parquet"))
    assert(read(5, 6) === Seq("samples-02.parquet", "samples-03.parquet"))
  }

  test("ISO-8601 Z+millis strings cast to UTC timestamp and date (ebi)") {
    val fix = Seq(
      ("SAMEA1", "s1", "2021-01-07T00:22:30.866Z", "2021-01-07T00:22:30.866Z",
        "2020-12-01T08:00:00.000Z", Some(9606L)),
      ("SAMEA2", "s2", "2021-01-09T10:00:00.000Z", "2021-01-09T10:00:00.000Z",
        "2020-12-02T08:00:00.000Z", None))
      .toDF("accession", "name", "update", "release", "create", "taxId")
      .selectExpr("accession", "name", "`update`", "release", "`create`",
        "taxId", "CAST(array() AS ARRAY<STRING>) AS characteristics",
        "CAST(array() AS ARRAY<STRING>) AS organization",
        "CAST(array() AS ARRAY<STRING>) AS contact",
        "CAST(array() AS ARRAY<STRING>) AS publications",
        "CAST(array() AS ARRAY<STRING>) AS externalReferences",
        "named_struct('self', named_struct('href', 'http://x')) AS _links")
    val sources = Map(
      "src_ebi_biosample" -> ((_: SparkSession, _: EngineConfig) => fix))
    val models = OmicidxModels.catalog(sources)
      .filter(m => Seq("src_ebi_biosample", "stg_ebi_biosample").contains(m.name))
      .map(m => if (m.materialization != graft.core.Materialization.View)
        m.copy(materialization = graft.core.Materialization.View) else m)
    val cfg = EngineConfig("/none", "/none", "/none",
      Map("start_ds" -> "2021-01-07", "end_ds" -> "2021-01-07"))
    val res = new graft.core.DagRunner(spark, cfg, models).run()
    assert(res.forall(_.status == "success"), res.mkString("\n"))
    val out = spark.table("stg_ebi_biosample")
    // window keeps only the 01-07 row; reserved-word columns round-trip
    assert(out.count() === 1L)
    val r = out.select(date_format($"update_timestamp",
      "yyyy-MM-dd HH:mm:ss.SSS"), $"taxId").head()
    assert(r.getString(0) === "2021-01-07 00:22:30.866")
    assert(r.getLong(1) === 9606L)
  }

  test("S5: remote http lake scan — ranged GETs, column pruning moves fewer bytes") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import java.util.concurrent.atomic.AtomicLong
    val root = java.nio.file.Paths.get("/root/testdata/sf0.001")
    val served = new AtomicLong(0) // payload bytes actually shipped
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    server.createContext("/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val p = root.resolve(x.getRequestURI.getPath.stripPrefix("/"))
        if (!java.nio.file.Files.isRegularFile(p)) {
          x.sendResponseHeaders(404, -1); x.close(); return
        }
        val bytes = java.nio.file.Files.readAllBytes(p)
        Option(x.getRequestHeaders.getFirst("Range")) match {
          case Some(r) => // "bytes=a-b"
            val Array(a, b) = r.stripPrefix("bytes=").split("-", 2)
            val from = a.toInt
            val to = if (b.isEmpty) bytes.length - 1 else b.toInt
            val slice = bytes.slice(from, to + 1)
            x.getResponseHeaders.add("Content-Range",
              s"bytes $from-$to/${bytes.length}")
            x.sendResponseHeaders(206, slice.length)
            x.getResponseBody.write(slice)
            served.addAndGet(slice.length)
          case None =>
            x.sendResponseHeaders(200, bytes.length)
            x.getResponseBody.write(bytes)
            served.addAndGet(bytes.length)
        }
        x.close()
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      LakeReader.httpFs(spark)
      // correctness: remote scan == local scan, row for row
      val remote = spark.read
        .parquet(s"http://127.0.0.1:$port/nation.parquet")
        .collect().map(_.toSeq).toSet
      val local = spark.read
        .parquet("/root/testdata/sf0.001/nation.parquet")
        .collect().map(_.toSeq).toSet
      assert(remote === local && remote.nonEmpty)
      // efficiency: a 2-column projection of the 16-column lineitem must
      // move fewer payload bytes than the object holds — the ranged reads
      // fetch footer + projected column chunks, not the file
      val size = java.nio.file.Files.size(root.resolve("lineitem.parquet"))
      served.set(0)
      val n = spark.read
        .parquet(s"http://127.0.0.1:$port/lineitem.parquet")
        .select("l_orderkey", "l_quantity").count()
      assert(n === 6000L)
      assert(served.get() < size,
        s"pruned scan shipped ${served.get()} of $size bytes")
    } finally server.stop(0)
  }

  test("S5: s3a:// parquet scan against an in-process S3-compatible endpoint") {
    // bucket root = a temp dir seeded with sf0.001 objects PLUS a
    // hive-partitioned dataset, so nested keys exercise the dir-probe and
    // CommonPrefixes paths
    val root = java.nio.file.Files.createTempDirectory("s3mock")
    Seq("nation", "lineitem", "region").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        root.resolve(s"$t.parquet"))
    }
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("bucket",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("o_orderkey"),
          org.apache.spark.sql.functions.lit(3)))
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(root.resolve("orders_part.parquet").toString)
    // anonymous mode: no auth required or sent ([[S3TestServer]] carries
    // the ListObjectsV2 delimiter/pagination semantics the old inline
    // mock pinned)
    val server = new S3TestServer(root)
    server.start()
    try {
      LakeReader.s3MinimalFs(spark, server.endpoint)
      // object read: s3a scan == local scan, row for row
      val remote = spark.read.parquet("s3a://lake/nation.parquet")
        .collect().map(_.toSeq).toSet
      val local = spark.read
        .parquet("/root/testdata/sf0.001/nation.parquet")
        .collect().map(_.toSeq).toSet
      assert(remote === local && remote.nonEmpty)
      assert(server.rangedGets.get() > 0, "parquet scan did not use ranged GETs")
      // bucket LISTING drives a glob: every *.parquet object is discovered
      // through paginated ListObjectsV2 and unioned by name
      server.listCalls.set(0)
      val fs = new org.apache.hadoop.fs.Path("s3a://lake/")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listed = fs.listStatus(new org.apache.hadoop.fs.Path("s3a://lake/"))
        .map(_.getPath.getName).toSet
      assert(listed.contains("nation.parquet") &&
        listed.contains("lineitem.parquet"))
      assert(server.listCalls.get() >= 2,
        "ListObjectsV2 pagination was not exercised")
      // and a glob over the listing scans correctly
      val regions = spark.read.parquet("s3a://lake/region.parquet")
      assert(regions.count() === 5L)
      // hive-partitioned dataset: nested keys drive the dir-probe
      // (HEAD 404 -> prefix probe) and CommonPrefixes listing; partition
      // discovery and pruning work over the remote listing
      val part = spark.read.parquet("s3a://lake/orders_part.parquet")
      val localPart = spark.read
        .parquet(root.resolve("orders_part.parquet").toString)
      assert(part.count() === localPart.count())
      assert(part.select("bucket").distinct().count() === 3L)
      assert(part.filter(col("bucket") === 1).count() ===
        localPart.filter(col("bucket") === 1).count())
    } finally server.stop()
  }

  test("S5: credentialed s3a scan — every request SigV4-signed, server-verified") {
    import graft.sources.SigV4
    val root = java.nio.file.Files.createTempDirectory("s3auth")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/nation.parquet"),
      root.resolve("nation.parquet"))
    val creds = SigV4.Credentials("AKIATESTKEY", "wJalrXUtnFEMI/test/secret",
      "us-east-1")
    // the mock verifies like AWS does: re-derives the canonical request
    // from the raw wire data with the shared secret and compares
    // signatures; any canonicalization drift = 403, not just a missing
    // header
    val server = new S3TestServer(root, auth = Some(creds))
    server.start()
    try {
      // unsigned client vs credentialed bucket: rejected with 403
      LakeReader.s3MinimalFs(spark, server.endpoint)
      val unsignedErr = intercept[Exception] {
        spark.read.parquet("s3a://lake/nation.parquet").collect()
      }
      assert(server.authRejections.get() > 0, "mock accepted an unsigned request")
      // signed client: HEAD + ListObjectsV2 + every ranged GET carry a
      // valid signature; the read round-trips exactly
      LakeReader.s3MinimalFs(spark, server.endpoint,
        accessKey = Some(creds.accessKey), secretKey = Some(creds.secretKey),
        region = Some(creds.region))
      server.authRejections.set(0)
      val remote = spark.read.parquet("s3a://lake/nation.parquet")
        .collect().map(_.toSeq).toSet
      val local = spark.read
        .parquet("/root/testdata/sf0.001/nation.parquet")
        .collect().map(_.toSeq).toSet
      assert(remote === local && remote.nonEmpty)
      assert(server.rangedGets.get() > 0, "signed scan did not use ranged GETs")
      assert(server.authRejections.get() === 0,
        "a signed request failed the server-side signature check")
      // a WRONG secret must be rejected even though the header is present
      LakeReader.s3MinimalFs(spark, server.endpoint,
        accessKey = Some(creds.accessKey), secretKey = Some("wrong-secret"),
        region = Some(creds.region))
      intercept[Exception] {
        spark.read.parquet("s3a://lake/nation.parquet").collect()
      }
      assert(server.authRejections.get() > 0,
        "mock accepted a request signed with the wrong secret")
    } finally {
      server.stop()
      // leave the conf clean for later tests
      LakeReader.s3MinimalFs(spark, "http://unset.invalid")
    }
  }

  test("K: remote export publish — export, publish, s3a read-back == local; marker LAST") {
    import graft.sources.SigV4
    import graft.export.{Exporter, S3Publisher}
    val root = java.nio.file.Files.createTempDirectory("s3pub")
    val creds = SigV4.Credentials("AKIAPUBLISH", "publish/secret", "auto")
    val server = new S3TestServer(root, auth = Some(creds))
    server.start()
    try {
      LakeReader.s3MinimalFs(spark, server.endpoint,
        accessKey = Some(creds.accessKey), secretKey = Some(creds.secretKey),
        region = Some(creds.region))
      // export a mart locally with the atomic tmp+rename + .done marker
      val exportBase = java.nio.file.Files.createTempDirectory("pubexp")
      val localDir = s"$exportBase/mart.parquet"
      val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .limit(2000)
      Exporter.atomically(spark, localDir) { tmp =>
        df.coalesce(2).write.mode("overwrite").parquet(tmp)
      }
      assert(Exporter.isDone(spark, localDir))
      // publish to the credentialed bucket; tiny threshold forces at least
      // one multipart upload (parquet parts here are > 16 KB)
      assert(!Exporter.isDone(spark, "s3a://lake/mart.parquet"))
      S3Publisher.publishDir(spark, localDir, "s3a://lake/mart.parquet",
        multipartThreshold = 16 * 1024)
      // marker object is the LAST put — the atomic-publish contract on an
      // object store (readers gate on the marker)
      val puts = scala.jdk.CollectionConverters
        .ListHasAsScala(server.putLog).asScala.toSeq
      assert(puts.nonEmpty && puts.last === "mart.parquet.done",
        s"marker was not published last: $puts")
      assert(Exporter.isDone(spark, "s3a://lake/mart.parquet"))
      // read-back through the signed s3a scan == the local export
      val remote = spark.read.parquet("s3a://lake/mart.parquet")
        .collect().map(_.toSeq).toSet
      val local = spark.read.parquet(localDir).collect().map(_.toSeq).toSet
      assert(remote === local && remote.size > 100)
      assert(server.authRejections.get() === 0)
      // NEGATIVE path: real S3 can answer CompleteMultipartUpload with
      // HTTP 200 and an <Error> body — the publish must abort BEFORE the
      // marker, so readers gating on it never see the broken export
      server.failCompletes.set(true)
      val before = server.putLog.size()
      intercept[java.io.IOException] {
        S3Publisher.publishDir(spark, localDir, "s3a://lake/mart2.parquet",
          multipartThreshold = 16 * 1024)
      }
      val newPuts = scala.jdk.CollectionConverters
        .ListHasAsScala(server.putLog).asScala.toSeq.drop(before)
      assert(!newPuts.exists(_.endsWith(".done")),
        s"marker published after a failed multipart complete: $newPuts")
      assert(!Exporter.isDone(spark, "s3a://lake/mart2.parquet"))
      // the failed upload must be ABORTED, not orphaned (real S3 charges
      // for lingering multipart parts until a lifecycle rule collects them)
      val aborted = scala.jdk.CollectionConverters
        .ListHasAsScala(server.abortLog).asScala.toSeq
      assert(aborted.nonEmpty && aborted.forall(_.startsWith("mart2.parquet/")),
        s"failed multipart upload was not aborted: $aborted")
      server.failCompletes.set(false)
    } finally {
      server.stop()
      LakeReader.s3MinimalFs(spark, "http://unset.invalid")
    }
  }

  test("K: publish generalizes past the mock — file:// Hadoop FS, marker + read-back") {
    import graft.export.{Exporter, S3Publisher}
    // a second, unrelated FileSystem implementation (Hadoop's local FS):
    // the publish loop only needs whole-object PUT semantics, so the same
    // call that ships to the SigV4 mock must ship here too (VERDICT r7
    // item 5 — a stock-hadoop-aws deployment publishes through this path)
    val exportBase = java.nio.file.Files.createTempDirectory("pubexp2")
    val localDir = s"$exportBase/mart.parquet"
    val df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    Exporter.atomically(spark, localDir) { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    val remoteBase = java.nio.file.Files.createTempDirectory("pubdst")
    val remoteDir = s"file://$remoteBase/lake/mart.parquet"
    assert(!Exporter.isDone(spark, remoteDir))
    S3Publisher.publishDir(spark, localDir, remoteDir)
    assert(Exporter.isDone(spark, remoteDir))
    // same layout, same bytes: read back through the published prefix
    val remote = spark.read.parquet(remoteDir).collect().map(_.toSeq).toSet
    val local = spark.read.parquet(localDir).collect().map(_.toSeq).toSet
    assert(remote === local && remote.nonEmpty)
    // the marker object sits NEXT TO the prefix (reader gate contract)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$remoteBase/lake/mart.parquet.done")))
  }
}
