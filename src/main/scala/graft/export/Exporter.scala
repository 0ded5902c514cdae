package graft.export

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.ParquetFooterMeta

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Export + catalog layer (SURVEY.md §2.2 K1/K2/K6 and the deployment
  * cataloging flow, `/root/reference/omicidx_etl/catalog.py:16-89`,
  * `DEPLOYMENT.md:15-28`).
  */
object Exporter {

  /** K1/K2: parquet export with codec, optional hive partitioning, file
    * sizing, and ROW-GROUP sizing (`COPY ... (FORMAT PARQUET, COMPRESSION
    * zstd, ROW_GROUP_SIZE 100000)`, `EXPORT_DEPLOYMENT.md:46`).
    *
    * `rowGroupRows` maps to parquet-mr's `parquet.block.row.count.limit` —
    * the same row-count semantics as the reference's ROW_GROUP_SIZE — and
    * `rowGroupBytes` to `parquet.block.size`; a group closes at whichever
    * limit hits first. Row-group granularity is what remote range readers
    * (https/s3 footer-first scans) actually prune on, so exports meant for
    * remote consumption should keep groups ~100k rows rather than the
    * 128 MB default. */
  def parquet(df: DataFrame, path: String,
      compression: String = "zstd",
      partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 1000000L,
      rowGroupRows: Long = 100000L,
      rowGroupBytes: Long = 128L * 1024 * 1024): Unit = {
    val w = df.write.mode("overwrite")
      .option("compression", compression)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("parquet.block.row.count.limit", rowGroupRows)
      .option("parquet.block.size", rowGroupBytes)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** ORC export — K1/K2's sizing semantics on the other columnar format
    * (`orc.stripe.size` is the pruning granularity remote readers see,
    * the way parquet row groups are). Same codec default (zstd) and
    * optional hive partitioning as [[parquet]]. */
  def orc(df: DataFrame, path: String,
      compression: String = "zstd",
      partitionBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 1000000L,
      stripeBytes: Long = 64L * 1024 * 1024): Unit = {
    val w = df.write.mode("overwrite")
      .option("compression", compression)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("orc.stripe.size", stripeBytes)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .orc(path)
  }

  /** K4: NDJSON.gz export (`sra/extract.py:527-537`). */
  def ndjsonGz(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "gzip").json(path)

  /** Bucketed managed table: co-locates join keys at write time so
    * repeated large⋈large joins on `keys` (the reference's accession joins,
    * run daily) skip their shuffles entirely — both sides read
    * pre-partitioned. Requires `saveAsTable` (bucket metadata lives in the
    * catalog). */
  def bucketedTable(df: DataFrame, table: String, buckets: Int,
      keys: Seq[String], sortBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortBy.nonEmpty) w.sortBy(sortBy.head, sortBy.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** K6: atomic publish — write to `<path>._tmp`, then rename into place,
    * then drop a `.done` JSON marker (the reference's tmp+rename + semaphore
    * files, `ebi_biosample/extract.py:232-260`). */
  def atomically(path: String, marker: Boolean = true)(
      write: String => Unit): Unit = {
    val tmp = path + "._tmp"
    deleteRecursively(Paths.get(tmp))
    write(tmp)
    deleteRecursively(Paths.get(path))
    Files.move(Paths.get(tmp), Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    if (marker) Files.writeString(Paths.get(path + ".done"),
      s"""{"path": "$path", "completed_at_ms": ${System.currentTimeMillis()}}""")
  }

  /** Completion-marker check (I3 idempotency): skip work already published. */
  def isDone(path: String): Boolean = Files.exists(Paths.get(path + ".done"))

  /** Compaction: rewrite a parquet directory into ~`targetBytes` files when
    * it has degraded into small files — the lake disease every incremental
    * writer develops (each `_ds` refresh and micro-batch lands its own
    * files; a year of daily appends is 10k tiny footers and a scan
    * bottlenecked on open()s, not bytes).
    *
    * Decision comes from footer metadata only (no data read); the rewrite
    * is one narrow `coalesce` (no shuffle — compaction repacks, it does
    * not re-cluster; pair with `Layout.zorder2` + repartitionByRange when
    * re-clustering is wanted) published via the atomic tmp+rename path.
    * The swap relies on rename atomicity (local/HDFS); on object stores
    * publish to a new prefix and flip the catalog pointer instead.
    *
    * @return number of files after compaction, or -1 if skipped (already
    *         compact) */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFilesToBother: Int = 4,
      marker: Boolean = true): Long = {
    // Hadoop FileSystem, not java.io.File: a warehouse dir is s3a://
    // or hdfs:// exactly where compaction matters most
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles() =
      (if (fs.exists(p)) fs.listStatus(p) else Array.empty[org.apache.hadoop.fs.FileStatus])
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val files = parquetFiles()
    val totalBytes = files.map(_.getLen).sum
    val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (files.length < minFilesToBother || files.length <= targetFiles) return -1L
    val df = spark.read.parquet(dir)
    atomically(dir, marker) { tmp =>
      df.coalesce(targetFiles).write
        .mode("overwrite").option("compression", "zstd").parquet(tmp)
    }
    parquetFiles().length.toLong
  }

  /** Compaction over a hive-partitioned table: each `col=value` partition
    * directory compacts independently (incremental writers fragment per
    * partition, and per-partition compaction leaves hot/current partitions
    * untouched while old ones are repacked). Returns
    * (partitions compacted, partitions skipped). */
  def compactPartitioned(spark: SparkSession, tableDir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFilesToBother: Int = 4): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(tableDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = (if (fs.exists(p)) fs.listStatus(p) else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    // no per-partition .done markers: a stray `col=value.done` FILE at the
    // table root breaks Spark's partition-structure inference.
    // `toUri.getPath` strips the `file:` scheme — `atomically`'s java.nio
    // rename needs a plain path (rename-capable local/NFS mounts; see
    // `compact`'s object-store note)
    val results = parts.map(part =>
      compact(spark, part.getPath.toUri.getPath, targetBytes, minFilesToBother,
        marker = false))
    (results.count(_ >= 0), results.count(_ < 0))
  }

  /** Catalog of an export dir: per-file row/byte stats from parquet footers
    * + a summary row — `catalog.parquet` + `catalog.json`
    * (`catalog.py:43-89,109-116`). */
  def catalog(spark: SparkSession, exportDir: String): DataFrame = {
    // catalog.parquet is the catalog's own output, not an export: its
    // footers are never opened (a rewrite deletes the files they'd name)
    val meta = ParquetFooterMeta(spark, s"$exportDir/*/*.parquet",
      _.getParent.getName != "catalog.parquet")
      // group part files under their dataset dir (catalog.py:132 pattern)
      .withColumn("file_name",
        when(col("file_name").rlike(".*/part-[^/]+$"),
          regexp_extract(col("file_name"), ".*/([^/]+)/[^/]+$", 1))
          .otherwise(regexp_extract(col("file_name"), "([^/]+)$", 1)))
    meta.groupBy("file_name").agg(
      sum("num_rows").as("num_rows"),
      sum("total_compressed_size").as("compressed_bytes"),
      sum("total_byte_size").as("uncompressed_bytes"),
      count(lit(1)).as("n_row_groups"))
  }

  /** catalog.json + catalog.parquet: version + per-file listing + totals
    * (`DEPLOYMENT.md:449-470`; the parquet twin is `catalog.py:78-81`'s
    * `COPY file_catalog TO ... (FORMAT PARQUET, COMPRESSION ZSTD)`). The
    * footers are scanned once, before anything is overwritten; both files
    * are written from the collected rows. */
  def writeCatalogJson(spark: SparkSession, exportDir: String,
      version: String): Unit = {
    val cat = catalog(spark, exportDir)
    val rows = cat.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), cat.schema)
      .coalesce(1).write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(s"$exportDir/catalog.parquet")
    val files = rows.map { r =>
      s"""{"file_name": "${r.getString(0)}", "num_rows": ${r.getLong(1)},
         | "compressed_bytes": ${r.getLong(2)},
         | "uncompressed_bytes": ${r.getLong(3)},
         | "n_row_groups": ${r.getLong(4)}}""".stripMargin.replace("\n", "")
    }.mkString("[", ",", "]")
    val total = rows.map(_.getLong(1)).sum
    Files.writeString(Paths.get(s"$exportDir/catalog.json"),
      s"""{"version": "$version", "total_rows": $total, "files": $files}""")
  }

  /** "Remote views" bootstrap: SQL script re-creating one view per exported
    * table over the published location (`DEPLOYMENT.md:74-83` — the 1 MB
    * views-only database). */
  def remoteViewsSql(tables: Seq[(String, String)]): String =
    tables.map { case (name, url) =>
      s"CREATE OR REPLACE TEMP VIEW $name AS SELECT * FROM parquet.`$url`;"
    }.mkString("\n")

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toList.reverse
        .foreach(Files.deleteIfExists(_))
    }
}
