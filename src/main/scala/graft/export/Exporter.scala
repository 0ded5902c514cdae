package graft.export

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.ParquetFooterMeta

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

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
    * files, `ebi_biosample/extract.py:232-260`). Runs through the Hadoop
    * FileSystem of `path`, so a file://, hdfs:// or s3a:// dir publishes
    * the same way. Readers of `path` see the previous contents until the
    * swap: the old dir is deleted, then the new one renamed into place. */
  def atomically(spark: SparkSession, path: String, marker: Boolean = true)(
      write: String => Unit): Unit = {
    val (dst, tmp) = (new Path(path), new Path(path + "._tmp"))
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    write(path + "._tmp")
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new IOException(s"atomic publish: cannot rename $tmp to $dst")
    if (marker) {
      val out = fs.create(new Path(path + ".done"), true)
      try out.write(s"""{"path": "$path", "completed_at_ms": ${System.currentTimeMillis()}}"""
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Publishes a file copy of the dir `from` (a model's table) at `path`
    * through [[atomically]], with no marker: the files are copied as they
    * are, so no Spark job runs and the data is not read back through
    * Spark. */
  def publishCopy(spark: SparkSession, from: String, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    atomically(spark, path, marker = false) { tmp =>
      val (src, dst) = (new Path(from), new Path(tmp))
      if (!FileUtil.copy(src.getFileSystem(conf), src, dst.getFileSystem(conf),
          dst, false, conf))
        throw new IOException(s"export: cannot copy $src to $dst")
    }
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
    atomically(spark, dir, marker) { tmp =>
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
    // table root breaks Spark's partition-structure inference
    val results = parts.map(part =>
      compact(spark, part.getPath.toString, targetBytes, minFilesToBother,
        marker = false))
    (results.count(_ >= 0), results.count(_ < 0))
  }

  /** One `catalog.parquet` row: a dataset of the export dir (its part
    * files summed) or a single parquet file. */
  final case class CatalogEntry(file_name: String, num_rows: Long,
      compressed_bytes: Long, uncompressed_bytes: Long, n_row_groups: Long)

  /** catalog.json + catalog.parquet: version + per-file listing + totals
    * (`DEPLOYMENT.md:449-470`; the parquet twin is `catalog.py:78-81`'s
    * `COPY file_catalog TO ... (FORMAT PARQUET, COMPRESSION ZSTD)`), from
    * per-file row/byte stats of the export dir's parquet footers
    * (`catalog.py:43-89,109-116`). The footers are read once, before
    * anything is overwritten, and grouped on the driver; both files are
    * written from those rows, sorted by file name. */
  def writeCatalogJson(spark: SparkSession, exportDir: String,
      version: String): Unit = {
    import spark.implicits._
    // catalog.parquet is the catalog's own output, not an export: its
    // footers are never opened (a rewrite deletes the files they'd name)
    val groups = ParquetFooterMeta.rowGroups(spark, s"$exportDir/*/*.parquet",
      _.getParent.getName != "catalog.parquet")
    // part files are listed under their dataset dir (catalog.py:132 pattern)
    val rows = groups.groupBy { g =>
      val p = new Path(g.file_name)
      if (p.getName.startsWith("part-")) p.getParent.getName else p.getName
    }.toSeq.sortBy(_._1).map { case (name, gs) =>
      CatalogEntry(name, gs.map(_.num_rows).sum,
        gs.map(_.total_compressed_size).sum, gs.map(_.total_byte_size).sum,
        gs.size.toLong)
    }
    rows.toDF().coalesce(1).write.mode("overwrite")
      .option("compression", "zstd")
      .parquet(s"$exportDir/catalog.parquet")
    val files = rows.map { r =>
      s"""{"file_name": "${r.file_name}", "num_rows": ${r.num_rows},
         | "compressed_bytes": ${r.compressed_bytes},
         | "uncompressed_bytes": ${r.uncompressed_bytes},
         | "n_row_groups": ${r.n_row_groups}}""".stripMargin.replace("\n", "")
    }.mkString("[", ",", "]")
    val total = rows.map(_.num_rows).sum
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
