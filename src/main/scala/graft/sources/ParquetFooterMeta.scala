package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** S3 operator: the reference's `parquet_metadata('<glob>')` — one row per
  * (file, row group) with size/row statistics (`omicidx_etl/catalog.py:43-58`)
  * — implemented over parquet-hadoop footers.
  *
  * Footer reads are metadata-only (a few KB per file, no data pages). The
  * file list is enumerated on the driver but footers are read IN PARALLEL on
  * executors via a parallelized file-name RDD, so cataloging a 100k-file lake
  * distributes instead of looping on the driver.
  */
object ParquetFooterMeta {

  final case class RowGroupMeta(
      file_name: String,
      row_group_id: Int,
      num_rows: Long,
      total_byte_size: Long,
      total_compressed_size: Long,
      num_columns: Int,
      created_by: String)

  /** Row groups of the parquet files `glob` names. `keep` filters the
    * glob's matches before any footer is opened. */
  def apply(spark: SparkSession, glob: String,
      keep: Path => Boolean = _ => true): DataFrame = {
    import spark.implicits._
    footers(spark, files(spark, glob, keep)).toDF()
  }

  /** Total row count of the parquet files `glob` names (filtered by
    * `keep`), from footers alone — the post-write row count a
    * materialization reports without re-scanning the data it just wrote
    * (footers are a few KB per file vs a full second read of the table).
    * One job, no shuffle; none when nothing matches. */
  def rowCount(spark: SparkSession, glob: String,
      keep: Path => Boolean = _ => true): Long = {
    val matched = files(spark, glob, keep)
    if (matched.isEmpty) 0L
    else footers(spark, matched).map(_.num_rows).fold(0L)(_ + _)
  }

  private def files(spark: SparkSession, glob: String,
      keep: Path => Boolean): Seq[String] = {
    val p = new Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a glob match that is a directory (Spark's dir-as-dataset layout,
    // e.g. region.parquet/part-*.parquet) expands to its part files
    fs.globStatus(p, keep(_)) match {
      case null => Nil
      case st => st.toSeq.flatMap {
        case f if f.isFile => Seq(f.getPath.toString)
        case d =>
          fs.listStatus(d.getPath)
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath.toString).toSeq
      }
    }
  }

  private def footers(spark: SparkSession, files: Seq[String]): RDD[RowGroupMeta] = {
    val serializableConfItems = spark.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => e.getKey -> e.getValue).toList
    val n = math.max(1, math.min(files.length, 64))
    spark.sparkContext
      .parallelize(files, n)
      .mapPartitions { paths =>
        val conf = new Configuration(false)
        serializableConfItems.foreach { case (k, v) => conf.set(k, v) }
        paths.flatMap { f =>
          val in = HadoopInputFile.fromPath(new Path(f), conf)
          val reader = ParquetFileReader.open(in)
          try {
            val footer = reader.getFooter
            val createdBy = footer.getFileMetaData.getCreatedBy
            footer.getBlocks.asScala.zipWithIndex.map { case (bg, i) =>
              RowGroupMeta(f, i, bg.getRowCount, bg.getTotalByteSize,
                bg.getCompressedSize, bg.getColumns.size(), createdBy)
            }.toList
          } finally reader.close()
        }
      }
  }
}
