package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ParquetSchemas
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.DriverTier

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** S3 operator: the reference's `parquet_metadata('<glob>')` — one row per
  * (file, row group) with size/row statistics (`omicidx_etl/catalog.py:43-58`)
  * — implemented over parquet-hadoop footers.
  *
  * Footer reads are metadata-only (a few KB per file, no data pages). The
  * file list is enumerated on the driver. Two tiers read the footers: up to
  * [[DriverTier.FooterFilesMax]] files are read on the driver, one after
  * another, with no Spark job; more are read IN PARALLEL on executors via a
  * parallelized file-name RDD, so cataloging a 100k-file lake distributes
  * instead of looping on the driver.
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

  /** One file's footer as the lake manifest keeps it: the schema
    * `mergeSchema` inference reads from it, its row count, and the
    * [min, max] of the top-level string column it was asked for, when every
    * row group carries that column's statistics. The bounds are parquet's
    * own, ordered as unsigned bytes — Spark's string order — so a value
    * outside them is in no row of the file. A column that is not a string,
    * whose statistics are missing, or whose values are all null, has no
    * range. */
  final case class FileMeta(path: String, schema: StructType, rows: Long,
      range: Option[(String, String)])

  /** Row groups of the parquet files `glob` names. `keep` filters the
    * glob's matches before any footer is opened. */
  def apply(spark: SparkSession, glob: String,
      keep: Path => Boolean = _ => true): DataFrame = {
    val matched = files(spark, glob, keep)
    if (matched.size <= DriverTier.FooterFilesMax)
      spark.createDataFrame(onDriver(spark, matched)(groupsOf))
    else spark.createDataFrame(inJob(spark, matched)(groupsOf))
  }

  /** The rows of [[apply]] on the driver: read there for a handful of files
    * or none (no job), collected from one job, with no shuffle, past
    * that. */
  def rowGroups(spark: SparkSession, glob: String,
      keep: Path => Boolean = _ => true): Seq[RowGroupMeta] =
    rowGroupsOf(spark, files(spark, glob, keep))

  /** The rows of [[rowGroups]] for a listed set of parquet files. */
  def rowGroupsOf(spark: SparkSession, paths: Seq[String]): Seq[RowGroupMeta] =
    if (paths.size <= DriverTier.FooterFilesMax) onDriver(spark, paths)(groupsOf)
    else inJob(spark, paths)(groupsOf).collect().toSeq

  /** Total row count of the parquet files `glob` names (filtered by
    * `keep`), from footers alone — the post-write row count a
    * materialization reports without re-scanning the data it just wrote
    * (footers are a few KB per file vs a full second read of the table). */
  def rowCount(spark: SparkSession, glob: String,
      keep: Path => Boolean = _ => true): Long =
    rowGroups(spark, glob, keep).map(_.num_rows).sum

  /** The [[FileMeta]] of each of `paths`, in their order, with the range of
    * the string column `rangeOf`, if one is named. */
  def fileMetas(spark: SparkSession, paths: Seq[String],
      rangeOf: Option[String]): Seq[FileMeta] = {
    val conf = ParquetSchemas.conf(spark)
    val read = (p: String, m: ParquetMetadata) =>
      Seq(fileMeta(conf, p, m, rangeOf))
    if (paths.size <= DriverTier.FooterFilesMax) onDriver(spark, paths)(read)
    else inJob(spark, paths)(read).collect().toSeq
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

  private def groupsOf(f: String, footer: ParquetMetadata): Seq[RowGroupMeta] = {
    val createdBy = footer.getFileMetaData.getCreatedBy
    footer.getBlocks.asScala.toSeq.zipWithIndex.map { case (bg, i) =>
      RowGroupMeta(f, i, bg.getRowCount, bg.getTotalByteSize,
        bg.getCompressedSize, bg.getColumns.size(), createdBy)
    }
  }

  private def fileMeta(conf: SQLConf, f: String, footer: ParquetMetadata,
      rangeOf: Option[String]): FileMeta = {
    val blocks = footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
    val fields = footer.getFileMetaData.getSchema.getFields.asScala
    val string = rangeOf.filter(name => fields.exists(t => t.getName == name &&
      t.isPrimitive &&
      t.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
      t.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType()))
    // per row group: Some(None) = every value null, None = no statistics
    def bounds(name: String): Seq[Option[Option[(Binary, Binary)]]] =
      blocks.map { b =>
        b.getColumns.asScala.find(c =>
            c.getPath.size == 1 && c.getPath.toArray.head == name)
          .map(_.getStatistics).flatMap {
            case null => None
            case st if st.hasNonNullValue => Some(Some(
              (st.genericGetMin.asInstanceOf[Binary],
                st.genericGetMax.asInstanceOf[Binary])))
            case st if st.isNumNullsSet && st.getNumNulls == b.getRowCount =>
              Some(None)
            case _ => None
          }
      }
    def utf8(b: Binary) = UTF8String.fromBytes(b.getBytes)
    val range = string.flatMap { name =>
      val bs = bounds(name)
      if (bs.exists(_.isEmpty)) None
      else bs.flatten.flatten match {
        case Seq() => None
        case rs => Some((rs.map(r => utf8(r._1)).min.toString,
          rs.map(r => utf8(r._2)).max.toString))
      }
    }
    FileMeta(f, ParquetSchemas.ofFooter(conf, f, footer),
      blocks.map(_.getRowCount).sum, range)
  }

  private def readFooter[T](conf: Configuration, f: String)(
      use: ParquetMetadata => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
    try use(reader.getFooter) finally reader.close()
  }

  private def onDriver[T](spark: SparkSession, files: Seq[String])(
      f: (String, ParquetMetadata) => Seq[T]): Seq[T] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap(p => readFooter(conf, p)(f(p, _)))
  }

  private def inJob[T: ClassTag](spark: SparkSession, files: Seq[String])(
      f: (String, ParquetMetadata) => Seq[T]): RDD[T] = {
    val serializableConfItems = spark.sparkContext.hadoopConfiguration
      .iterator().asScala.map(e => e.getKey -> e.getValue).toList
    val n = math.max(1, math.min(files.length, 64))
    spark.sparkContext
      .parallelize(files, n)
      .mapPartitions { paths =>
        val conf = new Configuration(false)
        serializableConfItems.foreach { case (k, v) => conf.set(k, v) }
        paths.flatMap(p => readFooter(conf, p)(f(p, _)))
      }
  }
}
