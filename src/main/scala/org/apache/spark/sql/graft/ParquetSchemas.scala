package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark's own parquet schema inference, one footer at a time: the schema
  * `mergeSchema` reads from each file and the rule it merges two with. A
  * caller that keeps per-file schemas can then merge them without the
  * inference job that reopens every footer. */
object ParquetSchemas {

  /** The session's SQL conf, which fixes how parquet types map to Spark's
    * (binary as string, INT96 as timestamp, ...). Serializable, so a
    * footer read in a task converts as the driver would. */
  def conf(spark: SparkSession): SQLConf = spark.sessionState.conf

  /** The schema inference reads from one file's footer: the Spark schema
    * the file was written with, else its converted parquet schema. */
  def ofFooter(conf: SQLConf, path: String, meta: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(path), meta),
      new ParquetToSparkSchemaConverter(conf))

  /** `schemas` merged left to right by `StructType.merge`, the fold
    * `mergeSchema` inference applies to the files in listing order, with
    * every field nullable, as a file relation exposes it. */
  def merge(spark: SparkSession, schemas: Seq[StructType]): Option[StructType] = {
    val caseSensitive = conf(spark).caseSensitiveAnalysis
    schemas.reduceOption(_.merge(_, caseSensitive)).map(_.asNullable)
  }
}
