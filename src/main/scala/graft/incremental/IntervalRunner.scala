package graft.incremental

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}
import graft.core.{EngineConfig, Materialization, Model}
import graft.sources.ParquetFooterMeta

import java.time.LocalDate
import java.time.temporal.ChronoUnit

/** INCREMENTAL_BY_TIME_RANGE execution (SURVEY.md §2.10): each refresh
  * recomputes only the rows whose time column falls in the requested window
  * and replaces exactly those date partitions — idempotently — via dynamic
  * partition overwrite. This is the Spark-native equivalent of the
  * reference's delete-and-reinsert interval semantics
  * (`/root/reference/sqlmesh/models/bronze/stg_geo_samples.sql:3-10`).
  *
  * Layout: the physical table is hive-partitioned by `_ds` (the date of the
  * model's time column), so interval replacement = overwriting `_ds=...`
  * subdirectories and readers prune partitions on date predicates.
  *
  * Missed-interval backfill (`sqlmesh plan`/`run` semantics,
  * `sqlmesh/README.md`): [[refresh]] consults [[missingIntervals]] and
  * recomputes ONLY the uncovered dates of the window — "catch up the last
  * missed week" reads a week, not 25 years. Covered intervals are recorded
  * as zero-byte markers under `_intervals/` (the state store sqlmesh keeps
  * in its db), so a date the source had no rows for is still remembered as
  * processed. Full restatement of the window is `refresh_mode=full` in cfg
  * vars. All filesystem access goes through the Hadoop `FileSystem` API —
  * works identically on file://, hdfs:// and s3a:// warehouse dirs.
  * Partial-day avoidance (I4, `ebi_biosample/extract.py:272-278`) is the
  * caller closing `end` at yesterday.
  */
object IntervalRunner {

  /** Enumerating-dates guard: windows longer than this (e.g. the default
    * open-ended `end_ds=9999-12-31`) skip interval bookkeeping and refresh
    * as one range — marker-per-day bookkeeping at that width is worse than
    * the recompute it avoids. */
  private val MaxTrackedDays = 40000L

  private def intervalsDir(tableDir: String) = s"$tableDir/_intervals"

  /** Dates in [start, end] (inclusive) not yet covered by a recorded
    * interval marker (fallback: a physical `_ds=<date>` partition, for
    * tables written before interval tracking existed). Hadoop FS API: the
    * same listing works on local, HDFS and object-store warehouse dirs. */
  def missingIntervals(spark: SparkSession, tableDir: String,
      start: LocalDate, end: LocalDate): Seq[LocalDate] = {
    val covered = coveredDates(spark, tableDir)
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .filterNot(d => covered(d.toString)).toSeq
  }

  private def coveredDates(spark: SparkSession, tableDir: String): Set[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def names(dir: String, prefix: String): Option[Set[String]] = {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else Some(fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix)).toSet)
    }
    // UNION of marker dates and physical `_ds=` partitions — not orElse: a
    // tracked refresh over a subset window must not erase coverage of older
    // pre-tracking partitions (they'd be needlessly recomputed on the next
    // wider-window run). A marker without data still counts as covered (the
    // date genuinely had no source rows); backfilling a deleted partition
    // means deleting its marker too.
    names(intervalsDir(tableDir), "_ds=").getOrElse(Set.empty) ++
      names(tableDir, "_ds=").getOrElse(Set.empty)
  }

  /** Record dates as processed (zero-byte markers, overwrite-idempotent). */
  private def recordIntervals(spark: SparkSession, tableDir: String,
      dates: Seq[LocalDate]): Unit = {
    if (dates.isEmpty) return
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(intervalsDir(tableDir))
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    dates.foreach(d => fs.create(new Path(dir, s"_ds=$d"), true).close())
  }

  /** Collapse sorted dates into inclusive contiguous [start, end] ranges —
    * keeps the recompute filter a handful of BETWEENs (prunable at the
    * scan) instead of a 9000-literal IN list. */
  private[graft] def toRanges(dates: Seq[LocalDate]): Seq[(LocalDate, LocalDate)] =
    dates.distinct // duplicates would open an overlapping second range
      .sorted(Ordering.fromLessThan[LocalDate](_ isBefore _))
      .foldLeft(List.empty[(LocalDate, LocalDate)]) {
        case ((s, e) :: tail, d) if e.plusDays(1) == d => (s, d) :: tail
        case (acc, d) => (d, d) :: acc
      }.reverse

  /** Refresh the model's window into its partitioned table; returns the
    * rows the table holds in [start_ds, end_ds] and the whole table read
    * back. Default mode recomputes only [[missingIntervals]] of the window
    * (backfill); `refresh_mode=full` restates the whole window. Re-running
    * is idempotent: dynamic partition overwrite replaces — never
    * duplicates — the touched partitions.
    *
    * Nothing written is scanned again: the row count comes from the
    * footers of the window's `_ds=` partitions, and the read-back carries
    * the schema the model writes (its columns, then `_ds` as a date — what
    * inference would find, minus the inference job). */
  def refresh(spark: SparkSession, cfg: EngineConfig, m: Model,
      inc: Materialization.IncrementalByTimeRange): (Long, DataFrame) = {
    val path = s"${cfg.warehouseDir}/${m.layer}/${m.name}"
    val start = LocalDate.parse(cfg.startDs)
    val end = LocalDate.parse(cfg.endDs)
    val full = cfg.vars.get("refresh_mode").contains("full")
    val tracked = ChronoUnit.DAYS.between(start, end) < MaxTrackedDays

    val ranges: Seq[(LocalDate, LocalDate)] =
      if (full || !tracked) Seq((start, end))
      else toRanges(missingIntervals(spark, path, start, end))

    // derived even when nothing is missing: its schema is the read-back's
    val df = m.derive(spark, cfg)
    if (ranges.nonEmpty) {
      val ds = col(inc.timeColumn).cast("date")
      val windowed = df
        .filter(ranges.map { case (s, e) =>
          ds.between(lit(s.toString), lit(e.toString))
        }.reduce(_ || _))
        .withColumn("_ds", ds.cast("string"))
      // dynamic mode (set in GraftSession.tune): only touched _ds partitions
      // are replaced; untouched history is left as-is.
      windowed.write
        .mode("overwrite")
        .partitionBy("_ds")
        .parquet(path)
      if (tracked) recordIntervals(spark, path, ranges.flatMap { case (s, e) =>
        Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e)).toSeq
      })
    }
    // ISO dates order as strings; a null time column's partition
    // (__HIVE_DEFAULT_PARTITION__) sorts after every date, as a date
    // filter drops it
    val rows = ParquetFooterMeta.rowCount(spark, s"$path/_ds=*/*.parquet", { f =>
      val d = f.getParent.getName.stripPrefix("_ds=")
      d >= cfg.startDs && d <= cfg.endDs
    })
    val schema = StructType(df.schema.filter(_.name != "_ds") :+
      StructField("_ds", DateType))
    (rows, spark.read.schema(schema).parquet(path))
  }

  /** High-watermark incremental (I2, `WAREHOUSE.md:441-449`): rows of
    * `source` strictly newer than the max of `timeColumn` already in the
    * target table (all of `source` if the target doesn't exist yet). */
  def aboveHighWatermark(spark: SparkSession, sourceDf: org.apache.spark.sql.DataFrame,
      targetDir: String, timeColumn: String): org.apache.spark.sql.DataFrame = {
    val existing =
      try Some(spark.read.parquet(targetDir))
      catch { case _: Throwable => None }
    existing match {
      case None => sourceDf
      case Some(t) =>
        val hw = t.agg(max(col(timeColumn)).as("hw"))
        sourceDf.join(broadcast(hw), sourceDf(timeColumn) > hw("hw")).drop("hw")
    }
  }
}
