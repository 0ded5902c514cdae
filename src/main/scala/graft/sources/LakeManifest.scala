package graft.sources

import java.io.IOException
import java.net.URI
import java.time.LocalDate
import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateFormatter
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchemas
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.util.Try

/** One raw source's lake files, each with its manifest entry: what a
  * window-bounded read needs to know of a file without opening it.
  *
  *  - [[schema]] is every file's footer schema merged by Spark's merge rule
  *    in path order — what `mergeSchema` inference finds, with no job;
  *  - [[meeting]] and [[holding]] choose the files whose prune range can
  *    hold a row of the window; a file with no usable range is always
  *    chosen;
  *  - [[read]] scans just the chosen files with [[schema]].
  *
  * Built by [[LakeManifest.apply]]. */
final class LakeManifest private (spark: SparkSession, glob: String,
    val format: LakeManifest.Format, val entries: Seq[LakeManifest.Entry]) {
  import LakeManifest._

  lazy val schema: StructType = format match {
    case Json(s) => s
    case Parquet(_) =>
      ParquetSchemas.merge(spark, entries.flatMap(_.schema)).getOrElse(StructType(Nil))
  }

  /** Entries whose date range meets [start, end] (ISO dates). */
  def meeting(start: String, end: String): Seq[Entry] = {
    val (s, e) = (LocalDate.parse(start), LocalDate.parse(end))
    entries.filter(_.range.forall { case (lo, hi) =>
      Try(!LocalDate.parse(lo).isAfter(e) && !LocalDate.parse(hi).isBefore(s))
        .getOrElse(true)
    })
  }

  /** Entries whose value range holds one of `values`, which are sorted in
    * Spark's string order. */
  def holding(values: IndexedSeq[UTF8String]): Seq[Entry] =
    entries.filter(_.range.forall { case (lo, hi) =>
      val i = values.search(UTF8String.fromString(lo)).insertionPoint
      i < values.size && values(i).compareTo(UTF8String.fromString(hi)) <= 0
    })

  /** The chosen files read with [[schema]]; an empty frame when none is
    * chosen. A glob that matches no file fails as a glob read does. */
  def read(chosen: Seq[Entry]): DataFrame = {
    val paths = chosen.map(_.path)
    val reader = spark.read.schema(schema)
    format match {
      case _ if entries.isEmpty => reader.format(format.name).load(glob)
      case _ if paths.isEmpty =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      case Json(_) => reader.json(paths: _*)
      case Parquet(_) => reader.parquet(paths: _*)
    }
  }
}

/** The per-file lake manifest: landed lake files do not change, so what a
  * window-bounded refresh needs to know of each — footer schema, row
  * count, the [min, max] of the source's prune column — is found once and
  * kept.
  *
  *  - An entry is keyed by the file's path, length and modification time,
  *    so a file rewritten in place is manifested again. The prune column
  *    and, for dates, the session time zone are part of the key too.
  *  - Only unseen files are manifested. Footer statistics give the range
  *    where they are exact for the comparison: a string column compared as
  *    itself (the SRA detail `accession`). Every other range comes from one
  *    content pass over the unseen files, grouped by `_metadata.file_path`:
  *    INT96 timestamps carry no statistics, NDJSON has no footer, and a
  *    timestamp held as text orders differently from its date.
  *  - A range is unusable, and the file always read, when its column is
  *    all null or absent, or holds a value the view's cast cannot parse.
  *  - The manifest is one JSON-lines file under `dir`, read and rewritten
  *    on the driver through the Hadoop FileSystem API, like the
  *    `_intervals` markers; no Spark job touches it. Deleting it costs one
  *    rebuild.
  */
object LakeManifest {

  /** How a source's files are read. */
  sealed trait Format { def name: String }
  /** Parquet; `pinned` is the schema the view conforms to, if any. */
  final case class Parquet(pinned: Option[StructType]) extends Format {
    def name = "parquet"
  }
  /** NDJSON(.gz), read with its pinned schema. */
  final case class Json(schema: StructType) extends Format { def name = "json" }

  /** The column a source's files are pruned on. */
  sealed trait Prune { def column: String }
  /** `CAST(column AS DATE)` of the column as the view types it: the value
    * a timed source's bronze model filters its window on. */
  final case class DateOf(column: String) extends Prune
  /** The column's string value: a detail source's join key. */
  final case class ValueOf(column: String) extends Prune

  /** One lake file: its key (path, length, modified, prune key), its footer
    * schema (parquet), its rows, and the prune value's [min, max] — ISO
    * dates for [[DateOf]] — or None when unusable. */
  final case class Entry(path: String, length: Long, modified: Long,
      pruneKey: String, schema: Option[StructType], rows: Long,
      range: Option[(String, String)])

  /** The manifest of the files `glob` names, refreshed under `dir`. */
  def apply(spark: SparkSession, glob: String, dir: String, format: Format,
      prune: Prune): LakeManifest = {
    val key = prune match {
      case DateOf(c) => s"CAST($c AS DATE) @ ${spark.conf.get("spark.sql.session.timeZone")}"
      case ValueOf(c) => c
    }
    val files = listing(spark, glob)
    val kept = load(spark, dir)
    val known = kept.filter(_.pruneKey == key)
      .map(e => (e.path, e.length, e.modified) -> e).toMap
    val unseen = files.filterNot(f => known.contains(id(f)))
    val built = if (unseen.isEmpty) Map.empty[(String, Long, Long), Entry]
      else manifest(spark, unseen, format, prune, key).map(e =>
        (e.path, e.length, e.modified) -> e).toMap
    val entries = files.map(f => known.getOrElse(id(f), built(id(f))))
    if (entries != kept) save(spark, dir, entries)
    new LakeManifest(spark, glob, format, entries)
  }

  /** The files `glob` names, in path order: a match that is a directory
    * expands to its visible files, as a Spark read of it does. */
  def listing(spark: SparkSession, glob: String): Seq[FileStatus] = {
    val p = new Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(f: FileStatus) = f.isFile &&
      !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")
    Option(fs.globStatus(p)).toSeq.flatten.flatMap {
      case f if f.isFile => Seq(f)
      case d => fs.listStatus(d.getPath).filter(visible).sortBy(_.getPath.getName).toSeq
    }
  }

  private def id(f: FileStatus) =
    (f.getPath.toString, f.getLen, f.getModificationTime)

  private def manifest(spark: SparkSession, unseen: Seq[FileStatus],
      format: Format, prune: Prune, key: String): Seq[Entry] = {
    val paths = unseen.map(_.getPath.toString)
    def entry(f: FileStatus, schema: Option[StructType], rows: Long,
        range: Option[(String, String)]) =
      Entry(f.getPath.toString, f.getLen, f.getModificationTime, key, schema,
        rows, range)
    format match {
      case Json(schema) =>
        val scanned = contentPass(spark.read.schema(schema).json(paths: _*),
          prune, None)
        unseen.map { f =>
          val (rows, range) = scanned.getOrElse(f.getPath.toString, (0L, None))
          entry(f, None, rows, range)
        }
      case Parquet(pinned) =>
        val typed = pinned.flatMap(_.find(_.name == prune.column)).map(_.dataType)
        val metas = ParquetFooterMeta.fileMetas(spark, paths, prune match {
          case ValueOf(c) if typed.forall(_ == StringType) => Some(c)
          case _ => None
        })
        val fromFooter: Map[String, (String, String)] =
          metas.flatMap(m => m.range.map(m.path -> _)).toMap
        val rest = metas.filterNot(m => fromFooter.contains(m.path))
        val scanned = ParquetSchemas.merge(spark, rest.map(_.schema)).fold(
          Map.empty[String, (Long, Option[(String, String)])]) { s =>
          contentPass(spark.read.schema(s).parquet(rest.map(_.path): _*),
            prune, typed)
        }
        unseen.zip(metas).map { case (f, m) =>
          entry(f, Some(m.schema), m.rows, fromFooter.get(m.path)
            .orElse(scanned.get(m.path).flatMap(_._2)))
        }
    }
  }

  /** Rows and prune range per file of `df`, in one pass over it: each
    * partition folds its rows into (rows, min, max, bad) per file, and the
    * driver merges the folds, so the pass is one job with no shuffle.
    * `typed` is the type the view conforms the column to before its bronze
    * model casts it. */
  private def contentPass(df: DataFrame, prune: Prune,
      typed: Option[DataType]): Map[String, (Long, Option[(String, String)])] = {
    val (raw, value) =
      if (!df.columns.contains(prune.column)) (lit(null), lit(null))
      else {
        val raw = col(s"`${prune.column}`")
        val conformed = typed.fold(raw)(raw.try_cast)
        (raw, prune match {
          case DateOf(_) => conformed.try_cast(DateType)
          case ValueOf(_) => conformed.try_cast(StringType)
        })
      }
    val scan = df.select(col("_metadata.file_path").as("path"), value.as("v"),
      (raw.isNotNull && value.isNull).as("bad"))
    // min and max in Spark's order of the value: dates as days, strings as
    // UTF8String (unsigned bytes), each bound shown as a string cast shows it
    scan.schema("v").dataType match {
      case DateType =>
        val date = DateFormatter()
        fold(scan, (r, i) => r.getInt(i), date.format(_: Int))
      case _ =>
        fold(scan, (r, i) => r.getUTF8String(i).clone(), (_: UTF8String).toString)(
          Ordering.fromLessThan(_.compareTo(_) < 0))
    }
  }

  /** Per file of `scan` (path, v, bad): its rows, and the [min, max] under
    * `ord` of its non-null `v`, unless it has none or a row is bad. */
  private def fold[T](scan: DataFrame, get: (InternalRow, Int) => T,
      show: T => String)(
      implicit ord: Ordering[T]): Map[String, (Long, Option[(String, String)])] = {
    type Tally = (Long, Option[(T, T)], Boolean)
    def merge(a: Tally, b: Tally): Tally = (a._1 + b._1, (a._2 ++ b._2)
      .reduceOption((x, y) => (ord.min(x._1, y._1), ord.max(x._2, y._2))), a._3 || b._3)
    // one SQL execution, as a Dataset action is, so listeners see its scan
    val qe = scan.queryExecution
    val tallies = SQLExecution.withNewExecutionId(qe, Some("lake manifest content pass")) {
      qe.toRdd.mapPartitions { rows =>
        val byFile = scala.collection.mutable.Map[String, Tally]()
        rows.foreach { r =>
          val v = if (r.isNullAt(1)) None else { val x = get(r, 1); Some((x, x)) }
          val p = r.getUTF8String(0).toString
          val t: Tally = (1L, v, !r.isNullAt(2) && r.getBoolean(2))
          byFile(p) = byFile.get(p).fold(t)(merge(_, t))
        }
        byFile.iterator
      }.collect()
    }
    tallies.groupMapReduce(_._1)(_._2)(merge).map { case (p, (n, bounds, bad)) =>
      new Path(new URI(p)).toString ->
        (n, if (bad) None else bounds.map { case (lo, hi) => (show(lo), show(hi)) })
    }
  }

  private val FileName = "entries.jsonl"
  private val mapper = new ObjectMapper()

  private def load(spark: SparkSession, dir: String): Seq[Entry] = {
    val p = new Path(dir, FileName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(l => Try(decode(l)).toOption).toList
      finally in.close()
    }
  }

  /** Written aside, then renamed over the old file: a reader sees the old
    * manifest, the new one, or (after a crash) none, which rebuilds. */
  private def save(spark: SparkSession, dir: String, entries: Seq[Entry]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(d)
    val tmp = new Path(d, s"$FileName.${UUID.randomUUID()}.inprogress")
    val out = fs.create(tmp, false)
    try out.write(entries.map(encode).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(d, FileName)
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new IOException(s"lake manifest: cannot rename $tmp to $dst")
    }
  }

  private def encode(e: Entry): String = {
    val n = mapper.createObjectNode()
      .put("path", e.path).put("length", e.length).put("modified", e.modified)
      .put("prune", e.pruneKey).put("rows", e.rows)
    e.schema.foreach(s => n.put("schema", s.json))
    e.range.foreach { case (lo, hi) => n.put("lo", lo).put("hi", hi) }
    mapper.writeValueAsString(n)
  }

  private def decode(line: String): Entry = {
    val n = mapper.readTree(line)
    def text(k: String) = Option(n.get(k)).map(_.asText)
    Entry(n.get("path").asText, n.get("length").asLong,
      n.get("modified").asLong, n.get("prune").asText,
      text("schema").map(DataType.fromJson(_).asInstanceOf[StructType]),
      n.get("rows").asLong,
      for (lo <- text("lo"); hi <- text("hi")) yield (lo, hi))
  }
}
