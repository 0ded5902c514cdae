package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.time.LocalDate
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.models.DomainSchemas

/** Traffic dimensions of a synthetic omicidx lake. Sizes are fixed per
  * workload; the seed only decides which records, skews and values land.
  *
  * @param days        days spanned by the lake (the DAG window)
  * @param spinePerDay mean SRA accession-spine rows per day
  * @param recencySkew the last day gets `1 + recencySkew` times the rows of
  *                    the first (the real spine grows toward the present)
  * @param zipfS       Zipf exponent of experiments-per-study (mart join skew)
  * @param maxArrayLen longest generated nested array (attributes, files, …)
  * @param geoPerDay   mean GEO gsm records per day (gse, gpl are fractions)
  * @param geoFieldP   probability an optional GEO field is present
  * @param chunks      parquet / NDJSON chunk files per source for the bulk
  *                    (non-landed) part of the lake
  */
final case class LakeShape(
    days: Int,
    spinePerDay: Int,
    recencySkew: Double = 2.0,
    zipfS: Double = 1.1,
    maxArrayLen: Int = 4,
    geoPerDay: Int = 40,
    geoFieldP: Double = 0.5,
    chunks: Int = 3,
    start: LocalDate = LocalDate.parse("2024-01-20"))

/** One SRA experiment as the consumer reads see it. */
final case class ExpFact(day: Int, study: String, platform: String)
/** One GEO sample: its organism (channel 1) and supplemental file names. */
final case class GsmFact(day: Int, acc: String, organism: String, files: Seq[String])
final case class GseFact(day: Int, acc: String, gsms: Seq[String], files: Seq[String])

/** Seeded generator for the 11 raw sources of the omicidx lake, conforming
  * to [[graft.models.DomainSchemas]] where a schema is pinned. Everything
  * is generated in memory first; [[write]] lands any set of days, so a
  * workload can hold days back and land them one at a time.
  *
  * Truth (per source per day, expected bronze / mart rows and the answers
  * to the consumer reads) is computed from the same in-memory records.
  */
final class LakeGen(seed: Long, val shape: LakeShape) {
  import LakeGen._

  private val rng = new java.util.Random(seed)
  val sources: Seq[String] = SourceLayout.keys.toSeq.sorted

  def date(d: Int): LocalDate = shape.start.plusDays(d.toLong)

  /** source -> day -> rows (Spark rows for parquet sources, JSON lines for
    * GEO). */
  private val parquetRows = mutable.Map[String, Array[mutable.ArrayBuffer[Row]]]()
  private val jsonRows = mutable.Map[String, Array[mutable.ArrayBuffer[String]]]()
  /** bronze model -> rows per day it should land. */
  private val bronzeRows = mutable.Map[String, Array[Long]]()

  val exps = mutable.ArrayBuffer[ExpFact]()
  val studyTitles = mutable.Map[String, String]()
  val gsms = mutable.ArrayBuffer[GsmFact]()
  val gses = mutable.ArrayBuffer[GseFact]()

  private def perDay[T]() = Array.fill(shape.days)(mutable.ArrayBuffer[T]())

  generate()

  // ---- value fillers -------------------------------------------------

  private def word(name: String, k: Int): String = s"${name}_${rng.nextInt(k)}"

  private def ts(d: Int): Timestamp =
    Timestamp.valueOf(date(d).atStartOfDay().plusSeconds(rng.nextInt(86400).toLong))

  private def tsText(d: Int): String = ts(d).toString.take(19)

  /** A random value of any Spark type, arrays up to `maxArrayLen` long. */
  private def fill(t: DataType, name: String): Any = t match {
    case StringType => word(name, 200)
    case LongType => rng.nextInt(1000000).toLong
    case IntegerType => rng.nextInt(100000)
    case DoubleType => rng.nextInt(100000) / 100.0
    case BooleanType => rng.nextBoolean()
    case ArrayType(et, _) =>
      Seq.fill(rng.nextInt(shape.maxArrayLen + 1))(fill(et, name))
    case st: StructType =>
      Row.fromSeq(st.fields.toSeq.map(f => fill(f.dataType, f.name)))
    case other => sys.error(s"no filler for $other")
  }

  private def row(schema: StructType, fixed: Map[String, Any]): Row =
    Row.fromSeq(schema.fields.toSeq.map(f =>
      fixed.getOrElse(f.name, fill(f.dataType, f.name))))

  /** JSON value for a GEO field: sparse objects, ISO dates. */
  private def json(t: DataType, name: String, d: Int): String = t match {
    case StringType => "\"" + word(name, 200) + "\""
    case DateType => "\"" + date(d) + "\""
    case LongType | IntegerType => rng.nextInt(100000).toString
    case ArrayType(et, _) =>
      Seq.fill(rng.nextInt(shape.maxArrayLen + 1))(json(et, name, d))
        .mkString("[", ",", "]")
    case st: StructType => jsonObject(st, Map.empty, d, Set.empty)
    case other => sys.error(s"no JSON filler for $other")
  }

  private def jsonObject(st: StructType, fixed: Map[String, String], d: Int,
      absent: Set[String]): String =
    st.fields.toSeq.flatMap { f =>
      fixed.get(f.name).map(v => s""""${f.name}":$v""").orElse(
        if (absent(f.name) || rng.nextDouble() >= shape.geoFieldP) None
        else Some(s""""${f.name}":${json(f.dataType, f.name, d)}"""))
    }.mkString("{", ",", "}")

  private def quoted(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  // ---- generation ----------------------------------------------------

  private def zipfPick(n: Int, cum: Array[Double]): Int = {
    val u = rng.nextDouble() * cum(n - 1)
    val i = java.util.Arrays.binarySearch(cum, 0, n, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }

  private def dayCount(mean: Int, d: Int): Int = {
    val w = 1.0 + shape.recencySkew * d / math.max(1, shape.days - 1)
    val norm = 1.0 + shape.recencySkew / 2
    math.max(1, math.round(mean * w / norm).toInt)
  }

  private def generate(): Unit = {
    SourceLayout.keys.foreach(s =>
      if (SourceLayout(s).json) jsonRows(s) = perDay() else parquetRows(s) = perDay())
    BronzeOf.values.toSet.foreach((b: String) => bronzeRows(b) = Array.fill(shape.days)(0L))
    bronzeRows("sra_metadata") = Array.fill(shape.days)(0L)

    val studies = mutable.ArrayBuffer[(String, String)]() // (acc, bioproject)
    val maxStudies = shape.days * shape.spinePerDay
    val zipfCum = Array.tabulate(maxStudies)(k => 1.0 / math.pow(k + 1, shape.zipfS))
    for (i <- 1 until zipfCum.length) zipfCum(i) += zipfCum(i - 1)
    val samples = mutable.ArrayBuffer[String]()
    val experiments = mutable.ArrayBuffer[String]()
    var next = 0
    def acc(prefix: String): String = { next += 1; f"$prefix$next%08d" }

    for (d <- 0 until shape.days) {
      val n = dayCount(shape.spinePerDay, d)
      val types = Seq.fill(n)(rng.nextDouble() match {
        case u if u < 0.05 => "STUDY"
        case u if u < 0.25 => "SAMPLE"
        case u if u < 0.60 => "EXPERIMENT"
        case u if u < 0.95 => "RUN"
        case _ => "SUBMISSION"
      })
      // studies and samples first, so the day's experiments can refer to them
      val ordered = "STUDY" +: types.sortBy(t => if (t == "STUDY") 0 else if (t == "SAMPLE") 1 else 2)
      ordered.foreach { typ =>
        val prefix = typ match {
          case "STUDY" => "SRP"; case "SAMPLE" => "SRS"; case "EXPERIMENT" => "SRX"
          case "RUN" => "SRR"; case _ => "SRA"
        }
        val a = acc(prefix)
        val project = typ match {
          case "STUDY" => s"PRJNA$next"
          case _ if studies.nonEmpty => studies(rng.nextInt(studies.size))._2
          case _ => null
        }
        val study = typ match {
          case "STUDY" => a
          case "EXPERIMENT" if studies.nonEmpty => studies(zipfPick(studies.size, zipfCum))._1
          case _ if studies.nonEmpty => studies(rng.nextInt(studies.size))._1
          case _ => null
        }
        val sample = if (samples.nonEmpty) samples(rng.nextInt(samples.size)) else null
        val experiment =
          if (experiments.nonEmpty) experiments(rng.nextInt(experiments.size)) else null
        val biosample = if (typ == "SAMPLE" || typ == "EXPERIMENT") s"SAMN$next" else null
        val spine = Map[String, Any](
          "Accession" -> a, "Status" -> "live", "Updated" -> ts(d),
          "Published" -> ts(d), "Received" -> ts(math.max(0, d - 1)),
          "Type" -> typ, "Visibility" -> "public", "Experiment" -> experiment,
          "Sample" -> sample, "Study" -> study, "BioSample" -> biosample,
          "BioProject" -> project, "ReplacedBy" -> null)
        parquetRows("src_sra_accessions")(d) += row(DomainSchemas.sraAccessions, spine)
        bronzeRows("stg_sra_accessions")(d) += 1
        // ~3% of spine accessions are suppressed: no detail record lands
        val detail = typ != "SUBMISSION" && rng.nextDouble() >= 0.03
        if (detail) typ match {
          case "STUDY" =>
            val title = word("study_title", 1000000)
            studies += ((a, project)); studyTitles(a) = title
            parquetRows("src_sra_studies")(d) += row(DomainSchemas.sraStudy, Map(
              "accession" -> a, "study_accession" -> a, "title" -> title,
              "BioProject" -> project))
            bronzeRows("stg_sra_studies")(d) += 1
          case "SAMPLE" =>
            samples += a
            parquetRows("src_sra_samples")(d) += row(DomainSchemas.sraSample, Map(
              "accession" -> a, "BioSample" -> biosample,
              "organism" -> Organisms(skewed(Organisms.size))))
            bronzeRows("stg_sra_samples")(d) += 1
          case "EXPERIMENT" =>
            experiments += a
            val platform = Platforms(skewed(Platforms.size))
            exps += ExpFact(d, study, platform)
            parquetRows("src_sra_experiments")(d) += row(DomainSchemas.sraExperiment, Map(
              "accession" -> a, "experiment_accession" -> a,
              "study_accession" -> study, "sample_accession" -> sample,
              "platform" -> platform))
            bronzeRows("stg_sra_experiments")(d) += 1
            bronzeRows("sra_metadata")(d) += 1
          case "RUN" =>
            parquetRows("src_sra_runs")(d) += row(DomainSchemas.sraRun, Map(
              "accession" -> a, "experiment_accession" -> experiment))
            bronzeRows("stg_sra_runs")(d) += 1
        }
      }

      // NCBI / EBI biosample + bioproject: one record per few spine rows
      for (_ <- 0 until math.max(1, n / 4)) {
        parquetRows("src_ncbi_biosample")(d) += row(NcbiBiosample, Map(
          "accession" -> acc("SAMN"), "last_update" -> tsText(d),
          "submission_date" -> tsText(math.max(0, d - 3)),
          "publication_date" -> tsText(d)))
        bronzeRows("stg_ncbi_biosample")(d) += 1
        parquetRows("src_ebi_biosample")(d) += row(DomainSchemas.ebiBiosample, Map(
          "accession" -> acc("SAMEA"), "update" -> tsText(d),
          "release" -> tsText(d), "create" -> tsText(math.max(0, d - 2))))
        bronzeRows("stg_ebi_biosample")(d) += 1
      }
      for (_ <- 0 until math.max(1, n / 20)) {
        parquetRows("src_ncbi_bioproject")(d) += row(NcbiBioproject, Map(
          "accession" -> acc("PRJNA"), "release_date" -> tsText(d)))
        bronzeRows("stg_ncbi_bioproject")(d) += 1
      }

      // GEO: sparse records; one calendar month drops `contact` and
      // `data_row_count` entirely (the all-null-month drift case)
      val nullMonth = shape.start.plusMonths(1).getMonthValue
      val absent = if (date(d).getMonthValue == nullMonth)
        Set("contact", "data_row_count") else Set.empty[String]
      val nGsm = dayCount(shape.geoPerDay, d)
      val dayGsms = (0 until nGsm).map { _ =>
        val a = acc("GSM")
        val nCh = rng.nextInt(3) // 0..2 channels; channel 1 carries organism
        val org = if (nCh == 0) null else Organisms(skewed(Organisms.size))
        val channels = (0 until nCh).map { c =>
          val o = if (c == 0) org else Organisms(skewed(Organisms.size))
          jsonObject(GsmChannel, Map("organism" -> ("\"" + o + "\"")), d, Set.empty)
        }
        val files = suppFiles(a)
        jsonRows("src_geo_samples")(d) += jsonObject(DomainSchemas.geoSample, Map(
          "accession" -> ("\"" + a + "\""), "last_update_date" -> ("\"" + date(d) + "\""),
          "submission_date" -> ("\"" + date(math.max(0, d - 5)) + "\""),
          "channels" -> channels.mkString("[", ",", "]"),
          "supplemental_files" -> quoted(files)), d, absent)
        bronzeRows("stg_geo_samples")(d) += 1
        GsmFact(d, a, org, files)
      }
      gsms ++= dayGsms
      for (_ <- 0 until math.max(1, nGsm / 8)) {
        val a = acc("GSE")
        val members = Seq.fill(1 + rng.nextInt(6))(gsms(gsms.size - 1 - rng.nextInt(
          math.min(gsms.size, 400))).acc).distinct
        val files = suppFiles(a)
        gses += GseFact(d, a, members, files)
        jsonRows("src_geo_series")(d) += jsonObject(DomainSchemas.geoSeries, Map(
          "accession" -> ("\"" + a + "\""), "last_update_date" -> ("\"" + date(d) + "\""),
          "sample_id" -> quoted(members), "supplemental_files" -> quoted(files)),
          d, absent)
        bronzeRows("stg_geo_series")(d) += 1
      }
      for (_ <- 0 until math.max(1, nGsm / 20)) {
        jsonRows("src_geo_platforms")(d) += jsonObject(DomainSchemas.geoPlatform, Map(
          "accession" -> ("\"" + acc("GPL") + "\""),
          "last_update_date" -> ("\"" + date(d) + "\"")), d, absent)
        bronzeRows("stg_geo_platforms")(d) += 1
      }
    }
  }

  /** Index into a list with a heavy head: P(i) ∝ 1/(i+1). */
  private def skewed(n: Int): Int = {
    val h = (1 to n).map(1.0 / _).sum
    var u = rng.nextDouble() * h
    var i = 0
    while (i < n - 1 && u > 1.0 / (i + 1)) { u -= 1.0 / (i + 1); i += 1 }
    i
  }

  private def suppFiles(a: String): Seq[String] =
    Seq.fill(rng.nextInt(4))(SuppExts(rng.nextInt(SuppExts.size))).distinct.map {
      case "NONE" => "NONE"
      case ext => s"ftp://ftp.ncbi.nlm.nih.gov/geo/${a.take(3)}/$a/suppl/${a}_${word("f", 50)}$ext"
    }

  // ---- truth ---------------------------------------------------------

  /** Rows a bronze model (or the mart) should hold for days [from, to]. */
  def expectedRows(model: String, from: Int, to: Int): Long =
    bronzeRows(model).slice(from, to + 1).sum

  def bronzeModels: Seq[String] = bronzeRows.keys.filter(_ != "sra_metadata").toSeq.sorted

  /** Lake rows of all 11 sources on days [from, to]. */
  def lakeRows(from: Int, to: Int): Long = sources.map(s =>
    (from to to).map(d => dayRows(s, d).toLong).sum).sum

  private def dayRows(s: String, d: Int): Int =
    if (SourceLayout(s).json) jsonRows(s)(d).size else parquetRows(s)(d).size

  /** The truth as JSON: rows per source and per bronze model (and the mart)
    * for each day, with their dates. */
  def truthJson: String = {
    def series(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    val src = sources.map(s => s"${Json.str(s)}: ${series((0 until shape.days).map(dayRows(s, _).toLong))}")
    val models = bronzeRows.toSeq.sortBy(_._1).map { case (m, xs) => s"${Json.str(m)}: ${series(xs.toSeq)}" }
    s"""{"dates": ${(0 until shape.days).map(d => Json.str(date(d).toString)).mkString("[", ",", "]")},""" +
      s""" "sources": {${src.mkString(", ")}}, "models": {${models.mkString(", ")}}}"""
  }

  // ---- landing -------------------------------------------------------

  /** Day spans [a, b) that split days [from, to] into `chunks` chunks. */
  def spans(from: Int, to: Int, chunks: Int): Seq[(Int, Int)] = {
    val bounds = (0 to chunks).map(i => from + (to - from + 1) * i / chunks)
    bounds.zip(bounds.tail).filter { case (a, b) => b > a }
  }

  private def tag(span: (Int, Int)) = f"d${span._1}%04d-${span._2}%04d"

  /** Writes one chunk file per source per day span under `staging`, one
    * Spark job per parquet source, the sources side by side; [[land]] moves
    * a span's files into the lake. */
  def stage(spark: SparkSession, staging: String, spans: Seq[(Int, Int)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(StageThreads)
    try sources.map(s => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = stageSource(spark, staging, spans, s)
    })).foreach(_.get())
    finally {
      pool.shutdown()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
    }
  }

  private def stageSource(spark: SparkSession, staging: String, spans: Seq[(Int, Int)],
      s: String): Unit = {
    val lay = SourceLayout(s)
    def target(span: (Int, Int), ext: String) = {
      val name = if (lay.stem == "sra_accessions") "sra_accessions.parquet"
        else s"${lay.stem}-${tag(span)}$ext"
      Paths.get(staging, tag(span), lay.dir, name)
    }
    if (lay.json) spans.foreach(span => gzLines(target(span, ".ndjson.gz"),
      (span._1 until span._2).flatMap(jsonRows(s)(_))))
    else {
      val schema = s match {
        case "src_ncbi_biosample" => NcbiBiosample
        case "src_ncbi_bioproject" => NcbiBioproject
        case _ => DomainSchemas.byRawSource(s)
      }
      val chunks = spans.map(sp => (sp._1 until sp._2).flatMap(parquetRows(s)(_)))
      val rdd = spark.sparkContext.parallelize(chunks, chunks.size).flatMap(identity)
      val tmp = Paths.get(staging, s"_tmp_$s")
      spark.createDataFrame(rdd, schema).write.parquet(tmp.toString)
      // partition i of the write holds span i
      Stats.files(tmp, _.getFileName.toString.endsWith(".parquet")).foreach { f =>
        val span = spans(f.getFileName.toString.stripPrefix("part-").take(5).toInt)
        val dir = target(span, ".parquet")
        Files.createDirectories(dir)
        Files.move(f, dir.resolve(s"part-${tag(span)}.parquet"))
      }
      Stats.delete(tmp)
    }
  }

  /** Moves the staged files of `span` into the lake under `root`; the spine
    * is one dataset directory that new chunks join as files. Returns the
    * files landed. */
  def land(staging: String, root: String, span: (Int, Int)): Int = {
    val from = Paths.get(staging, tag(span))
    val files = Stats.files(from, _ => true)
    files.foreach { f =>
      val to = Paths.get(root).resolve(from.relativize(f))
      Files.createDirectories(to.getParent)
      Files.move(f, to, StandardCopyOption.ATOMIC_MOVE)
    }
    files.size
  }
}

object LakeGen {
  /** Sources staged at once. */
  val StageThreads = 4

  final case class Layout(dir: String, stem: String, json: Boolean = false)

  /** Where each raw source lives; file names match the globs of
    * [[graft.models.OmicidxModels.lakeSources]]. */
  val SourceLayout: Map[String, Layout] = Map(
    "src_sra_accessions" -> Layout("sra", "sra_accessions"),
    "src_sra_experiments" -> Layout("sra", "meta-experiment"),
    "src_sra_runs" -> Layout("sra", "meta-run"),
    "src_sra_samples" -> Layout("sra", "meta-sample"),
    "src_sra_studies" -> Layout("sra", "meta-study"),
    "src_geo_samples" -> Layout("geo", "gsm", json = true),
    "src_geo_series" -> Layout("geo", "gse", json = true),
    "src_geo_platforms" -> Layout("geo", "gpl", json = true),
    "src_ncbi_biosample" -> Layout("biosample", "biosample"),
    "src_ncbi_bioproject" -> Layout("biosample", "bioproject"),
    "src_ebi_biosample" -> Layout("ebi_biosample", "samples"))

  /** Raw source -> the bronze model it feeds. */
  val BronzeOf: Map[String, String] = Map(
    "src_sra_accessions" -> "stg_sra_accessions",
    "src_sra_experiments" -> "stg_sra_experiments",
    "src_sra_runs" -> "stg_sra_runs",
    "src_sra_samples" -> "stg_sra_samples",
    "src_sra_studies" -> "stg_sra_studies",
    "src_geo_samples" -> "stg_geo_samples",
    "src_geo_series" -> "stg_geo_series",
    "src_geo_platforms" -> "stg_geo_platforms",
    "src_ncbi_biosample" -> "stg_ncbi_biosample",
    "src_ncbi_bioproject" -> "stg_ncbi_bioproject",
    "src_ebi_biosample" -> "stg_ebi_biosample")

  val Platforms: Seq[String] = Seq("ILLUMINA", "OXFORD_NANOPORE", "PACBIO_SMRT",
    "ION_TORRENT", "BGISEQ", "CAPILLARY")
  val Organisms: Seq[String] = Seq("Homo sapiens", "Mus musculus",
    "Drosophila melanogaster", "Arabidopsis thaliana", "Danio rerio",
    "Saccharomyces cerevisiae", "Escherichia coli")
  val SuppExts: Seq[String] = Seq(".CEL.gz", ".txt.gz", ".bw", "_RAW.tar", "NONE")

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** NCBI biosample / bioproject carry no pinned schema upstream; these are
    * the columns their bronze models project. */
  val NcbiBiosample: StructType = StructType(Seq(
    f("is_reference", BooleanType), f("submission_date", StringType),
    f("last_update", StringType), f("publication_date", StringType),
    f("access", StringType), f("id", LongType), f("accession", StringType),
    f("id_recs", StringType), f("ids", StringType), f("sra_sample", StringType),
    f("dbgap", StringType), f("gsm", StringType), f("title", StringType),
    f("description", StringType), f("taxonomy_name", StringType),
    f("taxon_id", IntegerType), f("attribute_recs", StringType),
    f("attributes", StringType), f("model", StringType)))
  val NcbiBioproject: StructType = StructType(Seq(
    "title", "description", "name", "accession", "publications", "locus_tags",
    "release_date", "data_types", "external_links").map(f(_, StringType)))

  private val GsmChannel: StructType = DomainSchemas.geoSample("channels")
    .dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  private def gzLines(path: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(path))
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }
}
