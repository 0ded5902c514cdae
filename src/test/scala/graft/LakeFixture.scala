package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A small dated omicidx lake, one file set per day, for the lake-manifest
  * specs: day `d` holds `n` EXPERIMENT rows of the accession spine (INT96
  * `Updated`, as Spark writes timestamps), their experiment records and
  * `n` GEO samples. Files are single parquet files with no checksum
  * sidecars, as a lake landing moves them. */
object LakeFixture {

  def date(d: Int): LocalDate = LocalDate.parse("2024-01-01").plusDays(d.toLong)

  def accession(d: Int, i: Int): String = f"SRX$d%04d$i%04d"

  /** Lands day `d` under `root`. */
  def landDay(spark: SparkSession, root: String, d: Int, n: Int = 4): Unit = {
    import spark.implicits._
    val accs = (0 until n).map(accession(d, _))
    writeFile(spine(spark, accs.map(_ -> s"${date(d)} 10:00:00")),
      Paths.get(root, "sra", "sra_accessions.parquet", f"part-$d%04d.parquet"))
    writeFile(accs.toDF("accession")
        .selectExpr("accession", "concat('exp ', accession) AS title",
          "'SRP0001' AS study_accession"),
      Paths.get(root, "sra", f"meta-experiment-$d%04d.parquet"))
    val gsm = (0 until n).map(i =>
      s"""{"accession":"GSM$d-$i","title":"t$i","last_update_date":"${date(d)}"}""")
    gzLines(Paths.get(root, "geo", f"gsm-$d%04d.ndjson.gz"), gsm)
  }

  /** Spine rows (accession, `Updated` text) of Type EXPERIMENT. */
  def spine(spark: SparkSession, rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("Accession", "Updated").selectExpr("Accession",
      "'live' AS Status", "CAST(Updated AS TIMESTAMP) AS Updated",
      "'EXPERIMENT' AS Type")
  }

  /** `df` as the one parquet file `to` (replacing it). */
  def writeFile(df: DataFrame, to: Path): Unit = {
    val tmp = Files.createTempDirectory("lake_file")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("d").toString)
    val part = Files.list(tmp.resolve("d")).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.createDirectories(to.getParent)
    Files.move(part, to, StandardCopyOption.REPLACE_EXISTING)
    graft.export.Exporter.deleteRecursively(tmp)
  }

  def gzLines(path: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(path))
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }
}
