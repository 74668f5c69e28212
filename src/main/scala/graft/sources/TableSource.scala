package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.report.{ErrorSpec, Violation}

/** Source readers + format dispatch — the engine's equivalent of the
  * reference's loaders (jobs.py:225-387) and their failure taxonomy
  * (io-error / format-error / source-error / encoding-error, spec at
  * custom_checks.py:374-432). A failed load is a TABLE-level error: the run
  * gets status `error` and a report with zero tables (jobs.py:196-200).
  *
  * The primary sources at scale are columnar tables (Parquet/Iceberg) read
  * directly as DataFrames; the CSV reader exists for fixture ingestion and
  * carries the reference's structural semantics: the header is data row 1,
  * data rows start at 2, and RAGGED rows (arity ≠ header arity) produce
  * extra-value / missing-value violations (custom_checks.py:479-503) — the
  * INVALID_CSV fixture's "Row 2 has a missing value in column 4"
  * (tests/test_logic.py:466-467).
  */
object TableSource {

  sealed trait SourceError { def code: String; def message: String }
  final case class IoError(message: String) extends SourceError { val code = "io-error" }
  final case class FormatError(message: String) extends SourceError { val code = "format-error" }
  final case class SourceContentError(message: String) extends SourceError { val code = "source-error" }
  final case class EncodingError(message: String) extends SourceError { val code = "encoding-error" }

  /** Parsed CSV table: all-string columns named by the header row, plus a
    * `_row_number` column (header = 1, first data row = 2 — goodtables
    * numbering), and the structural violations found while parsing. */
  final case class CsvTable(df: DataFrame, headers: Seq[String], structureViolations: Seq[Violation])

  /** Extension-based dispatch (reference jobs.py:225-242; supported formats
    * settings.py:6-10). Unknown extension → format-error. */
  def formatOf(path: String): Either[SourceError, String] = {
    val ext = path.split('.').lastOption.map(_.toLowerCase).getOrElse("")
    ext match {
      case "csv" | "parquet" | "json" | "geojson" => Right(ext)
      // reference DEFAULT_SUPPORTED_FORMATS (settings.py:6) includes both
      // Excel extensions and reads them via pandas.ExcelFile; both route to
      // the Excel reader, which sniffs the payload — OOXML zip → XlsxSource's
      // StAX parser, OLE2 magic (D0 CF 11 E0) → BiffSource's [MS-CFB]+[MS-XLS]
      // BIFF8 parser — so a mislabeled upload still reads (pandas behaves
      // the same way: it dispatches on content, not extension).
      case "xlsx" | "xls"                         => Right("xlsx")
      // reference jobs.py:231-232: extension "shp" → zipped shapefile read
      case "shp"                                  => Right("shapefile")
      case other                                  => Left(FormatError(s"Unknown format '$other'"))
    }
  }

  /** CSV reader with the reference's semantics (jobs.py:245-269: default
    * sep=';', decimal=',', utf-8; we default sep=',' and take it as a
    * parameter). Strict UTF-8: undecodable bytes → encoding-error.
    * No-quote naive splitting, matching the fixtures' plain CSVs.
    */
  def readCsv(
      spark: SparkSession,
      path: String,
      sep: String = ",",
      encoding: String = "UTF-8"
  ): Either[SourceError, CsvTable] = {
    val file = new java.io.File(path)
    if (!file.exists()) return Left(IoError(s"Path does not exist: $path"))
    val bytes =
      try java.nio.file.Files.readAllBytes(file.toPath)
      catch { case e: Exception => return Left(IoError(e.getMessage)) }
    val text =
      try {
        val decoder = java.nio.charset.Charset
          .forName(encoding)
          .newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
        decoder.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      } catch {
        case _: java.nio.charset.CharacterCodingException =>
          return Left(EncodingError(s"The data source could not be decoded with $encoding encoding"))
      }
    val lines = text.split("\r?\n").toSeq.filter(_.nonEmpty)
    if (lines.isEmpty) return Left(SourceContentError("No tabular data can be extracted"))

    val headers = lines.head.split(java.util.regex.Pattern.quote(sep), -1).toSeq
    val arity = headers.size
    val viols = Seq.newBuilder[Violation]
    val rows = lines.zipWithIndex.drop(1).map { case (line, idx) =>
      val rowNum = idx + 1L // header is row 1
      val cells = line.split(java.util.regex.Pattern.quote(sep), -1).toSeq
      if (cells.size > arity)
        viols += Violation(
          "extra-value",
          Some(rowNum),
          Some(arity + 1),
          ErrorSpec.render(
            "extra-value",
            Map("row_number" -> rowNum.toString, "column_number" -> (arity + 1).toString)
          ),
          cells
        )
      else if (cells.size < arity)
        viols += Violation(
          "missing-value",
          Some(rowNum),
          Some(cells.size + 1),
          ErrorSpec.render(
            "missing-value",
            Map("row_number" -> rowNum.toString, "column_number" -> (cells.size + 1).toString)
          ),
          cells
        )
      Row.fromSeq(cells.padTo(arity, null).take(arity) :+ rowNum)
    }
    val schema = StructType(headers.map(h => StructField(h, StringType)) :+ StructField("_row_number", LongType))
    Right(CsvTable(localFrame(spark, rows, schema), headers, viols.result()))
  }

  /** JSON reader: array-of-objects → DataFrame. A GeoJSON FeatureCollection
    * (a `features` array) is FLATTENED like the reference does
    * (jobs.py:297-332): one row per feature with `properties.*` as columns,
    * plus a synthesized `adr_geometry_check` boolean — geometry truthiness
    * (present, with non-empty coordinates) — which feeds the
    * missing-geometry check (custom_checks.py:177-203). */
  def readJson(spark: SparkSession, path: String): Either[SourceError, DataFrame] =
    try {
      val df = spark.read.option("multiLine", true).json(path)
      if (df.columns.contains("_corrupt_record"))
        Left(SourceContentError("The data source has not supported or has inconsistent contents; no tabular data can be extracted"))
      else if (df.columns.contains("features")) Right(flattenGeoJson(df))
      else Right(df)
    } catch { case e: Exception => Left(IoError(e.getMessage)) }

  /** features[*].properties.* + adr_geometry_check (geometry truthiness). */
  private def flattenGeoJson(df: DataFrame): DataFrame = {
    val feats = df.select(explode(col("features")).as("_f"))
    val featType = feats.schema("_f").dataType.asInstanceOf[StructType]
    val geomCheck: org.apache.spark.sql.Column =
      if (!featType.fieldNames.contains("geometry")) lit(false)
      else {
        val geomType = featType("geometry").dataType
        val coordsNonEmpty = geomType match {
          case s: StructType if s.fieldNames.contains("coordinates") =>
            s("coordinates").dataType match {
              case _: org.apache.spark.sql.types.ArrayType => size(col("_f.geometry.coordinates")) > 0
              case _                                       => col("_f.geometry.coordinates").isNotNull
            }
          case _ => lit(true) // geometry present but shapeless: truthy object
        }
        col("_f.geometry").isNotNull && coalesce(coordsNonEmpty, lit(false))
      }
    val propCols =
      if (featType.fieldNames.contains("properties")) Seq(col("_f.properties.*"))
      else Seq.empty
    feats.select(propCols :+ geomCheck.as("adr_geometry_check"): _*)
  }

  /** Transpose for small indicator-list frames (reference jobs.py:390-396:
    * `df.T` when schema.transpose). Driver-side by design — the reference
    * feature exists for tiny sideways fixture tables, never for big data. */
  def transpose(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows = df.collect()
    val ncols = df.columns.length
    require(rows.length.toLong * ncols <= 1000000, "transpose is a small-frame (driver-side) operation")
    val transposed = (0 until ncols).map { c =>
      Row.fromSeq(df.columns(c) +: rows.map(r => Option(r.get(c)).map(_.toString).orNull).toSeq)
    }
    val outSchema = StructType(
      StructField("_c0", StringType) +: rows.indices.map(i => StructField(s"_c${i + 1}", StringType))
    )
    localFrame(spark, transposed, outSchema)
  }

  /** A parsed sheet grid (XLSX, shapefile DBF) as a table: row 1 is the
    * header, every row is padded to the widest one, a null header cell
    * becomes `_c<i>`, and `_row_number` counts from 2 (header = 1). */
  private[sources] def gridTable(spark: SparkSession, grid: IndexedSeq[IndexedSeq[String]]): CsvTable = {
    val width = grid.iterator.map(_.length).maxOption.getOrElse(0)
    val headers = grid.headOption.getOrElse(IndexedSeq.empty).padTo(width, null: String)
    val rows = grid.iterator.zipWithIndex.drop(1).map { case (cells, idx) =>
      Row.fromSeq(cells.padTo(width, null: String) :+ (idx + 1L))
    }.toList
    val schema = StructType(
      headers.zipWithIndex.map { case (h, i) =>
        StructField(Option(h).getOrElse(s"_c$i"), StringType)
      } :+ StructField("_row_number", LongType)
    )
    CsvTable(localFrame(spark, rows, schema), headers, Seq.empty)
  }

  /** A frame over rows the driver already holds (parsed CSV/XLSX/shapefile
    * grids, transposes). It is a local relation with exact size statistics,
    * not an RDD of unknown size, so the planner can size it.
    *
    * When the rows hold at most [[OnePartitionBytes]] (an upload resource
    * of a few thousand rows), the frame is one partition (`coalesce(1)`): a
    * one-partition child satisfies every distribution, so the planner drops
    * every exchange and the whole validation plan runs as one job in one
    * task (uniqueness also skips its hash prefilter, see `UniquenessCheck`).
    * A larger relation keeps its parallel scan, and the planner broadcasts
    * small join sides computed from it (the uniqueness candidate hashes)
    * instead of shuffling rows. */
  private[sources] def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val df = spark.createDataFrame(rows.asJava, schema)
    if (fitsOnePartition(rows)) df.coalesce(1) else df
  }

  /** The largest relation, in row bytes, that [[localFrame]] makes one
    * partition. Its one task carries a serialized copy of the rows per
    * branch of the violations union (the row checks, then one per
    * uniqueness check), about 1.2 bytes per row byte each, so a five-branch
    * upload ships about 6 MiB at this bound, far below
    * `spark.rpc.message.maxSize` (128 MiB). Speed does not set the bound:
    * on 4 cores one partition validated a ten-column CSV about twice as
    * fast as the parallel scan with the hash prefilter at every size
    * measured, up to 250,000 rows (38 MB of row bytes, a 211 MiB task). It
    * covers the largest upload resource the benchmark generates (5,000
    * rows, about 0.62 MB). */
  private[graft] val OnePartitionBytes: Long = 1L << 20

  /** True when `rows` hold at most [[OnePartitionBytes]] row bytes: 8 per
    * cell (its `UnsafeRow` slot) plus the UTF-8 bytes of each string cell.
    * Counting stops at the bound. */
  private[graft] def fitsOnePartition(rows: Seq[Row]): Boolean = {
    var bytes = 0L
    val it = rows.iterator
    while (bytes <= OnePartitionBytes && it.hasNext) {
      val row = it.next()
      bytes += 8L * row.length
      var i = 0
      while (i < row.length) {
        row.get(i) match {
          case s: String => bytes += s.getBytes(UTF_8).length
          case _         =>
        }
        i += 1
      }
    }
    bytes <= OnePartitionBytes
  }
}
