package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.TableSource.{CsvTable, FormatError, IoError, SourceContentError, SourceError}

/** Shapefile reader with the reference's semantics (`jobs.py:335-387`): the
  * source is a ZIP archive that must contain exactly one `.shp` file plus its
  * `.dbf`/`.shx` siblings; the attribute table (DBF records) becomes the
  * validated table — header-less, field names injected as data row 1 exactly
  * like the CSV/xlsx paths — and a synthesized `adr_geometry_check` boolean
  * column records whether the row's shape has any points (`jobs.py:367-378`),
  * feeding the missing-geometry check (`custom_checks.py:177-203`). Failure
  * messages mirror the reference: "Could not unzip file: …",
  * "Zipped archive must contain exactly one .shp file.",
  * "Not a valid shp file: …".
  *
  * The reference reaches the format through the pyshp package; this is a
  * from-scratch minimal ESRI-shapefile/dBASE parser on the JDK alone (the
  * formats are public specs: ESRI Shapefile Technical Description 1998,
  * dBASE III/IV DBF layout). Like the xlsx path, parsing is driver-side and
  * size-guarded — a zipped upload is definitionally a small single file (zip
  * members can't be split for parallel scan); the resulting DataFrame is a
  * sized local relation (`TableSource.gridTable`) and flows through the
  * same validation plan as any source.
  *
  * The writer half emits a minimal valid point-shapefile zip (DBF all-C
  * fields, SHP point/null-shape records, SHX index) for round-trip tests and
  * fixture generation — the same role `XlsxSource.writeXlsx` plays.
  */
object ShapefileSource {


  /** Read a zipped shapefile into the CSV-path table shape: all-string
    * columns named by data row 1 (the DBF field names +
    * `adr_geometry_check`), `_row_number` (header = 1, first record = 2). */
  def readShapefile(spark: SparkSession, path: String): Either[SourceError, CsvTable] = {
    val file = new java.io.File(path)
    if (!file.exists()) return Left(IoError(s"Path does not exist: $path"))
    val bytes =
      try java.nio.file.Files.readAllBytes(file.toPath)
      catch { case e: Exception => return Left(IoError(e.getMessage)) }
    readShapefileBytes(spark, bytes)
  }

  /** Parse zipped shapefile payload bytes (the upload-stream entry point). */
  def readShapefileBytes(spark: SparkSession, bytes: Array[Byte]): Either[SourceError, CsvTable] =
    parseGrid(bytes).map(TableSource.gridTable(spark, _))

  /** Header row (field names + adr_geometry_check) followed by one row per
    * DBF record, geometry presence rendered "True"/"False" (the lexical form
    * the missing-geometry check accepts). Exposed for tests. */
  private[graft] def parseGrid(bytes: Array[Byte]): Either[SourceError, IndexedSeq[IndexedSeq[String]]] = {
    val entries =
      try ZipPayload.readAll(bytes, "shapefile zip")
      catch { case e: Exception => return Left(FormatError(s"Could not unzip file: ${e.getMessage}")) }
    // reference jobs.py:351-355: substring match, exactly one .shp
    val shpNames = entries.keys.filter(_.contains(".shp")).filterNot(_.contains(".shx")).toSeq.sorted
    if (shpNames.size != 1)
      return Left(SourceContentError("Zipped archive must contain exactly one .shp file."))
    val base = shpNames.head.dropRight(4)
    try {
      // reference jobs.py:360 opens base+'.shx' and errors if absent — the
      // index content itself is never needed (records are walked from the
      // .shp), but its absence must surface the same format error.
      if (!entries.contains(s"$base.shx"))
        return Left(FormatError(s"Not a valid shp file: missing $base.shx"))
      val dbf = entries.getOrElse(
        s"$base.dbf",
        return Left(FormatError(s"Not a valid shp file: missing $base.dbf"))
      )
      val (fields, records) = parseDbf(dbf)
      // geometry presence per record; a missing/short .shp yields False for
      // the unreadable tail (reference get_geometry: exception -> False)
      val shapes = entries.get(shpNames.head).map(parseShpGeometry).getOrElse(IndexedSeq.empty)
      val header = fields :+ "adr_geometry_check"
      val rows = records.zipWithIndex.map { case (rec, i) =>
        rec :+ (if (shapes.lift(i).getOrElse(false)) "True" else "False")
      }
      Right(header.toIndexedSeq +: rows)
    } catch {
      case e: Exception => Left(FormatError(s"Not a valid shp file: ${e.getMessage}"))
    }
  }

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) | ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def beInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) | ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** dBASE III DBF: header → field descriptors (32 bytes each, 0x0D
    * terminated) → fixed-width records. Values keep pyshp's lexical surface:
    * C trimmed, N/F trimmed ("" → null), L → "True"/"False", D → ISO date. */
  private def parseDbf(b: Array[Byte]): (IndexedSeq[String], IndexedSeq[IndexedSeq[String]]) = {
    require(b.length >= 32, "dbf too short")
    val recordCount = leInt(b, 4)
    val headerLen = leShort(b, 8)
    val recordLen = leShort(b, 10)
    // field descriptors
    val fields = IndexedSeq.newBuilder[(String, Char, Int, Int)] // name, type, length, decimals
    var off = 32
    while (off + 32 <= b.length && b(off) != 0x0d) {
      val name = new String(b.slice(off, off + 11).takeWhile(_ != 0), "ISO-8859-1").trim
      val ftype = (b(off + 11) & 0xff).toChar
      val flen = b(off + 16) & 0xff
      val fdec = b(off + 17) & 0xff
      fields += ((name, ftype, flen, fdec))
      off += 32
    }
    val fs = fields.result()
    require(fs.nonEmpty, "dbf has no fields")
    val rows = IndexedSeq.newBuilder[IndexedSeq[String]]
    var rec = 0
    var pos = headerLen
    while (rec < recordCount && pos + recordLen <= b.length) {
      if ((b(pos) & 0xff) != 0x2a) { // 0x2A = deleted record, skipped like pyshp
        var fo = pos + 1
        val cells = fs.map { case (_, ftype, flen, _) =>
          val raw = new String(b.slice(fo, fo + flen), "ISO-8859-1")
          fo += flen
          ftype match {
            case 'N' | 'F' => val t = raw.trim; if (t.isEmpty) null else t
            case 'L' =>
              raw.trim.headOption match {
                case Some(c) if "TtYy".contains(c) => "True"
                case Some(c) if "FfNn".contains(c) => "False"
                case _                             => null
              }
            case 'D' =>
              val t = raw.trim
              if (t.length == 8) s"${t.substring(0, 4)}-${t.substring(4, 6)}-${t.substring(6, 8)}" else (if (t.isEmpty) null else t)
            case _ => raw.trim // C and anything else
          }
        }
        rows += cells
      }
      pos += recordLen
      rec += 1
    }
    (fs.map(_._1), rows.result())
  }

  /** ESRI .shp: 100-byte header, then {recNum BE, contentWords BE, content}
    * records; geometry presence = the shape has at least one point (null
    * shape type 0 → false; point types → true; multi-point/part types →
    * numPoints > 0). */
  private def parseShpGeometry(b: Array[Byte]): IndexedSeq[Boolean] = {
    require(b.length >= 100 && beInt(b, 0) == 9994, "not a shp stream")
    val out = IndexedSeq.newBuilder[Boolean]
    var pos = 100
    while (pos + 12 <= b.length) {
      val contentBytes = beInt(b, pos + 4) * 2
      val c = pos + 8 // content start
      if (c + 4 > b.length) return out.result()
      val shapeType = leInt(b, c)
      val present = shapeType match {
        case 0            => false // null shape
        case 1 | 11 | 21  => true // point / pointZ / pointM
        case 8 | 18 | 28  => c + 40 <= b.length && leInt(b, c + 36) > 0 // multipoint: box(32) then numPoints
        case 3 | 5 | 13 | 15 | 23 | 25 => c + 44 <= b.length && leInt(b, c + 40) > 0 // poly*: box(32), numParts, numPoints
        case _            => true
      }
      out += present
      pos += 8 + contentBytes
    }
    out.result()
  }

  // ------------------------------------------------------------------
  // Writer: minimal valid zipped point-shapefile (fixtures + round-trip
  // tests — the XlsxSource.writeXlsx role for this format).
  // ------------------------------------------------------------------

  /** Write `records` as a zipped shapefile at `path`: DBF with all-C fields
    * (lexical round-trip exact), one SHP record per row — a deterministic
    * point (x=i, y=2i), or a NULL shape where `nullShapeAt(i)` — plus the
    * SHX index. Cells may be null (written as spaces → read back as ""). */
  def writeShapefile(
      path: String,
      fields: Seq[String],
      records: Seq[Seq[String]],
      nullShapeAt: Int => Boolean = _ => false,
      baseName: String = "layer"
  ): Unit = {
    require(fields.nonEmpty, "shapefile needs at least one field")
    // dBASE caps field names at 10 bytes — fail loudly instead of silently
    // truncating (a truncated name would desync schema field lookups)
    require(fields.forall(_.getBytes("ISO-8859-1").length <= 10),
      s"DBF field names are capped at 10 bytes: ${fields.filter(_.length > 10).mkString(", ")}")
    val widths = fields.indices.map { i =>
      math.min(254, math.max(1, records.iterator.map(_.lift(i).flatMap(Option(_)).map(_.length).getOrElse(0)).maxOption.getOrElse(1)))
    }

    // ---- DBF
    val headerLen = 32 + fields.size * 32 + 1
    val recordLen = 1 + widths.sum
    val dbf = new ByteArrayOutputStream()
    def w8(v: Int): Unit = dbf.write(v & 0xff)
    def wLeInt(v: Int): Unit = { w8(v); w8(v >> 8); w8(v >> 16); w8(v >> 24) }
    def wLeShort(v: Int): Unit = { w8(v); w8(v >> 8) }
    w8(0x03); w8(95); w8(7); w8(26) // version, last-update Y2K-era date
    wLeInt(records.size)
    wLeShort(headerLen); wLeShort(recordLen)
    dbf.write(new Array[Byte](20)) // reserved
    fields.zip(widths).foreach { case (name, width) =>
      val nm = name.getBytes("ISO-8859-1").take(10)
      dbf.write(nm); dbf.write(new Array[Byte](11 - nm.length))
      w8('C'); dbf.write(new Array[Byte](4)) // type + field data address
      w8(width); w8(0) // length, decimals
      dbf.write(new Array[Byte](14)) // reserved
    }
    w8(0x0d)
    records.foreach { rec =>
      w8(0x20) // active
      widths.zipWithIndex.foreach { case (width, i) =>
        val cell = rec.lift(i).flatMap(Option(_)).getOrElse("")
        val bs = cell.getBytes("ISO-8859-1").take(width)
        dbf.write(bs); dbf.write(Array.fill[Byte](width - bs.length)(' '))
      }
    }
    w8(0x1a) // EOF

    // ---- SHP + SHX
    def contentWords(i: Int): Int = if (nullShapeAt(i)) 2 else 10 // type(4) [+ x,y doubles]
    val shpWords = 50 + records.indices.map(i => 4 + contentWords(i)).sum
    val shp = new ByteArrayOutputStream()
    val shx = new ByteArrayOutputStream()
    def beI(o: ByteArrayOutputStream, v: Int): Unit = { o.write((v >> 24) & 0xff); o.write((v >> 16) & 0xff); o.write((v >> 8) & 0xff); o.write(v & 0xff) }
    def leI(o: ByteArrayOutputStream, v: Int): Unit = { o.write(v & 0xff); o.write((v >> 8) & 0xff); o.write((v >> 16) & 0xff); o.write((v >> 24) & 0xff) }
    def leD(o: ByteArrayOutputStream, v: Double): Unit = {
      val l = java.lang.Double.doubleToLongBits(v)
      (0 until 8).foreach(i => o.write(((l >> (8 * i)) & 0xff).toInt))
    }
    def header(o: ByteArrayOutputStream, words: Int): Unit = {
      beI(o, 9994); (1 to 5).foreach(_ => beI(o, 0))
      beI(o, words)
      leI(o, 1000); leI(o, 1) // version, shapeType = point
      leD(o, 0); leD(o, 0); leD(o, math.max(0, records.size - 1).toDouble); leD(o, math.max(0, 2 * (records.size - 1)).toDouble) // bbox
      (1 to 4).foreach(_ => leD(o, 0)) // z/m ranges
    }
    header(shp, shpWords)
    header(shx, 50 + records.size * 4)
    var offsetWords = 50
    records.indices.foreach { i =>
      beI(shx, offsetWords); beI(shx, contentWords(i))
      beI(shp, i + 1); beI(shp, contentWords(i))
      if (nullShapeAt(i)) leI(shp, 0)
      else { leI(shp, 1); leD(shp, i.toDouble); leD(shp, 2.0 * i) }
      offsetWords += 4 + contentWords(i)
    }

    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val zos = new ZipOutputStream(new java.io.FileOutputStream(f))
    try {
      def put(name: String, content: Array[Byte]): Unit = {
        zos.putNextEntry(new ZipEntry(name)); zos.write(content); zos.closeEntry()
      }
      put(s"$baseName.shp", shp.toByteArray)
      put(s"$baseName.shx", shx.toByteArray)
      put(s"$baseName.dbf", dbf.toByteArray)
    } finally zos.close()
  }
}
