package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.sources.TableSource.{CsvTable, FormatError, IoError, SourceContentError, SourceError}

/** Excel (xlsx) reader with the reference's semantics (`jobs.py:272-294`):
  * the workbook is read header-less — the header is data row 1, data rows
  * start at 2, exactly like the CSV path — a workbook with more than one
  * worksheet is rejected ("Your Excel file must contain only one worksheet
  * for validation."), and an unreadable payload is a format-error ("Could
  * not read your Excel file..."). The reference reaches Excel through
  * `pandas.read_excel`; this is a from-scratch minimal Office-Open-XML
  * parser on the JDK alone (java.util.zip + StAX) — no dependency budget
  * spent, same acceptance surface.
  *
  * Scale note: an Excel workbook is definitionally a small single file (a
  * zip member can't be split for parallel scan), so — like the reference,
  * and like `TableSource.transpose` — parsing is driver-side and
  * size-guarded; the resulting DataFrame is a sized local relation
  * (`TableSource.gridTable`), one partition when it is small (see
  * `TableSource.localFrame`), and it flows through the exact same
  * validation plan as any parquet/CSV source. Big data never arrives as
  * xlsx; fixture and upload data does.
  *
  * The writer half covers the reference's Excel re-serialisation surface
  * (`jobs.py:410-415` writes the preprocessed frame back to an in-memory
  * xlsx): `writeXlsx` emits a minimal valid workbook (inline or shared
  * strings, numeric cells for numeric text), used for round-trip tests and
  * fixture generation.
  */
object XlsxSource {


  /** Read a single-sheet xlsx into the CSV-path table shape: all-string
    * columns named by row 1, `_row_number` (header = 1, first data row = 2).
    * Blank grid rows are preserved (they surface as blank-row violations
    * downstream, like pandas' NaN rows do via goodtables). */
  def readXlsx(spark: SparkSession, path: String): Either[SourceError, CsvTable] = {
    val file = new java.io.File(path)
    if (!file.exists()) return Left(IoError(s"Path does not exist: $path"))
    val bytes =
      try java.nio.file.Files.readAllBytes(file.toPath)
      catch { case e: Exception => return Left(IoError(e.getMessage)) }
    readXlsxBytes(spark, bytes, extension = path.split('.').lastOption.getOrElse(""))
  }

  /** Parse xlsx payload bytes (the upload-stream entry point). */
  def readXlsxBytes(
      spark: SparkSession,
      bytes: Array[Byte],
      extension: String = "xlsx"
  ): Either[SourceError, CsvTable] =
    parseGrid(bytes, extension).map(TableSource.gridTable(spark, _))

  /** The raw cell grid (1 row per sheet row, sparse cells resolved), before
    * any header/DataFrame shaping. Exposed for tests. */
  private[graft] def parseGrid(
      bytes: Array[Byte],
      extension: String
  ): Either[SourceError, IndexedSeq[IndexedSeq[String]]] = {
    val formatErr = FormatError(
      s"Could not read your Excel file. Are you sure your specified format ($extension) is correct?"
    )
    // legacy BIFF (.xls) sniff: OLE2 compound-document magic D0 CF 11 E0
    // routes to the BIFF8 parser (BiffSource) — the reference reads both
    // Excel generations through pandas.ExcelFile (settings.py:6 lists xls),
    // so a valid legacy workbook must parse, with the same single-worksheet
    // invariant and error taxonomy as the OOXML path.
    if (bytes.length >= 4 &&
        (bytes(0) & 0xff) == 0xd0 && (bytes(1) & 0xff) == 0xcf &&
        (bytes(2) & 0xff) == 0x11 && (bytes(3) & 0xff) == 0xe0)
      return BiffSource.parseGrid(bytes, extension)
    val entries =
      try ZipPayload.readAll(bytes, "xlsx")
      catch { case _: Exception => return Left(formatErr) }
    try {
      val workbook = entries.getOrElse("xl/workbook.xml", return Left(formatErr))
      val sheetRels = sheetRelIds(workbook)
      // reference jobs.py:287-292: exactly one worksheet or the run errors
      if (sheetRels.size != 1)
        return Left(
          SourceContentError("Your Excel file must contain only one worksheet for validation.")
        )
      val rels = entries
        .get("xl/_rels/workbook.xml.rels")
        .map(parseRels)
        .getOrElse(Map.empty[String, String])
      val sheetPath = rels
        .get(sheetRels.head)
        .map(t => if (t.startsWith("/")) t.drop(1) else s"xl/$t")
        .filter(entries.contains)
        .orElse(entries.keys.filter(_.matches("xl/worksheets/sheet\\d+\\.xml")).toSeq.sorted.headOption)
        .getOrElse(return Left(formatErr))
      val shared = entries.get("xl/sharedStrings.xml").map(parseSharedStrings).getOrElse(IndexedSeq.empty)
      Right(parseSheet(entries(sheetPath), shared))
    } catch { case _: Exception => Left(formatErr) }
  }

  private def xmlReader(xml: Array[Byte]): javax.xml.stream.XMLStreamReader = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(xml))
  }

  /** r:id of every <sheet> in workbook.xml, in document order. */
  private def sheetRelIds(workbook: Array[Byte]): IndexedSeq[String] = {
    val r = xmlReader(workbook)
    val ids = IndexedSeq.newBuilder[String]
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT && r.getLocalName == "sheet") {
        var rid: String = null
        var i = 0
        while (i < r.getAttributeCount) {
          if (r.getAttributeLocalName(i) == "id") rid = r.getAttributeValue(i)
          i += 1
        }
        ids += Option(rid).getOrElse("")
      }
    }
    ids.result()
  }

  /** Relationship Id → Target from workbook.xml.rels. */
  private def parseRels(rels: Array[Byte]): Map[String, String] = {
    val r = xmlReader(rels)
    val out = mutable.Map.empty[String, String]
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT && r.getLocalName == "Relationship") {
        var id: String = null; var target: String = null
        var i = 0
        while (i < r.getAttributeCount) {
          r.getAttributeLocalName(i) match {
            case "Id"     => id = r.getAttributeValue(i)
            case "Target" => target = r.getAttributeValue(i)
            case _        =>
          }
          i += 1
        }
        if (id != null && target != null) out(id) = target
      }
    }
    out.toMap
  }

  /** sharedStrings.xml: each <si> is the concatenation of its <t> runs. */
  private def parseSharedStrings(xml: Array[Byte]): IndexedSeq[String] = {
    val r = xmlReader(xml)
    val out = IndexedSeq.newBuilder[String]
    var cur: StringBuilder = null
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => cur = new StringBuilder
            case "t"  => inT = true
            case _    =>
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS if inT && cur != null =>
          cur.append(r.getText)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t"  => inT = false
            case "si" => out += cur.toString; cur = null
            case _    =>
          }
        case _ =>
      }
    }
    out.result()
  }

  /** Worksheet XML → dense grid. Cell values keep the stored lexical form
    * (numbers stay e.g. "42" / "42.5"); booleans render "true"/"false"
    * (Frictionless boolean lexical space). Skipped row indices (sparse
    * `r=` attributes) become empty rows, preserving row numbering. */
  private def parseSheet(xml: Array[Byte], shared: IndexedSeq[String]): IndexedSeq[IndexedSeq[String]] = {
    val r = xmlReader(xml)
    val rows = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    var curRow: mutable.ArrayBuffer[String] = null
    var rowIndex = 0 // 1-based excel row of curRow
    var cellCol = -1 // 0-based column of current cell
    var cellType = ""
    var inV = false
    var inIsT = false
    val text = new StringBuilder

    def pad(buf: mutable.ArrayBuffer[String], upto: Int): Unit =
      while (buf.length < upto) buf += null

    def finishCell(): Unit = {
      if (curRow != null && cellCol >= 0) {
        val raw = text.toString
        val v = cellType match {
          // a shared-string cell with no <v> payload (`<c t="s"/>`, emitted
          // by some producers for blank cells) is a BLANK cell, not a broken
          // workbook — only a non-empty index dereferences the shared table
          case "s"         => if (raw.trim.isEmpty) null else shared.lift(raw.trim.toInt).orNull
          case "b"         => if (raw.trim == "1") "true" else "false"
          case _           => raw // n (default), str, inlineStr, e
        }
        pad(curRow, cellCol)
        if (curRow.length == cellCol) curRow += v else curRow(cellCol) = v
      }
      cellCol = -1; cellType = ""; text.clear()
    }

    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              var rAttr = 0
              var i = 0
              while (i < r.getAttributeCount) {
                if (r.getAttributeLocalName(i) == "r") rAttr = r.getAttributeValue(i).toInt
                i += 1
              }
              val next = if (rAttr > 0) rAttr else rowIndex + 1
              while (rows.length < next - 1) rows += IndexedSeq.empty // sparse gap → blank rows
              rowIndex = next
              curRow = mutable.ArrayBuffer.empty[String]
            case "c" =>
              var ref: String = null
              cellType = ""
              var i = 0
              while (i < r.getAttributeCount) {
                r.getAttributeLocalName(i) match {
                  case "r" => ref = r.getAttributeValue(i)
                  case "t" => cellType = r.getAttributeValue(i)
                  case _   =>
                }
                i += 1
              }
              cellCol = Option(ref).map(colIndex).getOrElse(if (curRow == null) 0 else curRow.length)
              text.clear()
            case "v"  => inV = true
            case "t"  => inIsT = true // inside <is> inline string
            case _    =>
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS if inV || inIsT =>
          text.append(r.getText)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v"   => inV = false
            case "t"   => inIsT = false
            case "c"   => finishCell()
            case "row" =>
              if (curRow != null) rows += curRow.toIndexedSeq
              curRow = null
            case _ =>
          }
        case _ =>
      }
    }
    rows.toIndexedSeq
  }

  /** "BC7" → 0-based column 54. */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private[graft] def colRef(idx: Int): String = {
    var n = idx + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  // ------------------------------------------------------------------
  // Writer: minimal valid OOXML workbook (fixtures + the reference's
  // re-serialisation surface, jobs.py:410-415).
  // ------------------------------------------------------------------

  /** XML-escape cell text. XML 1.0 forbids control chars below 0x20 except
    * tab/LF/CR — those are STRIPPED (Excel itself refuses them); CR is
    * escaped as a character reference because XML parsers normalize literal
    * CR/CRLF to LF in content (a bare "\r" would not round-trip). */
  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&'  => "&amp;"
      case '<'  => "&lt;"
      case '>'  => "&gt;"
      case '"'  => "&quot;"
      case '\r' => "&#xD;"
      case c if c < ' ' && c != '\t' && c != '\n' => ""
      case c    => c.toString
    }

  private val NumericCell = "^-?\\d+(\\.\\d+)?$".r

  /** Write sheets of string grids as an xlsx. Numeric-looking cells become
    * number cells; `useSharedStrings` routes text through sharedStrings.xml
    * (exercising both string encodings the parser supports); null cells are
    * omitted (sparse). More than one sheet is legal here — the READER is
    * what enforces the single-worksheet invariant. */
  def writeXlsx(
      path: String,
      sheets: Seq[(String, Seq[Seq[String]])],
      useSharedStrings: Boolean = false
  ): Unit = {
    val shared = mutable.LinkedHashMap.empty[String, Int]
    def sharedIdx(s: String): Int = shared.getOrElseUpdate(s, shared.size)

    def sheetXml(grid: Seq[Seq[String]]): String = {
      val sb = new StringBuilder
      sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>"
      sb ++= "<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\"><sheetData>"
      grid.zipWithIndex.foreach { case (cells, ri) =>
        sb ++= s"""<row r="${ri + 1}">"""
        cells.zipWithIndex.foreach { case (cell, ci) =>
          if (cell != null) {
            val ref = s"${colRef(ci)}${ri + 1}"
            cell match {
              case NumericCell(_*) =>
                sb ++= s"""<c r="$ref"><v>$cell</v></c>"""
              case s if useSharedStrings =>
                sb ++= s"""<c r="$ref" t="s"><v>${sharedIdx(s)}</v></c>"""
              case s =>
                sb ++= s"""<c r="$ref" t="inlineStr"><is><t>${xmlEscape(s)}</t></is></c>"""
            }
          }
        }
        sb ++= "</row>"
      }
      sb ++= "</sheetData></worksheet>"
      sb.toString
    }

    val sheetXmls = sheets.map { case (_, grid) => sheetXml(grid) } // fills `shared`
    val n = sheets.size
    val contentTypes =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
        "<Types xmlns=\"http://schemas.openxmlformats.org/package/2006/content-types\">" +
        "<Default Extension=\"rels\" ContentType=\"application/vnd.openxmlformats-package.relationships+xml\"/>" +
        "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
        "<Override PartName=\"/xl/workbook.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml\"/>" +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
        ).mkString +
        (if (shared.nonEmpty)
           "<Override PartName=\"/xl/sharedStrings.xml\" ContentType=\"application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml\"/>"
         else "") +
        "</Types>"
    val rootRels =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
        "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument\" Target=\"xl/workbook.xml\"/>" +
        "</Relationships>"
    val workbook =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
        "<workbook xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\" " +
        "xmlns:r=\"http://schemas.openxmlformats.org/officeDocument/2006/relationships\"><sheets>" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString +
        "</sheets></workbook>"
    val workbookRels =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
        "<Relationships xmlns=\"http://schemas.openxmlformats.org/package/2006/relationships\">" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>"""
        ).mkString +
        (if (shared.nonEmpty)
           s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>"""
         else "") +
        "</Relationships>"
    val sharedXml =
      if (shared.isEmpty) None
      else Some(
        "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
          s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""" +
          // keysIterator, NOT keys.map: `keys` is a Set and mapping it
          // DEDUPLICATES the results — two distinct raw strings that escape
          // to the same XML (e.g. "" and a control-only string) would
          // collapse into one <si>, shifting every later shared index
          shared.keysIterator.map(s => s"<si><t>${xmlEscape(s)}</t></si>").mkString +
          "</sst>"
      )

    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val zos = new ZipOutputStream(new java.io.FileOutputStream(f))
    try {
      def put(name: String, content: String): Unit = {
        zos.putNextEntry(new ZipEntry(name))
        zos.write(content.getBytes("UTF-8"))
        zos.closeEntry()
      }
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", workbookRels)
      sharedXml.foreach(put("xl/sharedStrings.xml", _))
      sheetXmls.zipWithIndex.foreach { case (xml, i) => put(s"xl/worksheets/sheet${i + 1}.xml", xml) }
    } finally zos.close()
  }
}
