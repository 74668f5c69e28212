package graft.images

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-row image payload validation — the engine's analogue of the
  * reference's synthesized-payload-validity pattern (reference: the
  * GeoJSON/SHP readers synthesize an `adr_geometry_check` column from payload
  * decodability, jobs.py:297-387, and `geometry_check` fails falsy rows,
  * custom_checks.py:177-203). Here the payload is the image `bytes` column:
  * decode it once per row, compare decoded width/height/format against the
  * declared `w`/`h`/`fmt` columns, and verify the caption against the
  * deterministic reference captioner.
  *
  * Execution design: the decode UDF is isolated in its OWN projection so the
  * opaque-bytes call doesn't poison whole-stage codegen for the cheap scalar
  * checks; everything downstream of the decoded struct is native Catalyst.
  * Decode cost dominates (~10³× the scalar checks) — it is skippable via
  * ValidationOptions.skipChecks("missing-geometry") by simply not calling
  * this transform.
  */
object ImageChecks {

  // ImageIO defaults to a DISK-backed stream cache: every decode creates a
  // temp file, which serialises all executor threads on filesystem calls
  // (measured: local[32] DECODED SLOWER than local[8]). Memory cache fixes it.
  ImageIO.setUseCache(false)

  final case class Decoded(ok: Boolean, w: Int, h: Int, fmt: String)

  /** Container format from magic bytes — avoids the per-row ImageIO plugin
    * scan (`getImageReaders` walks the service registry for every call). */
  def sniffFormat(b: Array[Byte]): String = {
    if (b == null || b.length < 4) ""
    else if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') "gif"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else ""
  }

  // per-thread reader reuse: ImageReader instances are not thread-safe but
  // ARE reusable across inputs; one per (thread, format) amortises plugin
  // lookup + reader construction across millions of rows
  private val readerCache = new ThreadLocal[java.util.HashMap[String, javax.imageio.ImageReader]] {
    override def initialValue() = new java.util.HashMap[String, javax.imageio.ImageReader]()
  }
  private def readerFor(fmt: String): javax.imageio.ImageReader = {
    val cache = readerCache.get()
    var r = cache.get(fmt)
    if (r == null) {
      val it = ImageIO.getImageReadersByFormatName(fmt)
      if (it.hasNext) { r = it.next(); cache.put(fmt, r) }
    }
    r
  }

  /** Decode bytes → (ok, width, height, format). Format comes from magic
    * bytes (jpg normalised to jpeg). Any decode failure → ok=false. */
  def decode(bytes: Array[Byte]): Decoded = {
    if (bytes == null || bytes.length == 0) return Decoded(ok = false, 0, 0, "")
    val fmt = sniffFormat(bytes)
    if (fmt.isEmpty) return Decoded(ok = false, 0, 0, "")
    try {
      val reader = readerFor(fmt)
      if (reader == null) return Decoded(ok = false, 0, 0, fmt)
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis, true, true)
        val img = reader.read(0)
        if (img == null) Decoded(ok = false, 0, 0, fmt)
        else Decoded(ok = true, img.getWidth, img.getHeight, fmt)
      } finally {
        reader.setInput(null)
        iis.close()
      }
    } catch { case _: Exception => Decoded(ok = false, 0, 0, fmt) }
  }

  private val decodeUdf = udf((b: Array[Byte]) => decode(b))

  /** Add a `_decoded` struct column (one decode per row). */
  def withDecoded(df: DataFrame, bytesCol: String = "bytes"): DataFrame =
    df.withColumn("_decoded", decodeUdf(col(bytesCol)))

  /** Full image-table validation: violations frame with the engine's
    * canonical schema (code, row_number, column_number, message, row).
    *
    * Codes emitted (reference vocabulary):
    *  - missing-geometry   : bytes fail to decode (payload invalid);
    *  - type-or-format-error: decoded w/h/fmt disagree with declared columns
    *    (column_number points at the offending column);
    *  - required-constraint : caption null/empty;
    *  - custom-constraint   : caption differs from the deterministic
    *    reference captioner (caption-equality invariant).
    *
    * `rowNumber` must be a stable per-row id (e.g. dense rank of image_id).
    */
  def violations(df: DataFrame, rowNumber: Column, checkCaption: Boolean = true): DataFrame = {
    val dec = withDecoded(df).withColumn("_rn", rowNumber.cast(LongType))
    // row payload aligned with the column numbering below: position 2 is the
    // binary payload, rendered as "" (bytes are not stringifiable)
    val rowArr = array(
      (Seq(col("image_id")) ++ Seq(lit("")) ++ Seq(col("w"), col("h")).map(_.cast(StringType)) ++
        Seq(col("fmt"), col("caption")) :+ col("phash").cast(StringType)).map(c => coalesce(c, lit(""))): _*
    )
    val colIdx = Map("image_id" -> 1, "bytes" -> 2, "w" -> 3, "h" -> 4, "fmt" -> 5, "caption" -> 6, "phash" -> 7)
    def viol(cond: Column, code: String, cn: Option[Int], msg: Column): Column =
      when(cond, struct(
        lit(code).as("code"),
        col("_rn").as("row_number"),
        cn.map(n => lit(n)).getOrElse(lit(null)).cast(IntegerType).as("column_number"),
        msg.as("message")
      ))

    val expectedCaption = expectedCaptionCol(col("image_id"))
    // all messages rendered through the ONE message spec (ErrorSpec templates
    // compiled to Catalyst concat by RowChecks.message) — the same path every
    // RowChecks message takes, so a template change can never drift here
    val rn = col("_rn").cast(StringType)
    def msg(code: String, subs: (String, Column)*): Column =
      graft.checks.RowChecks.message(code, (subs :+ ("row_number" -> rn)).toMap)
    def typeFmtMsg(valueCol: Column, cn: Int, ftype: String): Column =
      msg("type-or-format-error",
        "value" -> graft.checks.RowChecks.quoted(valueCol),
        "column_number" -> lit(cn.toString),
        "field_type" -> lit(ftype),
        "field_format" -> lit("default"))
    val entries = Seq(
      viol(
        !col("_decoded.ok"),
        "missing-geometry",
        None,
        msg("missing-geometry")
      ),
      viol(
        col("_decoded.ok") && col("_decoded.w") =!= col("w"),
        "type-or-format-error",
        Some(colIdx("w")),
        typeFmtMsg(col("w"), colIdx("w"), "integer")
      ),
      viol(
        col("_decoded.ok") && col("_decoded.h") =!= col("h"),
        "type-or-format-error",
        Some(colIdx("h")),
        typeFmtMsg(col("h"), colIdx("h"), "integer")
      ),
      viol(
        col("_decoded.ok") && col("_decoded.fmt") =!= col("fmt"),
        "type-or-format-error",
        Some(colIdx("fmt")),
        typeFmtMsg(col("fmt"), colIdx("fmt"), "string")
      ),
      viol(
        col("caption").isNull || col("caption") === "",
        "required-constraint",
        Some(colIdx("caption")),
        msg("required-constraint", "column_number" -> lit(colIdx("caption").toString))
      )
    ) ++ (if (checkCaption)
            Seq(
              viol(
                col("caption").isNotNull && col("caption") =!= "" && col("caption") =!= expectedCaption,
                "custom-constraint",
                Some(colIdx("caption")),
                msg("custom-constraint", "constraint" -> lit("caption-equality"))
              )
            )
          else Nil)

    // codegen'd explode of the fixed-length entry array with nulls dropped
    // AFTER the Generate (r6): the earlier filter(array(...)) + size > 0
    // shape used the interpreted ArrayFilter and its pushed size predicate
    // re-ran the assembly in the filter (see ValidationRunner). No
    // anyViolation pre-filter here: the conditions reference the decode
    // UDF's output, and a pushed filter would substitute the alias and
    // evaluate the DECODE twice per row (guide §4.4) — the k null entries
    // per clean row are far cheaper than a second decode.
    dec
      .select(explode(array(entries: _*)).as("_v"), rowArr.as("row"))
      .filter(col("_v").isNotNull)
      .select(col("_v.code"), col("_v.row_number"), col("_v.column_number"), col("_v.message"), col("row"))
  }

  /** Caption-only checks (required + caption-equality) with NO byte decode:
    * the metadata-only subset of `violations` — its plan reads (image_id,
    * caption) + the row id and never deserializes `bytes`, so on a stored
    * table it is a column-pruned scan. Same codes/messages as `violations`
    * for these two checks. */
  def captionViolations(df: DataFrame, rowNumber: Column): DataFrame = {
    val base = df.withColumn("_rn", rowNumber.cast(LongType))
    def viol(cond: Column, code: String, msg: Column): Column =
      when(cond, struct(
        lit(code).as("code"),
        col("_rn").as("row_number"),
        lit(6).cast(IntegerType).as("column_number"),
        msg.as("message")
      ))
    val rn = col("_rn").cast(StringType)
    val entries = Seq(
      viol(
        col("caption").isNull || col("caption") === "",
        "required-constraint",
        graft.checks.RowChecks.message("required-constraint",
          Map("column_number" -> lit("6"), "row_number" -> rn))
      ),
      viol(
        col("caption").isNotNull && col("caption") =!= "" &&
          col("caption") =!= expectedCaptionCol(col("image_id")),
        "custom-constraint",
        graft.checks.RowChecks.message("custom-constraint",
          Map("constraint" -> lit("caption-equality"), "row_number" -> rn))
      )
    )
    // same codegen'd explode shape as violations() above (r6)
    base
      .select(explode(array(entries: _*)).as("_v"))
      .filter(col("_v").isNotNull)
      .select(col("_v.code").as("code"), col("_v.row_number").as("row_number"),
        col("_v.column_number").as("column_number"), col("_v.message").as("message"))
  }

  /** The deterministic reference captioner as a Column (must mirror
    * SyntheticImages.caption). image_id format: img_%012d. */
  def expectedCaptionCol(imageId: Column): Column = {
    val id = substring(imageId, 5, 12).cast(LongType)
    val subjects = Seq("gradient", "pattern", "texture", "field", "grid")
    val colors = Seq("amber", "teal", "crimson", "violet", "olive")
    val colorArr = array(colors.map(lit): _*)
    val subjArr = array(subjects.map(lit): _*)
    concat(
      lit("synthetic "),
      element_at(colorArr, (id % 5).cast("int") + 1),
      lit(" "),
      element_at(subjArr, (id % 7 % 5).cast("int") + 1),
      lit(" image number "),
      id.cast(StringType)
    )
  }
}
