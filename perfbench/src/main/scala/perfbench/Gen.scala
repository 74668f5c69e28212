package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

/** Seeded input generators. Every input the engine sees is written here,
  * and every answer the benchmark checks is derived here from the same
  * plan — never by running the engine. The same seed gives the same files
  * and the same answers. */
object Gen {

  /** splitmix64 finaliser: a stateless, well-mixed hash of (seed, i). */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def mix(seed: Long, stream: Long, i: Long): Long = mix(mix(seed * 0x632be59bd9b4e019L + stream) ^ i)
  /** a derived hash: the k-th independent draw from hash h */
  def mix(h: Long, k: Long): Long = mix(h ^ mix(k * 0x5bd1e995L + 1))
  /** uniform in [0, n) */
  def pick(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  def word(h: Long, len: Int): String = {
    val sb = new StringBuilder
    var x = h
    var i = 0
    while (i < len) { sb += letters(pick(x, 26)); x = mix(x); i += 1 }
    sb.toString
  }

  def writeString(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))
  }

  // ------------------------------------------------------------------
  // upload: many small dirty CSV/XLSX resources
  // ------------------------------------------------------------------

  /** One planted defect; each yields exactly one report entry of `code`
    * (before the per-code cap and the misleading-uniqueness rule). */
  sealed abstract class Defect(val code: String, val csvOnly: Boolean = false)
  case object Required extends Defect("required-constraint")
  case object PkRequired extends Defect("required-constraint")
  case object TypeError extends Defect("type-or-format-error")
  case object DateError extends Defect("type-or-format-error")
  case object Minimum extends Defect("minimum-constraint")
  case object Maximum extends Defect("maximum-constraint")
  case object Pattern extends Defect("pattern-constraint")
  case object Enum extends Defect("enumerable-constraint")
  case object MaxLength extends Defect("maximum-length-constraint")
  case object InlineFk extends Defect("foreign-key")
  case object Custom extends Defect("custom-constraint")
  case object DupPk extends Defect("unique-constraint")
  case object ExtraValue extends Defect("extra-value", csvOnly = true)
  case object MissingValue extends Defect("missing-value", csvOnly = true)

  val StructuralCodes: Set[String] = Set("extra-value", "missing-value")
  /** ValidationOptions.default's per-code cap on collected entries */
  val ErrorCap = 1000

  /** A Table Schema descriptor and how to render clean and defective rows. */
  sealed trait Descriptor {
    def json: String
    def header: Seq[String]
    def clean(h: Long, i: Int): Array[String]
    /** apply `d` to a clean row; `prev` is the previous row (for DupPk);
      * `blank` is the empty-cell token of the format ("" for CSV, null for
      * XLSX, whose writer leaves null cells out) */
    def plant(row: Array[String], d: Defect, prev: Array[String], h: Long, blank: String): Unit
    val defects: Seq[Defect] = Seq(Required, TypeError, DateError, Minimum, Maximum, Pattern, Enum,
      MaxLength, InlineFk, Custom, DupPk, ExtraValue, MissingValue)
    /** codes a blank ("") primary-key cell raises besides required: the
      * engine runs every non-null check on an empty CSV string, so a PK
      * column with a pattern also reports it (an XLSX blank is null) */
    def pkBlankAlso: Seq[String] = Nil
  }

  object People extends Descriptor {
    val json: String =
      """{"primaryKey": "id", "fields": [
        |{"name": "id", "type": "integer", "constraints": {"required": true, "unique": true}},
        |{"name": "name", "type": "string", "constraints": {"required": true, "maxLength": 20}},
        |{"name": "age", "type": "integer", "constraints": {"minimum": 0, "maximum": 120}},
        |{"name": "email", "type": "string", "constraints": {"pattern": "[a-z]+@[a-z]+\\.org"}},
        |{"name": "country", "type": "string", "constraints": {"enum": ["fr", "de", "es", "it", "nl"]}},
        |{"name": "joined", "type": "date", "format": "%Y-%m-%d"},
        |{"name": "dept", "type": "string", "foreignKey": ["sales", "eng", "ops", "hr"]},
        |{"name": "salary", "type": "number"},
        |{"name": "bonus", "type": "number"},
        |{"name": "note", "type": "string"}],
        |"customConstraints": ["salary > bonus * 4"]}""".stripMargin
    val header = Seq("id", "name", "age", "email", "country", "joined", "dept", "salary", "bonus", "note")
    private val countries = Array("fr", "de", "es", "it", "nl")
    private val depts = Array("sales", "eng", "ops", "hr")
    def clean(h: Long, i: Int): Array[String] = {
      def r(k: Int) = mix(h, 11, k)
      Array(
        (i + 1).toString,
        word(r(1), 4 + pick(r(2), 10)),
        (18 + pick(r(3), 70)).toString,
        s"${word(r(4), 5)}@${word(r(5), 4)}.org",
        countries(pick(r(6), 5)),
        f"20${10 + pick(r(7), 14)}%02d-${1 + pick(r(8), 12)}%02d-${1 + pick(r(9), 28)}%02d",
        depts(pick(r(10), 4)),
        (5000 + pick(r(11), 4000)).toString,
        pick(r(12), 1000).toString,
        "note " + word(r(13), 6)
      )
    }
    def plant(row: Array[String], d: Defect, prev: Array[String], h: Long, blank: String): Unit = d match {
      case Required   => row(1) = blank
      case PkRequired => row(0) = blank
      case TypeError  => row(2) = "n/a"
      case DateError  => row(5) = "not-a-date"
      case Minimum    => row(2) = "-5"
      case Maximum    => row(2) = "150"
      case Pattern    => row(3) = "Not.An.Email"
      case Enum       => row(4) = "xx"
      case MaxLength  => row(1) = word(h, 25)
      case InlineFk   => row(6) = "legal"
      case Custom     => row(7) = "1000"; row(8) = "500"
      case DupPk      => row(0) = prev(0)
      case _          => ()
    }
  }

  object Orders extends Descriptor {
    val json: String =
      """{"primaryKey": ["order_id"], "fields": [
        |{"name": "order_id", "type": "string", "constraints": {"required": true, "pattern": "ORD-[0-9]{6}"}},
        |{"name": "qty", "type": "integer", "constraints": {"required": true, "minimum": 1, "maximum": 1000}},
        |{"name": "price", "type": "number", "constraints": {"minimum": 0}},
        |{"name": "status", "type": "string", "constraints": {"enum": ["new", "paid", "shipped", "returned"]}},
        |{"name": "shipped", "type": "date", "format": "%d/%m/%Y"},
        |{"name": "sku", "type": "string", "foreignKey": ["SKU-001", "SKU-002", "SKU-003", "SKU-004", "SKU-005"]},
        |{"name": "comment", "type": "string", "constraints": {"maxLength": 40}}],
        |"customConstraints": ["qty * price <= 500000"]}""".stripMargin
    val header = Seq("order_id", "qty", "price", "status", "shipped", "sku", "comment")
    override def pkBlankAlso: Seq[String] = Seq("pattern-constraint")
    private val statuses = Array("new", "paid", "shipped", "returned")
    def clean(h: Long, i: Int): Array[String] = {
      def r(k: Int) = mix(h, 13, k)
      Array(
        f"ORD-${i + 1}%06d",
        (1 + pick(r(1), 999)).toString,
        s"${1 + pick(r(2), 98)}.${pick(r(3), 100)}",
        statuses(pick(r(4), 4)),
        f"${1 + pick(r(5), 28)}%02d/${1 + pick(r(6), 12)}%02d/20${10 + pick(r(7), 14)}%02d",
        f"SKU-00${1 + pick(r(8), 5)}",
        "c " + word(r(9), 8)
      )
    }
    def plant(row: Array[String], d: Defect, prev: Array[String], h: Long, blank: String): Unit = d match {
      case Required   => row(1) = blank
      case PkRequired => row(0) = blank
      case TypeError  => row(1) = "many"
      case DateError  => row(4) = "not-a-date"
      case Minimum    => row(1) = "0"
      case Maximum    => row(1) = "5000"
      case Pattern    => row(0) = "BAD-" + row(0)
      case Enum       => row(3) = "lost"
      case MaxLength  => row(6) = "c " + word(h, 50)
      case InlineFk   => row(5) = "SKU-999"
      case Custom     => row(1) = "900"; row(2) = "999.5"
      case DupPk      => row(0) = prev(0)
      case _          => ()
    }
  }

  final case class Resource(
      path: String,
      format: String,
      descriptor: Descriptor,
      rows: Int,
      violationShare: Double,
      /** report entries per code the engine must return */
      expected: Map[String, Int]
  )

  val UploadMinRows = 100
  val UploadMaxRows = 5000
  val UploadResources = 64
  /** resources per block: the sequence repeats its shape every block */
  val UploadBlock = 8
  /** violation share of each slot of a block; the 5,000-row slot's
    * dominant kind (80% of 1,500 defects) overflows the per-code cap */
  val UploadShares: IndexedSeq[Double] = IndexedSeq(0.17, 0.11, 0.05, 0.24, 0.18, 0.12, 0.06, 0.30)

  /** The resource sequence has the same shape under every seed and in
    * every block of [[UploadBlock]] resources: slot j of a block takes size
    * quantile u = j/7 of a small-skewed law on [100, 5000] rows (a log
    * scale walked at u², so 100, 108, 138, 205, 359, 737, 1771, 5000; median
    * about 280 rows). Slots 2 and 6 are XLSX, descriptors alternate, the
    * violation share is 5-30% by [[UploadShares]], half the slots put 80%
    * of their defects on one kind and two get blank PK cells. A run
    * measures whole blocks, so every run covers the same mix. The seed sets
    * all cell content and which rows carry which defects. */
  def upload(seed: Long, dir: File): IndexedSeq[Resource] =
    (0 until UploadResources).map { i =>
      val j = i % UploadBlock
      val u = j.toDouble / (UploadBlock - 1)
      val rows = math.round(UploadMinRows * math.pow(UploadMaxRows.toDouble / UploadMinRows, u * u)).toInt
      resource(seed, i, j, rows, UploadShares(j), if (j % 4 == 2) "xlsx" else "csv", if (j % 2 == 0) People else Orders, dir)
    }

  private def resource(seed: Long, idx: Int, slot: Int, rows: Int, share: Double, fmt: String, desc: Descriptor,
      dir: File): Resource = {
    val h = mix(seed, 2, idx)
    val allowed = desc.defects.filter(d => fmt == "csv" || !d.csvOnly)
    // half the slots concentrate 80% of their defects on one kind, so the
    // largest ones overflow the per-code cap
    val dominant = if (slot % 4 == 0 || slot % 4 == 3) Some(allowed(slot % allowed.size)) else None
    val pkRequired = if (slot == 1 || slot == 6) 1 + slot % 3 else 0
    val blank = if (fmt == "csv") "" else null
    val planted = mutable.Map.empty[Defect, Int].withDefaultValue(0)
    val out = mutable.ArrayBuffer.empty[Array[String]]
    var prevDefect: Defect = null
    var i = 0
    while (i < rows) {
      val rh = mix(h, 100, i)
      val row = desc.clean(rh, i)
      // primary-key blanks go on the last rows: any position triggers the
      // misleading-uniqueness rule, and the tail keeps them off DupPk's source
      val d: Defect =
        if (i >= rows - pkRequired) PkRequired
        else if (pick(mix(rh, 7), 1000000) < (share * 1000000).toInt)
          dominant.filter(_ => pick(mix(rh, 8), 5) < 4).getOrElse(allowed(pick(mix(rh, 9), allowed.size)))
        else null
      // a duplicate needs a clean predecessor, so it yields exactly one entry
      val dd = if (d == DupPk && (i == 0 || prevDefect != null)) Minimum else d
      if (dd != null) {
        desc.plant(row, dd, if (i > 0) out(i - 1) else row, mix(rh, 10), blank)
        planted(dd) += 1
      }
      val cells: Array[String] = dd match {
        case ExtraValue   => row :+ "extra"
        case MissingValue => row.dropRight(1)
        case _            => row
      }
      out += cells
      prevDefect = dd
      i += 1
    }
    val expected = mutable.Map.empty[String, Int].withDefaultValue(0)
    planted.foreach { case (d, c) => if (d != DupPk) expected(d.code) += c }
    if (fmt == "csv") desc.pkBlankAlso.foreach(code => expected(code) += planted(PkRequired))
    if (planted(PkRequired) == 0) expected("unique-constraint") += planted(DupPk)
    val capped = expected.iterator.filter(_._2 > 0).map { case (code, c) =>
      code -> (if (StructuralCodes(code)) c else math.min(c, ErrorCap))
    }.toMap
    val file = new File(dir, f"res_$idx%04d.$fmt")
    if (fmt == "csv") writeString(file, (desc.header +: out.map(_.toSeq)).map(_.mkString(",")).mkString("\n") + "\n")
    else graft.sources.XlsxSource.writeXlsx(file.getAbsolutePath, Seq("Sheet1" -> (desc.header +: out.map(_.toSeq).toSeq)))
    Resource(file.getAbsolutePath, fmt, desc, rows, share, capped)
  }

  // ------------------------------------------------------------------
  // scan: one large image+caption metadata table
  // ------------------------------------------------------------------

  val ScanDescriptor: String =
    """{"primaryKey": "image_id", "fields": [
      |{"name": "image_id", "type": "string", "constraints": {"required": true, "unique": true}},
      |{"name": "w", "type": "integer", "constraints": {"minimum": 1, "maximum": 16384}},
      |{"name": "h", "type": "integer", "constraints": {"minimum": 1, "maximum": 16384}},
      |{"name": "fmt", "type": "string", "constraints": {"enum": ["png", "jpeg"]}, "foreignKey": "formats_dim:fmt"},
      |{"name": "caption", "type": "string", "constraints": {"required": true, "maxLength": 1024}},
      |{"name": "phash", "type": "integer", "constraints": {"unique": true}}],
      |"customConstraints": ["w * h <= 178956970"]}""".stripMargin

  /** per-row defect kinds of the scan table, by weight (out of 100) */
  val ScanKinds: Seq[(String, Int)] = Seq(
    "dup_id" -> 30, "gif" -> 20, "null_caption" -> 15, "long_caption" -> 10,
    "w_zero" -> 10, "w_huge" -> 5, "area" -> 5, "dup_phash" -> 5)
  private val scanKindTable: Array[String] = ScanKinds.flatMap { case (k, w) => Seq.fill(w)(k) }.toArray
  val ScanViolationPerMille = 10

  /** defect of scan row i, or "" (duplicates only on odd rows, copying the
    * clean even row before them, so each yields exactly one entry) */
  def scanKind(seed: Long, i: Long): String = {
    val h = mix(seed, 3, i)
    if (pick(h, 1000) >= ScanViolationPerMille) ""
    else {
      val k = scanKindTable(pick(mix(h), 100))
      if ((k == "dup_id" || k == "dup_phash") && i % 2 == 0) "" else k
    }
  }

  final case class ScanRow(rn: Long, image_id: String, w: Int, h: Int, fmt: String, caption: String, phash: Long)

  private def scanW(seed: Long, j: Long): Int = 64 + pick(mix(mix(seed, 4, j), 1), 961)
  private def scanH(seed: Long, j: Long): Int = 64 + pick(mix(mix(seed, 4, j), 2), 961)

  def scanRow(seed: Long, i: Long): ScanRow = {
    def clean(j: Long): ScanRow = {
      val h = mix(seed, 4, j)
      ScanRow(j + 2, f"img_${j + 1}%012d", scanW(seed, j), scanH(seed, j),
        if (pick(mix(h, 3), 2) == 0) "png" else "jpeg",
        "a " + word(mix(h, 4), 6) + " photo of " + word(mix(h, 5), 8) + " in " + word(mix(h, 6), 5),
        mix(h, 7))
    }
    val r = clean(i)
    scanKind(seed, i) match {
      case ""             => r
      case "dup_id"       => r.copy(image_id = clean(i - 1).image_id)
      case "dup_phash"    => r.copy(phash = clean(i - 1).phash)
      case "gif"          => r.copy(fmt = "gif")
      case "null_caption" => r.copy(caption = null)
      case "long_caption" => r.copy(caption = "x" * 1100)
      case "w_zero"       => r.copy(w = 0)
      case "w_huge"       => r.copy(w = 20000)
      case "area"         => r.copy(w = 16000, h = 16000)
    }
  }

  final case class ScanExpect(
      /** report entries per code after the per-code cap */
      codes: Map[String, Int],
      /** violations per code before the cap */
      raw: Map[String, Int],
      captionNulls: Long,
      wMin: Int, wMax: Int, hMin: Int, hMax: Int,
      distinctIds: Long
  )

  def scanExpect(seed: Long, n: Long): ScanExpect = {
    val c = mutable.Map.empty[String, Int].withDefaultValue(0)
    var wMin = Int.MaxValue; var wMax = Int.MinValue; var hMin = Int.MaxValue; var hMax = Int.MinValue
    var i = 0L
    while (i < n) {
      val k = scanKind(seed, i)
      if (k.nonEmpty) c(k) += 1
      val (w, h) = k match {
        case "w_zero" => (0, scanH(seed, i))
        case "w_huge" => (20000, scanH(seed, i))
        case "area"   => (16000, 16000)
        case _        => (scanW(seed, i), scanH(seed, i))
      }
      wMin = math.min(wMin, w); wMax = math.max(wMax, w); hMin = math.min(hMin, h); hMax = math.max(hMax, h)
      i += 1
    }
    val raw = Map(
      "unique-constraint" -> (c("dup_id") + c("dup_phash")),
      "enumerable-constraint" -> c("gif"),
      "foreign-key" -> c("gif"),
      "required-constraint" -> c("null_caption"),
      "maximum-length-constraint" -> c("long_caption"),
      "minimum-constraint" -> c("w_zero"),
      "maximum-constraint" -> c("w_huge"),
      "custom-constraint" -> c("area")
    ).filter(_._2 > 0)
    val codes = raw.map { case (k, v) => k -> math.min(v, ErrorCap) }
    ScanExpect(codes, raw, c("null_caption"), wMin, wMax, hMin, hMax, n - c("dup_id"))
  }

  // ------------------------------------------------------------------
  // images: stored image table with bytes
  // ------------------------------------------------------------------

  val ImageKinds: Seq[(String, Int)] = Seq(
    "w_mismatch" -> 20, "h_mismatch" -> 15, "fmt_mismatch" -> 15, "corrupt" -> 20,
    "empty_caption" -> 10, "bad_caption" -> 10, "dup_id" -> 10)
  private val imageKindTable: Array[String] = ImageKinds.flatMap { case (k, w) => Seq.fill(w)(k) }.toArray
  val ImageViolationPerMille = 20

  def imageKind(seed: Long, i: Long): String = {
    val h = mix(seed, 5, i)
    if (pick(h, 1000) >= ImageViolationPerMille) ""
    else {
      val k = imageKindTable(pick(mix(h), 100))
      if (k == "dup_id" && i % 2 == 0) "" else k
    }
  }

  /** the reference captioner the engine checks captions against */
  def imageCaption(id: Long): String = {
    val subjects = Seq("gradient", "pattern", "texture", "field", "grid")
    val colors = Seq("amber", "teal", "crimson", "violet", "olive")
    s"synthetic ${colors((id % 5).toInt)} ${subjects((id % 7 % 5).toInt)} image number $id"
  }

  final case class ImageRow(row_id: Long, image_id: String, bytes: Array[Byte], w: Int, h: Int, fmt: String,
      caption: String, phash: Long)

  def imageRow(seed: Long, i: Long): ImageRow = {
    val base = (math.abs(seed) % 10000) * 10000000L
    def clean(j: Long, withBytes: Boolean): ImageRow = {
      val h = mix(seed, 6, j)
      val id = base + j
      val w = 16 + 8 * pick(mix(h, 1), 5)
      val ht = 16 + 8 * pick(mix(h, 2), 4)
      val fmt = if (pick(mix(h, 3), 2) == 0) "png" else "jpeg"
      ImageRow(j + 1, f"img_$id%012d", if (withBytes) render(mix(h, 4), w, ht, fmt) else null, w, ht, fmt,
        imageCaption(id), mix(h, 5))
    }
    val r = clean(i, withBytes = true)
    imageKind(seed, i) match {
      case ""              => r
      case "w_mismatch"    => r.copy(w = r.w + 3)
      case "h_mismatch"    => r.copy(h = r.h + 2)
      case "fmt_mismatch"  => r.copy(fmt = if (r.fmt == "png") "jpeg" else "png")
      case "corrupt"       =>
        // keep the container magic so the format sniff passes and the decode fails
        val junk = Array.tabulate[Byte](64)(k => mix(r.phash, 9, k).toByte)
        r.copy(bytes = r.bytes.take(4) ++ junk)
      case "empty_caption" => r.copy(caption = "")
      case "bad_caption"   => r.copy(caption = r.caption + " (edited)")
      case "dup_id"        => val p = clean(i - 1, withBytes = false); r.copy(image_id = p.image_id, caption = p.caption)
    }
  }

  private def render(h: Long, w: Int, ht: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, ht, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val a = pick(h, 256); val b = pick(mix(h, 1), 256); val c = pick(mix(h, 2), 7) + 1
    var y = 0
    while (y < ht) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (((a + x * c) & 0xff) << 16) | (((b + y * c) & 0xff) << 8) | ((x * y + a) & 0xff))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  final case class ImageExpect(codes: Map[String, Int], uniqueViolations: Int)

  def imageExpect(seed: Long, n: Long): ImageExpect = {
    val c = mutable.Map.empty[String, Int].withDefaultValue(0)
    var i = 0L
    while (i < n) { val k = imageKind(seed, i); if (k.nonEmpty) c(k) += 1; i += 1 }
    val codes = Map(
      "missing-geometry" -> c("corrupt"),
      "type-or-format-error" -> (c("w_mismatch") + c("h_mismatch") + c("fmt_mismatch")),
      "required-constraint" -> c("empty_caption"),
      "custom-constraint" -> c("bad_caption")
    ).filter(_._2 > 0)
    ImageExpect(codes, c("dup_id"))
  }

  // ------------------------------------------------------------------
  // curate: a text corpus with planted near-duplicate families
  // ------------------------------------------------------------------

  final case class Doc(id: Long, text: String, stratum: String)

  final case class CurateSpec(
      singletons: Int,
      flagged: Int,
      smallFamilies: Int,
      hotFamily: Int,
      hotBodyTokens: Int,
      boilerplateShare: Double,
      quota: Int,
      budget: Long
  )

  /** The curation answer. Every stage is exact by construction except one:
    * the hot family's LSH buckets exceed maxBucket, where the engine trades
    * recall for bounded work (documented in Dedup.minHashPairs), so a few of
    * its members may stay unmerged. `binsWith` recomputes the exact answer
    * given those extra keepers; the check bounds how many there may be. */
  final case class CurateExpect(
      keepers: Set[Long],
      stratum: Map[Long, String],
      tokens: Map[Long, Int],
      hot: Set[Long],
      quota: Int,
      budget: Long,
      nearDupShare: Double
  ) {
    def components: Int = keepers.size
    /** (id, bin) after the per-stratum quota and packing, when `extra` hot
      * members survive near-dup canonicalisation besides the family's min */
    def binsWith(extra: Set[Long]): Map[Long, Long] = {
      val sampled = (keepers ++ extra).toSeq.groupBy(stratum).values.flatMap { ids =>
        ids.sortBy(id => (curateHash(id), id)).take(quota)
      }.toSeq.sorted
      var before = 0L
      sampled.map { id =>
        val b = before / budget
        before += tokens(id)
        id -> b
      }.toMap
    }
    lazy val bins: Map[Long, Long] = binsWith(Set.empty)
  }

  val Strata: Seq[(String, Int)] = Seq("en" -> 40, "de" -> 30, "fr" -> 20, "es" -> 10)
  private val stopwords = Array("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

  /** `n` tokens of clean prose: every fourth token a stopword (so the
    * stopword verdict passes by construction), the rest drawn from a
    * 4,096-word vocabulary of letter-only words (no PII shapes). */
  private def prose(h: Long, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb += ' '
      val x = mix(h, 21, i)
      sb ++= (if (i % 4 == 3) stopwords(pick(x, stopwords.length)) else vocab(pick(x, vocab.length)))
      i += 1
    }
    sb.toString
  }
  private lazy val vocab: Array[String] = Array.tabulate(4096)(k => word(mix(7L, 22, k), 3 + pick(mix(7L, 23, k), 6)))

  /** the engine's curation id hash (CurationPipeline.run's default) */
  def curateHash(id: Long): Long = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)

  def curate(seed: Long, spec: CurateSpec): (IndexedSeq[Doc], CurateExpect) = {
    // kinds in generation order; ids are a seeded permutation of 1..N
    sealed trait Kind
    case class Single(boiler: Seq[Int]) extends Kind
    case object Flagged extends Kind
    case class Member(family: Int, j: Int) extends Kind
    val boilerLines = (0 until 12).map(b => prose(mix(seed, 30, b), 10))
    val kinds = mutable.ArrayBuffer.empty[(Kind, String)]
    (0 until spec.singletons).foreach { s =>
      val h = mix(seed, 31, s)
      val nb = if (pick(h, 1000) < (spec.boilerplateShare * 1000).toInt) 1 + pick(mix(h, 1), 2) else 0
      val boiler = (0 until nb).map(k => pick(mix(h, 2 + k), boilerLines.size))
      // 2-4 lines of 16-39 tokens: never below the 30-token verdict
      val lines = (0 until 2 + pick(mix(h, 5), 3)).map(l => prose(mix(h, 10 + l), 16 + pick(mix(h, 20 + l), 24))) ++
        boiler.map(boilerLines)
      kinds += Single(boiler) -> lines.mkString("\n")
    }
    (0 until spec.flagged).foreach { f =>
      val h = mix(seed, 32, f)
      val text = pick(h, 4) match {
        case 0 => prose(mix(h, 1), 10 + pick(mix(h, 2), 15)) // too short
        case 1 => prose(mix(h, 1), 40) + " write to " + word(mix(h, 3), 5) + "." + word(mix(h, 4), 6) + "@example.com"
        case 2 => Seq.fill(25)("buy now").mkString(" ") // repetitive
        case _ => (0 until 45).map(k => vocab(pick(mix(h, 100 + k), vocab.length))).mkString(" ") // no stopwords
      }
      kinds += Flagged -> text
    }
    // small families: one line, members differ only in where a double space
    // falls — distinct lines for line dedup, identical token shingles
    (0 until spec.smallFamilies).foreach { fam =>
      val h = mix(seed, 33, fam)
      val toks = prose(h, 40 + pick(mix(h, 1), 20)).split(" ")
      (0 until 2 + pick(mix(h, 2), 3)).foreach { j =>
        kinds += Member(fam, j) -> (toks.take(j + 1).mkString(" ") + "  " + toks.drop(j + 1).mkString(" "))
      }
    }
    // the hot family: one shared body, each member with its own last token —
    // distinct shingle sets that mostly share every LSH band
    val hotId = spec.smallFamilies
    val body = prose(mix(seed, 34, 0), spec.hotBodyTokens)
    (0 until spec.hotFamily).foreach { j =>
      kinds += Member(hotId, j) -> (body + " " + word(mix(seed, 35, j), 8))
    }
    val n = kinds.size
    val ids = (1 to n).map(_.toLong).sortBy(k => mix(seed, 36, k))
    val strataTable = Strata.flatMap { case (s, w) => Seq.fill(w)(s) }.toArray
    val docs = kinds.indices.map { k =>
      Doc(ids(k), kinds(k)._2, strataTable(pick(mix(seed, 37, ids(k)), strataTable.length)))
    }

    // ---- expected answer, stage by stage ----
    val stage1 = kinds.indices.filter(k => kinds(k)._1 != Flagged).sortBy(k => docs(k).id)
    // corpus-level line dedup: first occurrence by (id, position) wins
    val seen = mutable.HashSet.empty[String]
    val rebuilt = mutable.HashMap.empty[Int, String]
    stage1.foreach { k =>
      val kept = docs(k).text.split(java.util.regex.Pattern.quote("\n"), -1).filter(seen.add)
      rebuilt(k) = kept.mkString("\n")
    }
    // near-dup components: one keeper (min id) per family, singletons keep
    val familyOf = kinds.indices.map(k => docs(k).id -> (kinds(k)._1 match { case Member(f, _) => f; case _ => -1 })).toMap
    val stage1Ids = stage1.map(docs(_).id)
    val familyMin = stage1Ids.filter(familyOf(_) >= 0).groupBy(familyOf).map { case (f, ids) => f -> ids.min }
    val keepers = stage1Ids.filter(id => familyOf(id) < 0 || familyMin(familyOf(id)) == id).toSet
    val members = kinds.count(_._1.isInstanceOf[Member])
    (docs, CurateExpect(
      keepers = keepers,
      stratum = docs.map(d => d.id -> d.stratum).toMap,
      // engine token count: whitespace split of the trimmed rebuilt text
      tokens = stage1.map(k => docs(k).id -> rebuilt(k).trim.split("\\s+").length).toMap,
      hot = stage1Ids.filter(familyOf(_) == hotId).toSet,
      quota = spec.quota,
      budget = spec.budget,
      nearDupShare = members.toDouble / n))
  }
}
