package graft.images

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic image+caption table matching the target input
  * shape: (image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
  * caption:string, phash:int64) — see BASELINE.json input_hint. Generated
  * distributed (spark.range → mapPartitions), seeded purely by row id, so any
  * scale reproduces byte-identically with no external data.
  *
  * ~1% of rows (id % 100 == 7) carry an injected violation, cycling through:
  * wrong declared width / height / fmt label, truncated (undecodable) bytes,
  * empty caption, mutated caption, duplicated image_id — exercising every
  * image check plus uniqueness.
  */
object SyntheticImages {

  // memory-cached ImageIO streams: the default disk-backed cache creates a
  // temp file per encode and serialises all threads on filesystem calls
  ImageIO.setUseCache(false)

  val Formats: Seq[String] = Seq("png", "jpeg")

  /** Smooth deterministic RGB gradient — smooth so that JPEG round-trips at
    * PSNR well above the 40 dB invariant. */
  def renderPattern(id: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val o1 = (id * 37 % 251).toInt
    val o2 = (id * 101 % 241).toInt
    // triangle wave: continuous (no modulo wrap discontinuity), so JPEG
    // round-trips comfortably above the 40 dB PSNR invariant
    def tri(v: Int): Int = { val m = v % 510; if (m < 255) m else 510 - m }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = tri(o1 + x * 255 / w)
        val g = tri(o2 + y * 255 / h)
        val b = tri(o1 + o2 + (x + y) * 127 / (w + h))
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    if (fmt == "jpeg") {
      // explicit high quality keeps the PSNR≥40dB invariant comfortably
      val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.92f)
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      ios.close(); writer.dispose()
    } else {
      ImageIO.write(img, fmt, bos)
    }
    bos.toByteArray
  }

  /** 64-bit average hash (aHash): 8×8 grayscale downsample, bit i set when
    * block mean > global mean. Standard public perceptual-hash construction. */
  def averageHash(img: BufferedImage): Long = {
    val gray = new Array[Double](64)
    val bw = math.max(img.getWidth / 8, 1)
    val bh = math.max(img.getHeight / 8, 1)
    var i = 0
    while (i < 64) {
      val bx = (i % 8) * bw
      val by = (i / 8) * bh
      var sum = 0.0; var n = 0
      var y = by
      while (y < math.min(by + bh, img.getHeight)) {
        var x = bx
        while (x < math.min(bx + bw, img.getWidth)) {
          val rgb = img.getRGB(x, y)
          sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          n += 1
          x += 1
        }
        y += 1
      }
      gray(i) = if (n > 0) sum / n else 0.0
      i += 1
    }
    val mean = gray.sum / 64
    var hash = 0L
    i = 0
    while (i < 64) { if (gray(i) > mean) hash |= (1L << i); i += 1 }
    hash
  }

  def caption(id: Long): String = {
    val subjects = Seq("gradient", "pattern", "texture", "field", "grid")
    val colors = Seq("amber", "teal", "crimson", "violet", "olive")
    s"synthetic ${colors((id % 5).toInt)} ${subjects((id % 7 % 5).toInt)} image number $id"
  }

  /** Peak signal-to-noise ratio between two images (dB). */
  def psnr(a: BufferedImage, b: BufferedImage): Double = {
    require(a.getWidth == b.getWidth && a.getHeight == b.getHeight, "dim mismatch")
    var se = 0.0
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        val dr = ((pa >> 16) & 0xff) - ((pb >> 16) & 0xff)
        val dg = ((pa >> 8) & 0xff) - ((pb >> 8) & 0xff)
        val db = (pa & 0xff) - (pb & 0xff)
        se += dr * dr + dg * dg + db * db
        x += 1
      }
      y += 1
    }
    val mse = se / (3.0 * a.getWidth * a.getHeight)
    if (mse == 0) Double.PositiveInfinity else 10 * math.log10(255.0 * 255.0 / mse)
  }

  final case class ImageRow(
      image_id: String,
      bytes: Array[Byte],
      w: Int,
      h: Int,
      fmt: String,
      caption: String,
      phash: Long
  )

  def row(id: Long): ImageRow = {
    val w = 24 + (id % 5).toInt * 8
    val h = 24 + (id % 3).toInt * 8
    val fmt = Formats((id % 2).toInt)
    val img = renderPattern(id, w, h)
    val bytes = encode(img, fmt)
    val ph = averageHash(img)
    val base = ImageRow(f"img_$id%012d", bytes, w, h, fmt, caption(id), ph)
    if (id % 100 != 7) base
    else
      (id / 100 % 7) match {
        case 0 => base.copy(w = w + 3) // declared width wrong
        case 1 => base.copy(h = h + 2) // declared height wrong
        case 2 => base.copy(fmt = if (fmt == "png") "jpeg" else "png") // fmt label wrong
        case 3 => // truncated (undecodable) payload
          base.copy(bytes = bytes.take(math.max(bytes.length / 4, 8)))
        case 4 => base.copy(caption = "") // empty caption (required violation)
        case 5 => base.copy(caption = caption(id) + " CORRUPTED") // caption mismatch
        case _ => base.copy(image_id = f"img_${math.max(id - 100, 0)}%012d") // duplicate id
      }
  }

  /** Distributed deterministic generation; `parallelism` controls source
    * partitions (defaults to the session's shuffle partition count). */
  def generate(spark: SparkSession, n: Long, parallelism: Int = 0): DataFrame =
    generateWithId(spark, n, parallelism).drop("row_id")

  /** Materialize the deterministic table ONCE to a parquet cache and return
    * the path (idempotent: keyed by n; `_SUCCESS` marks a complete write).
    * This is what a real deployment looks like — the table is STORED, checks
    * read it with column pruning (a metadata-only check never deserialises
    * `bytes`), and the DuckDB oracle can query the very same files. */
  def materialized(spark: SparkSession, n: Long, cacheDir: String = "target/imgcache"): String = {
    val path = new java.io.File(s"$cacheDir/images_$n").getAbsolutePath
    if (!new java.io.File(s"$path/_SUCCESS").exists())
      generateWithId(spark, n).write.mode("overwrite").parquet(path)
    path
  }

  /** Like [[generate]] but with a leading `row_id` column (1-based generation
    * index) — a stable per-row identity that survives the injected
    * duplicate-image_id violations (needed as the uniqueness check's row
    * number). */
  def generateWithId(spark: SparkSession, n: Long, parallelism: Int = 0): DataFrame = {
    import spark.implicits._
    val p = if (parallelism > 0) parallelism else spark.sessionState.conf.numShufflePartitions
    spark
      .range(0, n, 1, p)
      .map { id =>
        val r = row(id)
        (id + 1, r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash)
      }
      .toDF("row_id", "image_id", "bytes", "w", "h", "fmt", "caption", "phash")
  }
}
