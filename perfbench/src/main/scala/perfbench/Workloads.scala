package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.{ForeignKeyCheck, RowChecks, UniquenessCheck}
import graft.dedup.Dedup
import graft.images.ImageChecks
import graft.report.{ErrorSpec, ValidationReport}
import graft.runner.{ValidationConfig, ValidationRunner}
import graft.schema.{TableSchema, ValidationOptions}
import graft.sources.{TableSource, XlsxSource}
import graft.stats.{ColumnStats, Packing, Sampling}
import graft.text.{CurationPipeline, TextOps}

/** Result of one timed unit of work: its wall time (engine calls only),
  * the input rows it covered, and every way its output disagreed with the
  * answer known from the generator. */
final case class Outcome(nanos: Long, rows: Long, mismatches: Seq[String], detail: Map[String, Double] = Map.empty)

/** A workload: set-up (generation, writes), warm-up, and one timed unit —
  * an upload resource or a bulk pass — in untraced and traced form. The
  * traced form splits the unit into spans around each module's public
  * calls and must produce the same result as the untraced form. */
trait Workload {
  def name: String
  /** generated properties recorded alongside the measurements */
  def properties: Map[String, String]
  /** session-dependent set-up: generate the inputs under `dir` and write them */
  def setup(spark: SparkSession, seed: Long, dir: File): Unit
  /** untimed work run once after set-up, to warm the JIT and caches */
  def warmup(): Unit = warn(run(0))
  /** the timed loop ends only after a whole round of units */
  def round: Int = 1
  /** the k-th untraced unit */
  def run(k: Int): Outcome
  /** the k-th unit under the tracer; the same work as `run(k)` */
  def traced(k: Int, tr: Tracer): Outcome
  /** extra traced probes timing single layers alone (not part of a unit) */
  def hasProbe: Boolean = false
  def probe(tr: Tracer): Unit = ()

  protected def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }
  /** warm-up units are checked too; a mismatch is logged here and counted
    * when the same input fails again in the timed region */
  protected def warn(o: Outcome): Unit =
    o.mismatches.take(5).foreach(m => System.err.println(s"[perfbench] warm-up MISMATCH $name: $m"))
  protected def compareCounts(what: String, got: Map[String, Int], want: Map[String, Int]): Seq[String] =
    (got.keySet ++ want.keySet).toSeq.sorted.flatMap { code =>
      val g = got.getOrElse(code, 0); val w = want.getOrElse(code, 0)
      if (g != w) Some(s"$what: $code got $g, expected $w") else None
    }
}

object Workloads {
  def byName(name: String): Workload = name match {
    case "upload" => new Upload
    case "bulk"   => new Bulk
    case other    => throw new IllegalArgumentException(s"unknown workload '$other' (upload|bulk)")
  }

  def noopSink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  /** report JSON with the wall-clock `time` fields removed */
  def timeless(json: String): String = json.replaceAll("\"time\": [-0-9.eE]+", "\"time\": _")
}

/** Many small dirty resources, one at a time, read → validate → report
  * JSON, through the same public entry points a CKAN upload uses. */
final class Upload extends Workload {
  val name = "upload"
  /** the warm-up runs slots 0-5 (up to 737 rows) of every block, 48 units,
    * from [[warmupClients]] clients */
  private val warmupSlots = 6
  private val warmupClients = 3
  private var spark: SparkSession = _
  private var resources: IndexedSeq[Gen.Resource] = IndexedSeq.empty
  private val lastJson = scala.collection.concurrent.TrieMap.empty[Int, String]

  def properties: Map[String, String] = {
    val sizes = resources.map(_.rows).sorted
    Map(
      "resources" -> resources.size.toString,
      "rows_min" -> sizes.head.toString,
      "rows_median" -> sizes(sizes.size / 2).toString,
      "rows_max" -> sizes.last.toString,
      "xlsx_share" -> f"${resources.count(_.format == "xlsx").toDouble / resources.size}%.3f",
      "violation_share" -> f"${resources.map(_.violationShare).min}%.2f-${resources.map(_.violationShare).max}%.2f",
      "capped_resources" -> resources.count(_.expected.exists { case (c, v) =>
        !Gen.StructuralCodes(c) && v >= Gen.ErrorCap }).toString
    )
  }

  def setup(spark: SparkSession, seed: Long, dir: File): Unit = {
    this.spark = spark
    resources = Gen.upload(seed, dir)
  }

  private def res(k: Int) = resources(k % resources.size)

  override def round: Int = Gen.UploadBlock

  /** JIT warm-up needs the code paths run many times, not the data: a
    * unit's latency keeps falling over its first few dozen runs. The
    * warm-up runs the small slots of every block from several clients at
    * once, in less wall time than one client would take. */
  override def warmup(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(warmupClients)
    try {
      val units = resources.indices.filter(i => i % Gen.UploadBlock < warmupSlots)
      val tasks = units.map(i => pool.submit(new java.util.concurrent.Callable[Outcome] { def call() = run(i) }))
      tasks.foreach(t => warn(t.get()))
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  def run(k: Int): Outcome = {
    val r = res(k)
    val ((report, json), nanos) = timed {
      val schema = TableSchema.parse(r.descriptor.json).fold(e => throw new IllegalStateException(e.message), identity)
      val (rep, _) =
        if (r.format == "csv") ValidationRunner.runCsv(spark, r.path, schema)
        else ValidationRunner.runXlsx(spark, r.path, schema)
      (rep, rep.toJson)
    }
    lastJson(k % resources.size) = Workloads.timeless(json)
    Outcome(nanos, r.rows, verify(r, report, json))
  }

  def traced(k: Int, tr: Tracer): Outcome = {
    val r = res(k)
    val ((report, json), nanos) = timed {
      tr.op("upload") {
        val parsed = tr.span("sources.read") {
          if (r.format == "csv") TableSource.readCsv(spark, r.path) else XlsxSource.readXlsx(spark, r.path)
        }
        val csv = parsed.fold(e => throw new IllegalStateException(e.message), identity)
        val schema = tr.span("schema.parse") {
          TableSchema.parse(r.descriptor.json).fold(e => throw new IllegalStateException(e.message), identity)
        }
        val options = ValidationOptions.default
        val cfg = ValidationConfig(rowNumberCol = "_row_number", source = r.path, headerInRowCount = true,
          options = options)
        tr.span("runner.plan") { ValidationRunner.plan(csv.df, schema, cfg) }
        val (report, _) = tr.span("runner.run") { ValidationRunner.run(csv.df, schema, cfg) }
        // the parser's structural entries merge in as runCsv/runXlsx do
        val structural = csv.structureViolations.filter(v => options.enabled(v.code, ErrorSpec.group(v.code)))
        val t = report.tables.head
        val merged = (structural ++ t.errors).sortBy(v => (v.rowNumber.getOrElse(0L), v.columnNumber.getOrElse(0)))
        val table = t.copy(errors = merged, errorCount = merged.size.toLong, valid = merged.isEmpty)
        val rep = report.copy(valid = table.valid, errorCount = table.errorCount, tables = Seq(table))
        val json = tr.span("report.json") { rep.toJson }
        (rep, json)
      }
    }
    val split = lastJson.get(k % resources.size).filter(_ != Workloads.timeless(json))
      .map(_ => s"${new File(r.path).getName}: split-trace report differs from the untraced report").toSeq
    Outcome(nanos, r.rows, verify(r, report, json) ++ split,
      Map("report.bytes" -> json.length.toDouble, "report.errors" -> report.errorCount.toDouble,
        "sources.rows" -> r.rows.toDouble))
  }

  private def verify(r: Gen.Resource, report: ValidationReport, json: String): Seq[String] = {
    val name = new File(r.path).getName
    val got = report.tables.flatMap(_.errors).groupBy(_.code).map { case (c, v) => c -> v.size }
    val shape =
      if (report.tableCount != 1) Seq(s"$name: ${report.tableCount} tables, warnings ${report.warnings}")
      else if (report.tables.head.rowCount != r.rows + 1) Seq(s"$name: row-count ${report.tables.head.rowCount}, expected ${r.rows + 1}")
      else if (!json.contains(s""""error-count": ${report.errorCount}, "table-count": 1""")) Seq(s"$name: JSON lacks its error-count")
      else Nil
    val diff = compareCounts(name, got, r.expected)
    val example = diff.headOption.flatMap { _ =>
      report.tables.flatMap(_.errors).find(v => got.getOrElse(v.code, 0) != r.expected.getOrElse(v.code, 0))
        .map(v => s"$name: e.g. ${v.message} row ${v.row.mkString("|")}")
    }
    shape ++ diff ++ example
  }
}

/** The stored image+caption data a pipeline validates in bulk, as two
  * tables: a large metadata table through ValidationRunner.run with the
  * full FIXTURES descriptor and then ColumnStats.profile, and a smaller
  * table with the encoded image bytes through the per-row decode checks
  * (ImageChecks.violations) plus image_id uniqueness. */
final class Scan extends Workload {
  val name = "scan"
  val rows = 100000L
  val imageRows = 4000L
  private val dataCols = Seq("image_id", "w", "h", "fmt", "caption", "phash")
  private lazy val schema = TableSchema.parse(Gen.ScanDescriptor).toOption.get
  private var spark: SparkSession = _
  private var dimPath: String = _
  private var path: String = _
  private var imagePath: String = _
  private var expect: Gen.ScanExpect = _
  private var imageExpect: Gen.ImageExpect = _
  private def table: DataFrame = spark.read.parquet(path)
  private def images: DataFrame = spark.read.parquet(imagePath)

  def properties: Map[String, String] = Map(
    "rows" -> rows.toString,
    "violation_share" -> f"${Gen.ScanViolationPerMille / 1000.0}%.3f",
    "defect_mix" -> Gen.ScanKinds.map { case (k, w) => s"$k:$w" }.mkString(" "),
    "capped_codes" -> expect.codes.count(_._2 >= Gen.ErrorCap).toString,
    "image_rows" -> imageRows.toString,
    "image_violation_share" -> f"${Gen.ImageViolationPerMille / 1000.0}%.3f",
    "image_defect_mix" -> Gen.ImageKinds.map { case (k, w) => s"$k:$w" }.mkString(" ")
  )

  def setup(spark: SparkSession, seed: Long, dir: File): Unit = {
    this.spark = spark
    import spark.implicits._
    dimPath = new File(dir, "formats_dim").getAbsolutePath
    Seq("png", "jpeg").toDF("fmt").write.mode("overwrite").parquet(dimPath)
    path = new File(dir, "images_meta").getAbsolutePath
    spark.range(0, rows, 1, 8).as[Long].map(i => Gen.scanRow(seed, i)).write.mode("overwrite").parquet(path)
    imagePath = new File(dir, "images").getAbsolutePath
    spark.range(0, imageRows, 1, 8).as[Long].map(i => Gen.imageRow(seed, i)).write.mode("overwrite").parquet(imagePath)
    expect = Gen.scanExpect(seed, rows)
    imageExpect = Gen.imageExpect(seed, imageRows)
  }

  private def cfg = ValidationConfig(rowNumberCol = "rn", source = "images_meta",
    dims = Map("formats_dim" -> spark.read.parquet(dimPath)))
  private type Rows = Array[org.apache.spark.sql.Row]

  def run(k: Int): Outcome = {
    val ((report, profile, viols, dups), nanos) = timed {
      val df = table
      val (report, _) = ValidationRunner.run(df, schema, cfg)
      val profile = ColumnStats.profile(df, dataCols).collect()
      val img = images
      (report, profile, ImageChecks.violations(img, col("row_id")).collect(),
        UniquenessCheck.violations(img, dataCols, Seq("image_id"), col("row_id"), 1).collect())
    }
    Outcome(nanos, rows + imageRows, verify(report, profile) ++ verifyImages(viols, dups))
  }

  def traced(k: Int, tr: Tracer): Outcome = {
    val ((report, profile, viols, dups), nanos) = timed {
      val df = table
      val (report, _) = tr.span("runner.run") { ValidationRunner.run(df, schema, cfg) }
      val profile = tr.span("stats.profile") { ColumnStats.profile(df, dataCols).collect() }
      val img = images
      (report, profile,
        tr.span("images.check") { ImageChecks.violations(img, col("row_id")).collect() },
        tr.span("images.unique") { UniquenessCheck.violations(img, dataCols, Seq("image_id"), col("row_id"), 1).collect() })
    }
    Outcome(nanos, rows + imageRows, verify(report, profile) ++ verifyImages(viols, dups),
      Map("images.violations" -> (viols.length + dups.length).toDouble))
  }

  /** each check family alone over the metadata table (uncapped), and the
    * image decode and caption checks alone over the image table */
  override def hasProbe = true
  override def probe(tr: Tracer): Unit = {
    val mismatches = tr.op("scan.layers") {
      val df = table
      val rn = col("rn")
      val payload = df.select(dataCols.map(col): _*).schema
      val row = tr.span("checks.row") {
        RowChecks.violations(df, RowChecks.compile(schema, payload, rn), rn).collect()
      }
      val unique = tr.span("checks.unique") {
        UniquenessCheck.violations(df, dataCols, Seq("image_id"), rn, 1).collect().length +
          UniquenessCheck.violations(df, dataCols, Seq("phash"), rn, 6).collect().length
      }
      val fk = tr.span("checks.fk") {
        ForeignKeyCheck.violations(df, dataCols, "fmt", 4, rn, spark.read.parquet(dimPath), "fmt",
          resourceId = "formats_dim").collect().length
      }
      val img = images
      tr.span("images.decode") { Workloads.noopSink(ImageChecks.withDecoded(img)) }
      val captions = tr.span("images.caption") { ImageChecks.captionViolations(img, col("row_id")).collect().length }
      val raw = expect.raw
      val ie = imageExpect.codes
      compareCounts("row checks alone", row.groupBy(_.getString(0)).map { case (c, v) => c -> v.length },
        raw - "unique-constraint" - "foreign-key") ++
        compareCounts("checks alone", Map("unique-constraint" -> unique, "foreign-key" -> fk),
          raw.filter { case (c, _) => c == "unique-constraint" || c == "foreign-key" }) ++
        compareCounts("caption checks alone", Map("caption" -> captions),
          Map("caption" -> (ie.getOrElse("required-constraint", 0) + ie.getOrElse("custom-constraint", 0))))
    }
    if (mismatches.nonEmpty) throw new IllegalStateException(mismatches.mkString("; "))
  }

  private def verify(report: ValidationReport, profile: Rows): Seq[String] = {
    val t = report.tables.head
    val got = t.errors.groupBy(_.code).map { case (c, v) => c -> v.size }
    val rowsOk = if (t.rowCount != rows) Seq(s"row-count ${t.rowCount}, expected ${rows}") else Nil
    val prof = profile.map(r => r.getString(0) -> r).toMap
    def num(c: String, f: String) = prof(c).getAs[Any](f)
    val profOk = Seq(
      ("caption nulls", num("caption", "nulls"), expect.captionNulls),
      ("caption count", num("caption", "cnt"), rows - expect.captionNulls),
      ("w min", num("w", "vmin"), expect.wMin.toDouble),
      ("w max", num("w", "vmax"), expect.wMax.toDouble),
      ("h min", num("h", "vmin"), expect.hMin.toDouble),
      ("h max", num("h", "vmax"), expect.hMax.toDouble)
    ).collect { case (what, g, w) if g != w => s"profile $what: got $g, expected $w" }
    // approx_count_distinct (HLL++, default 5% relative standard deviation)
    val d = prof("image_id").getAs[Long]("dcount")
    val dOk = if (math.abs(d - expect.distinctIds) > 0.1 * expect.distinctIds) Seq(s"profile image_id dcount $d, expected ~${expect.distinctIds}") else Nil
    rowsOk ++ compareCounts("report", got, expect.codes) ++ profOk ++ dOk
  }

  private def verifyImages(viols: Rows, dups: Rows): Seq[String] =
    compareCounts("image checks", viols.groupBy(_.getString(0)).map { case (c, v) => c -> v.length }, imageExpect.codes) ++
      (if (dups.length != imageExpect.uniqueViolations)
         Seq(s"image_id uniqueness: got ${dups.length}, expected ${imageExpect.uniqueViolations}")
       else Nil)
}

/** The curation chain over a seeded corpus with planted near-duplicate
  * families, boilerplate and quality failures. */
final class Curate extends Workload {
  val name = "curate"
  private val spec = Gen.CurateSpec(singletons = 2000, flagged = 300, smallFamilies = 150,
    hotFamily = 1150, hotBodyTokens = 100, boilerplateShare = 0.3, quota = 800, budget = 4096L)
  private var spark: SparkSession = _
  private var path: String = _
  private var docs = 0L
  private var expect: Gen.CurateExpect = _

  private val truncate: DataFrame => DataFrame = _.localCheckpoint(true)

  /** share of the hot family that may stay unmerged (the engine's
    * documented hot-bucket recall trade); every other doc is exact */
  private val hotTolerance = 0.01
  private val lastBins = mutable.Map.empty[Int, Map[Long, Long]]

  def properties: Map[String, String] = Map(
    "docs" -> docs.toString,
    "near_dup_share" -> f"${expect.nearDupShare}%.3f",
    "largest_family" -> spec.hotFamily.toString,
    "hot_body_tokens" -> spec.hotBodyTokens.toString,
    "small_families" -> spec.smallFamilies.toString,
    "flagged_docs" -> spec.flagged.toString,
    "boilerplate_share" -> f"${spec.boilerplateShare}%.2f",
    "strata" -> Gen.Strata.map { case (s, w) => s"$s:$w" }.mkString(" "),
    "quota" -> spec.quota.toString,
    "survivors" -> expect.bins.size.toString,
    "bins" -> expect.bins.values.toSet.size.toString
  )

  def setup(spark: SparkSession, seed: Long, dir: File): Unit = {
    this.spark = spark
    import spark.implicits._
    val (corpus, ex) = Gen.curate(seed, spec)
    expect = ex
    docs = corpus.size
    path = new File(dir, "corpus").getAbsolutePath
    corpus.toDF().repartition(8).write.mode("overwrite").parquet(path)
  }

  private def corpus: DataFrame = spark.read.parquet(path)

  private def pipeline(df: DataFrame) =
    CurationPipeline.run(df, col("text"), col("id"), col("stratum"), spec.quota, spec.budget,
      truncate = truncate).collect()

  /** the pipeline over every doc but the hot family: every stage and query
    * shape of a unit except the hot-bucket branch, at a fraction of its
    * cost. Unchecked: the generator's answer covers the whole corpus. */
  override def warmup(): Unit = pipeline(corpus.filter(!col("id").isin(expect.hot.toSeq: _*)))

  def run(k: Int): Outcome = {
    val (bins, nanos) = timed { pipeline(corpus) }
    val got = bins.map(r => r.getLong(0) -> r.getLong(1)).toMap
    lastBins(k) = got
    Outcome(nanos, docs, verify(got))
  }

  /** CurationPipeline.survivors + run, call by call, each stage forced
    * inside its span (the pair and quota frames gain a cut the untraced
    * chain does not make, so their work lands in their own spans) */
  def traced(k: Int, tr: Tracer): Outcome = {
    var pairCount = 0L
    var components = 0L
    val (bins, nanos) = timed {
      val stage0 = truncate(corpus.select(col("id").cast("long").as("id"), col("text").as("text"), col("stratum").as("_st")))
      val stage1 = tr.span("text.verdicts") {
        val flagged = TextOps.curationVerdicts(stage0, col("text"), col("id"), 30, 10000).select(col("doc_id").as("id"))
        truncate(stage0.join(flagged, Seq("id"), "left_anti"))
      }
      val stage2 = tr.span("dedup.lines") {
        truncate(Dedup.dedupLines(stage1, col("text"), col("id")).join(stage1.select(col("id"), col("_st")), Seq("id")))
      }
      val pairs = tr.span("dedup.minhash") {
        truncate(Dedup.minHashPairs(stage2, col("text"), col("id"), bands = 4, threshold = 0.5, truncate = truncate))
      }
      pairCount = pairs.count()
      val stage3 = tr.span("dedup.components") {
        val keepers = Dedup.components(stage2, col("id"), pairs, col("id_a"), col("id_b"), truncate = truncate)
          .filter(col("id") === col("comp")).select(col("id"))
        truncate(stage2.join(keepers, Seq("id"), "left_semi"))
      }
      components = stage3.count()
      val sampled = tr.span("stats.quota") {
        truncate(Sampling.quotaSample(stage3, col("_st"), pmod(col("id") * lit(2654435761L), lit(4294967296L)),
          col("id"), spec.quota))
      }
      tr.span("stats.packing") {
        Packing.assignBins(sampled, col("id"), col("id"), TextOps.tokenCount(col("text")), spec.budget).collect()
      }
    }
    val got = bins.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val extra = components - expect.components
    val compOk =
      if (extra < 0 || extra > maxExtra) Seq(s"components: got $components, expected ${expect.components} (+ at most $maxExtra hot)")
      else Nil
    val split = lastBins.get(k).filter(_ != got).map(_ => "split-trace (id, bin) differs from the untraced run").toSeq
    Outcome(nanos, docs, verify(got) ++ compOk ++ split,
      Map("dedup.pairs" -> pairCount.toDouble, "dedup.components" -> components.toDouble))
  }

  private def maxExtra: Int = (expect.hot.size * hotTolerance).toInt

  private def verify(got: Map[Long, Long]): Seq[String] = {
    val extra = got.keySet -- expect.keepers
    val stray = extra -- expect.hot
    if (stray.nonEmpty) Seq(s"${stray.size} survivors are neither planted keepers nor hot-family members, e.g. ${stray.take(3)}")
    else if (extra.size > maxExtra) Seq(s"${extra.size} extra hot-family members survived near-dup removal, at most $maxExtra allowed")
    else {
      val want = expect.binsWith(extra)
      val survivors = if (got.size != want.size) Seq(s"survivors: got ${got.size}, expected ${want.size}") else Nil
      val binCount = got.values.toSet.size
      val binsOk = if (binCount != want.values.toSet.size) Seq(s"bins: got $binCount, expected ${want.values.toSet.size}") else Nil
      val exact = if (survivors.isEmpty && binsOk.isEmpty && got != want)
        Seq(s"(id, bin) assignment differs, e.g. ${(got.toSet diff want.toSet).take(3)}")
      else Nil
      survivors ++ binsOk ++ exact
    }
  }
}

/** The pipeline user's workload: one unit is a [[Scan]] pass followed by a
  * [[Curate]] pass, so rows_per_s counts the metadata rows, image rows and
  * corpus docs of one unit over its time. The two share a workload (and so
  * one JVM start, set-up and warm-up per run) because each run pays about
  * 30 s of fixed start-up and JIT warm-up, and the whole benchmark must fit
  * its time budget. */
final class Bulk extends Workload {
  val name = "bulk"
  private val scan = new Scan
  private val curate = new Curate

  def properties: Map[String, String] =
    scan.properties.map { case (k, v) => s"scan.$k" -> v } ++ curate.properties.map { case (k, v) => s"curate.$k" -> v }

  def setup(spark: SparkSession, seed: Long, dir: File): Unit = {
    scan.setup(spark, seed, dir)
    curate.setup(spark, seed, dir)
  }

  private def both(a: Outcome, b: Outcome): Outcome =
    Outcome(a.nanos + b.nanos, a.rows + b.rows, a.mismatches ++ b.mismatches, a.detail ++ b.detail)

  /** the scan pass, and the curate pass without its hot family: a full
    * unit's warm-up would cost more than the measured unit itself */
  override def warmup(): Unit = { warn(scan.run(0)); curate.warmup() }
  def run(k: Int): Outcome = both(scan.run(k), curate.run(k))
  def traced(k: Int, tr: Tracer): Outcome = tr.op(name) { both(scan.traced(k, tr), curate.traced(k, tr)) }
  override def hasProbe = true
  override def probe(tr: Tracer): Unit = scan.probe(tr)
}
