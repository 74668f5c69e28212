package graft.runner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.checks.{ForeignKeyCheck, HeaderChecks, RowChecks, UniquenessCheck}
import graft.report.{ErrorSpec, TableReport, ValidationReport, Violation, RunStatus}
import graft.schema._
import graft.sources.TableSource

/** End-to-end validation lifecycle over one table — the Spark-native
  * re-imagining of the reference's job pipeline (reference: jobs.py:53-222:
  * prepare → execute → post-process → commit).
  *
  * Execution shape (designed for the 1000-executor / 100 TB case):
  *  - header checks: driver-side metadata diffs, zero jobs;
  *  - every row-scoped check: ONE projection over ONE scan (whole-stage
  *    codegen), producing a violations frame via array+filter+explode;
  *  - uniqueness / duplicate-row: partial-agg shuffle of an 8-byte hash, the
  *    candidate hashes broadcast back, one exact window over the candidates
  *    — skew-robust, see [[UniquenessCheck]];
  *  - foreign keys: left anti joins, broadcast for small dims;
  *  - the violations of all checks are unioned lazily — nothing materialises
  *    until the caller aggregates or collects, so Catalyst can share the scan.
  *
  * A small driver-parsed resource (an upload) is one partition
  * (`TableSource.localFrame`): every check then runs without an exchange,
  * uniqueness skips its hash prefilter, and `run` (row checks, exact
  * windows and the per-code cap) is one Spark job in one task.
  *
  * A driver-local input (a `LocalRelation`, bare or under that
  * `Repartition(1)`, with no dimension frames) is planned once per
  * descriptor: [[PlanCache]] keeps its analyzed plans without the rows, and
  * the next resource with the same descriptor, config, frame schema,
  * partition shape, session and SQL confs puts its rows into every leaf of
  * them instead of building and analyzing the plan again. Its row count is
  * the relation's, which the driver holds, so `run` needs no row-count
  * `Observation` and no count job, with or without a `rowLimit`.
  *
  * Row numbers: the engine needs a stable 1-based row identity for report
  * parity (reference rows are file-ordered, header = row 1). The caller
  * supplies `rowNumberCol`; for headered fixture parity use values starting
  * at 2. At 10^12-row scale the identity column is a table column
  * (e.g. rank by image_id), never `monotonically_increasing_id`.
  */
final case class ValidationConfig(
    rowNumberCol: String,
    /** source label used in the report (reference hides local paths,
      * jobs.py:155-160) */
    source: String = "table",
    /** header row present in original source ⇒ rowCount includes it */
    headerInRowCount: Boolean = false,
    options: ValidationOptions = ValidationOptions.default,
    /** dimension tables for TableRef foreign keys, keyed by table name */
    dims: Map[String, DataFrame] = Map.empty,
    /** force-broadcast FK dimensions (reference's ≤3000-value cache) */
    broadcastDims: Boolean = false,
    /** stable partition-id column carried into every violation row (for
      * per-partition lineage/checkpointing — see Lineage) */
    partitionIdCol: Option[String] = None,
    /** >0 ⇒ two-phase salted uniqueness aggregations for extreme key skew
      * (phash clusters) — see checks.Skew */
    uniquenessSalts: Int = 0
)

final case class ValidationResult(
    /** lazy union of every check's violations:
      * (code, row_number, column_number, message, row) */
    violations: DataFrame,
    headerViolations: Seq[Violation],
    headers: Seq[String],
    /** true when a row-count Observation rides the row-checks scan — the
      * count arrives with the violations action, no second pass (run()) */
    observedRows: Boolean = false
)

object ValidationRunner {

  /** NA ingestion (jobs.py:132-133, 437-438): replace the naValue token with
    * null in every column. */
  def replaceNa(df: DataFrame, naValue: Option[String]): DataFrame = naValue match {
    case None => df
    case Some(na) =>
      df.select(df.columns.map { c =>
        val sc = col(c)
        when(sc.cast(StringType) === lit(na), lit(null)).otherwise(sc).as(c)
      }.toIndexedSeq: _*)
  }

  /** Build the full lazy validation plan. Does not trigger any job.
    *
    * A driver-local input without an Observation reuses the cached plan of
    * an earlier resource of the same shape, its rows rebound ([[PlanCache]]);
    * a miss builds the plan and caches it.
    *
    * @param rowCountObs when set (and row checks are active), an Observation
    *   counting the scanned rows is attached BETWEEN the scan and the
    *   violation filter — the optimizer does not push predicates through
    *   CollectMetrics, so the count sees every row and arrives with the same
    *   job that computes the violations (no second pass over 100 TB). Such
    *   a plan is always built fresh: an Observation is per-run state. */
  def plan(
      df0: DataFrame,
      schema: TableSchema,
      cfg: ValidationConfig,
      rowCountObs: Option[org.apache.spark.sql.Observation] = None
  ): ValidationResult = cached(df0, schema, cfg, rowCountObs).fold(build(df0, schema, cfg, rowCountObs))(_._1)

  /** The plan of a driver-local input without an Observation, and the
    * capped violations that `run` collects: its rows rebound into the cached
    * plan of its key, or on a miss a new plan, kept for the next resource.
    * None for any other input, which `build` plans. */
  private def cached(
      df: DataFrame,
      schema: TableSchema,
      cfg: ValidationConfig,
      rowCountObs: Option[org.apache.spark.sql.Observation]
  ): Option[(ValidationResult, DataFrame)] =
    for {
      in <- if (rowCountObs.isEmpty) TableSource.local(df) else None
      k  <- PlanCache.key(df, in, schema, cfg)
    } yield PlanCache.get(k) match {
      case Some(t) =>
        val (violations, capped) = t.frames(df.sparkSession, in)
        (ValidationResult(violations, t.headerViolations, t.headers, observedRows = false), capped)
      case None =>
        val r = build(df, schema, cfg, None)
        val capped = cap(r.violations, cfg)
        PlanCache.template(in, r.violations, capped, r.headerViolations, r.headers).foreach(PlanCache.put(k, _))
        (r, capped)
    }

  private def build(
      df0: DataFrame,
      schema: TableSchema,
      cfg: ValidationConfig,
      rowCountObs: Option[org.apache.spark.sql.Observation]
  ): ValidationResult = {
    val opts = cfg.options
    // row limit (goodtables row_limit; warning handled in report())
    val limited = cfg.options.rowLimit.fold(df0)(n => df0.limit(n.toInt))
    val df = replaceNa(limited, schema.naValue)
    val dataCols =
      df.columns.toSeq.filterNot(c => c == cfg.rowNumberCol || cfg.partitionIdCol.contains(c))
    val rowNum: Column = col(cfg.rowNumberCol)
    val pidCol: Option[Column] = cfg.partitionIdCol.map(col)
    val payloadSchema =
      org.apache.spark.sql.types.StructType(dataCols.map(c => df.schema(c)))

    // 1. header checks (driver-side)
    val headerViols = HeaderChecks.violations(dataCols, schema, opts)

    // 2. single-pass row checks, with the full source row carried as payload
    val compiled = RowChecks.compile(schema, payloadSchema, rowNum, opts)
    val observe = rowCountObs.filter(_ => compiled.nonEmpty)
    val dfChecked = observe.fold(df)(o => df.observe(o, count(lit(1)).as("_rows")))
    val entriesDf = violationsWithPayload(dfChecked, dataCols, compiled, rowNum, pidCol)

    var parts = Seq(entriesDf)

    // 3. uniqueness: single-column unique constraints
    if (opts.enabled("unique-constraint", "schema")) {
      schema.fields.zipWithIndex.foreach { case (f, _) =>
        val cn = dataCols.indexOf(f.name) + 1
        // skip the single-column check only when the field IS the sole PK
        // (identical tuple); a member of a COMPOSITE key still gets its own
        // per-column cache in the reference (custom_checks.py:148-174)
        if (f.constraints.unique && cn > 0 && schema.primaryKey != Seq(f.name))
          parts :+= UniquenessCheck.violations(
            dropRowNum(df, dataCols, cfg), dataCols, Seq(f.name), rowNum, cn,
            partitionId = pidCol, salts = cfg.uniquenessSalts
          )
      }
      // composite / single primary key
      if (schema.primaryKey.nonEmpty && schema.primaryKey.forall(dataCols.contains)) {
        val cn = dataCols.indexOf(schema.primaryKey.head) + 1
        parts :+= UniquenessCheck.violations(
          dropRowNum(df, dataCols, cfg),
          dataCols,
          schema.primaryKey,
          rowNum,
          cn,
          primaryKeyFields = if (schema.primaryKey.size > 1) schema.primaryKey else Nil,
          partitionId = pidCol,
          salts = cfg.uniquenessSalts
        )
      }
    }

    // 4. duplicate-row — opt-in by explicit code: full-row dedup at 10^12
    // rows is a deliberate choice, so "structure" alone does not enable it
    if (opts.checks.contains("duplicate-row") && !opts.skipChecks.contains("duplicate-row"))
      parts :+= UniquenessCheck.duplicateRows(dropRowNum(df, dataCols, cfg), dataCols, rowNum, partitionId = pidCol)

    // 5. foreign keys (TableRef → anti join; NotFound → single violation)
    if (opts.enabled("foreign-key", "schema"))
      schema.fields.foreach { f =>
        val cn = dataCols.indexOf(f.name) + 1
        if (cn > 0) f.foreignKey match {
          case Some(TableRef(table, refField)) =>
            cfg.dims.get(table) match {
              case Some(dim) =>
                parts :+= ForeignKeyCheck.violations(
                  dropRowNum(df, dataCols, cfg), dataCols, f.name, cn, rowNum, dim,
                  refField, resourceId = table, broadcastDim = cfg.broadcastDims,
                  partitionId = pidCol
                )
              case None =>
                parts :+= ForeignKeyCheck.missingReference(dropRowNum(df, dataCols, cfg), dataCols, cn, rowNum, partitionId = pidCol)
            }
          case Some(NotFoundRef) =>
            parts :+= ForeignKeyCheck.missingReference(dropRowNum(df, dataCols, cfg), dataCols, cn, rowNum, partitionId = pidCol)
          case _ => () // InlineValues handled in RowChecks; None = no FK
        }
      }

    ValidationResult(parts.reduce(_ unionAll _), headerViols, dataCols, observedRows = observe.isDefined)
  }

  /** per-code cap (bounded by default — see ValidationOptions): the window
    * shuffles only VIOLATIONS, never source rows */
  private def cap(violations: DataFrame, cfg: ValidationConfig): DataFrame = cfg.options.errorLimitPerCode match {
    case Some(n) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("code")).orderBy(col("row_number").asc_nulls_first)
      violations
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= n)
        .drop("_rk")
    case None => violations
  }

  /** keep payload columns + row number available to shuffle checks, with the
    * row-number column positioned last so rowPayload(dataCols) excludes it */
  private def dropRowNum(df: DataFrame, dataCols: Seq[String], cfg: ValidationConfig): DataFrame =
    df.select((dataCols ++ Seq(cfg.rowNumberCol) ++ cfg.partitionIdCol.toSeq).map(col): _*)

  private def violationsWithPayload(
      df: DataFrame,
      dataCols: Seq[String],
      compiled: Seq[graft.checks.CompiledCheck],
      rowNum: Column,
      pidCol: Option[Column],
      passthrough: Seq[String] = Nil
  ): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val vSchema = StructType(
      Seq(
        StructField("code", StringType),
        StructField("row_number", LongType),
        StructField("column_number", IntegerType),
        StructField("message", StringType),
        StructField("row", ArrayType(StringType)),
        StructField("partition_id", IntegerType)
      )
    )
    if (compiled.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], vSchema)
    val entries = compiled.map { ck =>
      when(
        ck.cond,
        struct(
          lit(ck.code).as("code"),
          rowNum.cast(LongType).as("row_number"),
          ck.columnNumber.map(n => lit(n)).getOrElse(lit(null)).cast(IntegerType).as("column_number"),
          ck.message.as("message")
        )
      )
    }
    // HOT-PATH DESIGN: every expression here must stay inside whole-stage
    // codegen. The scan-side filter is a plain boolean OR of all check
    // conditions; the k-entry violation array is exploded DIRECTLY
    // (CreateArray/CaseWhen/Generate are all codegen'd) and the per-entry
    // nulls are dropped AFTER the Generate. The earlier shape —
    // functions.filter(array(...)) + size(...) > 0 — used the higher-order
    // ArrayFilter, which is CodegenFallback (interpreted), and predicate
    // pushdown merged the size(...) > 0 test into the scan filter, so the
    // interpreted array assembly ran 2× in the scan filter plus 1× in the
    // projection for every violating row (visible in the r6-before plans).
    // Exploding nulls costs k generated rows per VIOLATING row only (the
    // OR pre-filter still drops clean rows first), and `anyViolation` true
    // guarantees ≥1 non-null entry, so no row is lost.
    // (r3 measured the OR gate: 775k rows/s -> multi-M rows/s at 20M rows)
    val anyViolation = compiled.map(ck => coalesce(ck.cond, lit(false))).reduce(_ || _)
    val extra = passthrough.map(col) // typed columns carried verbatim
    df.filter(anyViolation)
      .select(Seq(
        explode(array(entries: _*)).as("_v"),
        RowChecks.rowPayload(dataCols).as("row"),
        pidCol.getOrElse(lit(null)).cast(IntegerType).as("partition_id")
      ) ++ extra: _*)
      .filter(col("_v").isNotNull)
      .select(Seq(
        col("_v.code"),
        col("_v.row_number"),
        col("_v.column_number"),
        col("_v.message"),
        col("row"),
        col("partition_id")
      ) ++ extra: _*)
  }

  /** Execute the plan and assemble the reference-shaped report (driver-side
    * post-processing per jobs.py:155-200: misleading-uniqueness filter, error
    * caps, row/header injection, status assignment). */
  def run(df: DataFrame, schema: TableSchema, cfg: ValidationConfig): (ValidationReport, String) = {
    val t0 = System.nanoTime()
    // a driver-local input's row count is its relation's. Otherwise the
    // count rides the violations job as an Observation (one pass); the
    // rowLimit debug path still needs the RAW count for its warning, so only
    // that path pays a separate (metadata-cheap on parquet) count.
    val local = TableSource.local(df)
    val obs = org.apache.spark.sql.Observation()
    val rowCountObs = if (local.isEmpty && cfg.options.rowLimit.isEmpty) Some(obs) else None
    val (result, capped) = cached(df, schema, cfg, rowCountObs).getOrElse {
      val r = build(df, schema, cfg, rowCountObs)
      (r, cap(r.violations, cfg))
    }

    import org.apache.spark.sql.Row
    val collected: Seq[Violation] = {
      // NOTE: no DataFrame-level orderBy here — a global sort directly above
      // the scan runs a range-sampling job that would execute the observed
      // scan TWICE (double-counting rows and doubling I/O). The collected
      // set is bounded (capped), so ordering is driver-side.
      capped
        .collect()
        .toSeq
        .map { r: Row =>
          Violation(
            code = r.getString(0),
            rowNumber = if (r.isNullAt(1)) None else Some(r.getLong(1)),
            columnNumber = if (r.isNullAt(2)) None else Some(r.getInt(2)),
            message = r.getString(3),
            row = if (r.isNullAt(4)) Nil else r.getSeq[String](4)
          )
        }
        .sortBy(v => (v.rowNumber.getOrElse(Long.MinValue), v.columnNumber.getOrElse(Int.MinValue), v.code))
    }

    val (scanned, rawCount) = local match {
      case Some(in) => (cfg.options.rowLimit.fold(in.rows)(math.min(_, in.rows)), in.rows)
      case None if result.observedRows =>
        val n = obs.get("_rows").asInstanceOf[Long] // already complete: collect() ran the scan
        (n, n)
      case None =>
        val raw = df.count()
        (cfg.options.rowLimit.fold(raw)(math.min(_, raw)), raw)
    }

    // misleading-uniqueness filter (jobs.py:174-176, 545-569): if a PK column
    // also has required-constraint errors, unique-constraint errors are noise
    val pkCols = schema.primaryKey.flatMap(n => Option(result.headers.indexOf(n) + 1).filter(_ > 0))
    val pkHasRequiredErrors = {
      val inCollected = collected.exists(v =>
        v.code == "required-constraint" && v.columnNumber.exists(pkCols.contains))
      // the per-code cap can hide the PK required error that should suppress
      // unique-constraint noise (>cap required errors, none on the PK column
      // within the capped prefix). Only in that saturated case, probe the
      // UNCAPPED violation stream with a limit-1 existence check — the flag
      // is then computed from full evidence, never from a truncated sample.
      def capSaturated = cfg.options.errorLimitPerCode.exists(cap =>
        collected.count(_.code == "required-constraint") >= cap)
      if (inCollected) true
      else if (pkCols.nonEmpty && collected.exists(_.code == "unique-constraint") && capSaturated)
        !result.violations
          .filter(col("code") === "required-constraint" && col("column_number").isin(pkCols: _*))
          .isEmpty
      else false
    }
    val filtered =
      if (pkHasRequiredErrors) collected.filterNot(_.code == "unique-constraint")
      else collected

    val all = result.headerViolations ++ filtered
    val elapsed = (System.nanoTime() - t0) / 1e9
    val warnings =
      cfg.options.rowLimit.toSeq.collect {
        case n if rawCount > n => s"Table inspection has reached $n row(s) limit"
      }
    val table = TableReport(
      source = cfg.source,
      headers = result.headers,
      rowCount = scanned + (if (cfg.headerInRowCount) 1 else 0),
      errorCount = all.size.toLong,
      time = math.round(elapsed * 1000.0) / 1000.0,
      valid = all.isEmpty,
      errors = all
    )
    val report = ValidationReport(
      valid = all.isEmpty,
      errorCount = all.size.toLong,
      tableCount = 1,
      time = table.time,
      warnings = warnings,
      tables = Seq(table)
    )
    val status = if (report.valid) RunStatus.Success else RunStatus.Failure
    (report, status)
  }

  /** Streaming validation: the row-scoped check suite is a stateless
    * projection, so it applies unchanged to a streaming DataFrame
    * (readStream → violations → writeStream). Only the single-pass checks
    * run — uniqueness/FK/duplicate-row are cross-row/batch semantics by
    * definition (the reference is batch-only, SURVEY §2.9; this entry point
    * exists for continuous-ingest admission monitoring). */
  def streamingViolations(
      df: DataFrame,
      schema: TableSchema,
      cfg: ValidationConfig,
      passthrough: Seq[String] = Nil
  ): DataFrame = {
    val opts = cfg.options
    val withNa = replaceNa(df, schema.naValue)
    val dataCols =
      withNa.columns.toSeq.filterNot(c => c == cfg.rowNumberCol || cfg.partitionIdCol.contains(c))
    val payloadSchema = org.apache.spark.sql.types.StructType(dataCols.map(c => withNa.schema(c)))
    val compiled = RowChecks.compile(schema, payloadSchema, col(cfg.rowNumberCol), opts)
    violationsWithPayload(withNa, dataCols, compiled, col(cfg.rowNumberCol),
      cfg.partitionIdCol.map(col), passthrough)
  }

  /** End-to-end CSV validation (fixture path): read → structural
    * (ragged-row) violations from the parser → header checks → schema body
    * checks — assembled into one reference-shaped report. A source-level
    * failure produces the zero-table ERROR_REPORT with status `error`
    * (jobs.py:196-200). */
  def runCsv(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      schema: TableSchema,
      options: ValidationOptions = ValidationOptions.default,
      sep: String = ",",
      sourceLabel: Option[String] = None
  ): (graft.report.ValidationReport, String) =
    runParsed(graft.sources.TableSource.readCsv(spark, path, sep), path, schema, options, sourceLabel)

  /** End-to-end Excel (xlsx) validation: same pipeline as the CSV path — the
    * reference reads Excel header-less into the identical in-memory shape
    * (jobs.py:272-294) and validates it with the same checks. Multi-sheet /
    * unreadable workbooks surface as the zero-table ERROR report. */
  def runXlsx(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      schema: TableSchema,
      options: ValidationOptions = ValidationOptions.default,
      sourceLabel: Option[String] = None
  ): (graft.report.ValidationReport, String) =
    runParsed(graft.sources.XlsxSource.readXlsx(spark, path), path, schema, options, sourceLabel)

  /** End-to-end zipped-shapefile validation (`jobs.py:335-387`): the DBF
    * attribute table + synthesized `adr_geometry_check` geometry-presence
    * column run through the same pipeline as the CSV path; unzip / not-one-
    * `.shp` / unparsable payloads surface as the zero-table ERROR report
    * with the reference's message strings. */
  def runShapefile(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      schema: TableSchema,
      options: ValidationOptions = ValidationOptions.default,
      sourceLabel: Option[String] = None
  ): (graft.report.ValidationReport, String) =
    runParsed(graft.sources.ShapefileSource.readShapefile(spark, path), path, schema, options, sourceLabel)

  /** Shared read→header→body assembly for parsed (CSV/xlsx/shapefile) sources. */
  private[graft] def runParsed(
      parsed: Either[graft.sources.TableSource.SourceError, graft.sources.TableSource.CsvTable],
      path: String,
      schema: TableSchema,
      options: ValidationOptions,
      sourceLabel: Option[String]
  ): (graft.report.ValidationReport, String) = {
    import graft.report.PostProcess
    parsed match {
      case Left(err) => PostProcess.errorReport(Seq(err.message))
      case Right(csv) =>
        val cfg = ValidationConfig(
          rowNumberCol = "_row_number",
          source = sourceLabel.getOrElse(path),
          headerInRowCount = true,
          options = options
        )
        val (report, status) = run(csv.df, schema, cfg)
        val structural = csv.structureViolations.filter(v =>
          options.enabled(v.code, graft.report.ErrorSpec.group(v.code))
        )
        val t = report.tables.head
        val merged = (structural ++ t.errors).sortBy(v => (v.rowNumber.getOrElse(0L), v.columnNumber.getOrElse(0)))
        val table = t.copy(errors = merged, errorCount = merged.size.toLong, valid = merged.isEmpty)
        val rep = report.copy(
          valid = table.valid,
          errorCount = table.errorCount,
          tables = Seq(table)
        )
        (rep, if (rep.valid) graft.report.RunStatus.Success else graft.report.RunStatus.Failure)
    }
  }

  /** Fail-closed admission gate (reference `_run_sync_validation`,
    * logic.py:653-708): invalid ⇒ reject the whole table unless
    * allowInvalidData. */
  def validateOrReject(
      df: DataFrame,
      schema: TableSchema,
      cfg: ValidationConfig,
      allowInvalidData: Boolean = false
  ): Either[ValidationReport, DataFrame] = {
    val (report, _) = run(df, schema, cfg)
    if (report.valid || allowInvalidData) Right(df) else Left(report)
  }
}
