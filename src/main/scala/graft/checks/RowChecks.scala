package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.report.ErrorSpec
import graft.schema.{Field, TableSchema, ValidationOptions}
import graft.exprs.ConstraintExpr

/** One compiled row-scoped check: a boolean violation condition plus a
  * message Column rendered in-plan (Catalyst `concat` of template pieces), so
  * the whole check suite evaluates inside whole-stage codegen in a single scan
  * — the Spark-native equivalent of the reference's single-pass row streaming
  * through every registered check (reference: goodtables loop driven from
  * jobs.py:418-427; per-check `check_row` at custom_checks.py:25,100,212).
  */
final case class CompiledCheck(
    code: String,
    columnNumber: Option[Int],
    cond: Column,
    message: Column
)

object RowChecks {

  /** Convert a strptime date format (reference README.md:171-204 uses
    * "%d/%m/%Y") to a Spark datetime pattern. */
  def strptimeToSpark(fmt: String): String = {
    val map = Seq(
      "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%d" -> "dd",
      "%H" -> "HH", "%M" -> "mm", "%S" -> "ss", "%f" -> "SSSSSS", "%%" -> "%"
    )
    map.foldLeft(fmt) { case (s, (k, v)) => s.replace(k, v) }
  }

  private[graft] def quoted(c: Column): Column =
    concat(lit("\""), coalesce(c.cast(StringType), lit("")), lit("\""))

  /** Render an ErrorSpec template to a message Column given per-placeholder
    * Columns. Placeholders with no binding are kept literally. */
  def message(code: String, subs: Map[String, Column]): Column = {
    val parts = ErrorSpec.pieces(code).map {
      case Left(s)  => lit(s)
      case Right(p) => subs.getOrElse(p, lit("{" + p + "}"))
    }
    if (parts.size == 1) parts.head else concat(parts: _*)
  }

  private def fmtNum(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Compile every enabled row-scoped check for `schema` over a frame with
    * the given Spark schema. `rowNumber` is the 1-based row-number column
    * (header counts as row 1 when the source had a header row — goodtables
    * convention, see tests/helpers.py:51-65 where the first data row is 2).
    *
    * Covered here (all context=body, evaluated in ONE projection):
    * type-or-format-error, required-, pattern-, enumerable-, minimum-,
    * maximum-, minimum-length-, maximum-length-constraint, blank-row,
    * custom-constraint, missing-geometry, and inline-values foreign keys.
    * Uniqueness and table-reference FKs need a shuffle and live in
    * [[UniquenessCheck]] / [[ForeignKeyCheck]].
    */
  def compile(
      schema: TableSchema,
      sparkSchema: StructType,
      rowNumber: Column,
      options: ValidationOptions = ValidationOptions.default
  ): Seq[CompiledCheck] = {
    val columns = sparkSchema.fields.map(_.name).toSeq
    val colIndex = columns.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    val out = Seq.newBuilder[CompiledCheck]

    def rn: Column = rowNumber.cast(StringType)
    def on(code: String, group: String)(mk: => Seq[CompiledCheck]): Unit =
      if (options.enabled(code, group)) out ++= mk

    // blank-row: all cells empty/null (custom_checks.py:457-466)
    on("blank-row", "structure") {
      val cond =
        if (columns.isEmpty) lit(false)
        else balanced(columns.map(c => col(c).isNull || trim(col(c).cast(StringType)) === ""))(_ && _)
      Seq(
        CompiledCheck(
          "blank-row",
          None,
          cond,
          message("blank-row", Map("row_number" -> rn))
        )
      )
    }

    // per-field schema body checks
    schema.fields.foreach { f =>
      colIndex.get(f.name).foreach { cn =>
        val sparkField = sparkSchema.fields(cn - 1)
        val c = col(f.name)
        val cnCol = lit(cn).cast(StringType)
        def subs(extra: (String, Column)*): Map[String, Column] =
          Map(
            "value" -> quoted(c),
            "row_number" -> rn,
            "column_number" -> cnCol
          ) ++ extra

        // type-or-format-error (custom_checks.py:547-559): only meaningful
        // when the physical column can hold nonconforming values (strings).
        on("type-or-format-error", "schema") {
          typeCond(f, sparkField.dataType).map { cond =>
            CompiledCheck(
              "type-or-format-error",
              Some(cn),
              cond,
              message(
                "type-or-format-error",
                subs(
                  "field_type" -> lit(f.ftype),
                  "field_format" -> lit(f.format.getOrElse("default"))
                )
              )
            )
          }.toSeq
        }

        val castable: Column = f.ftype match {
          case "integer" | "number" => c.cast(DoubleType).isNotNull
          case _                    => c.isNotNull
        }
        val numeric: Column = c.cast(DoubleType)

        on("required-constraint", "schema") {
          if (!f.constraints.required) Nil
          else
            Seq(
              CompiledCheck(
                "required-constraint",
                Some(cn),
                c.isNull || c.cast(StringType) === "",
                message(
                  "required-constraint",
                  Map("column_number" -> cnCol, "row_number" -> rn)
                )
              )
            )
        }

        on("pattern-constraint", "schema") {
          f.constraints.pattern.toSeq.map { p =>
            // FULL-string match: goodtables/tableschema check_pattern anchors
            // the regex — unanchored rlike is a substring search and would
            // accept values that merely CONTAIN a match
            CompiledCheck(
              "pattern-constraint",
              Some(cn),
              c.isNotNull && !c.cast(StringType).rlike("^(?:" + p + ")$"),
              message("pattern-constraint", subs("constraint" -> lit(p)))
            )
          }
        }

        on("enumerable-constraint", "schema") {
          f.constraints.enumVals.toSeq.map { vals =>
            // custom message lists valid values (custom_checks.py:60-87)
            CompiledCheck(
              "enumerable-constraint",
              Some(cn),
              c.isNotNull && !c.cast(StringType).isin(vals: _*),
              message(
                "enumerable-constraint",
                subs("constraint" -> lit("\"" + vals.mkString("\", \"") + "\""))
              )
            )
          }
        }

        on("minimum-constraint", "schema") {
          f.constraints.minimum.toSeq.map { m =>
            CompiledCheck(
              "minimum-constraint",
              Some(cn),
              castable && numeric < lit(m),
              message("minimum-constraint", subs("constraint" -> lit(fmtNum(m))))
            )
          }
        }
        on("maximum-constraint", "schema") {
          f.constraints.maximum.toSeq.map { m =>
            CompiledCheck(
              "maximum-constraint",
              Some(cn),
              castable && numeric > lit(m),
              message("maximum-constraint", subs("constraint" -> lit(fmtNum(m))))
            )
          }
        }
        on("minimum-length-constraint", "schema") {
          f.constraints.minLength.toSeq.map { m =>
            CompiledCheck(
              "minimum-length-constraint",
              Some(cn),
              c.isNotNull && length(c.cast(StringType)) < lit(m),
              message("minimum-length-constraint", subs("constraint" -> lit(m.toString)))
            )
          }
        }
        on("maximum-length-constraint", "schema") {
          f.constraints.maxLength.toSeq.map { m =>
            CompiledCheck(
              "maximum-length-constraint",
              Some(cn),
              c.isNotNull && length(c.cast(StringType)) > lit(m),
              message("maximum-length-constraint", subs("constraint" -> lit(m.toString)))
            )
          }
        }

        // inline-values foreign key: the reference's same-table FK resolution
        // inlines the valid values (jobs.py:465-466) — at ≤3000 values this is
        // a literal isin, i.e. a broadcast-hash-join degenerate with NO
        // shuffle at all.
        on("foreign-key", "schema") {
          f.foreignKey.toSeq.collect { case graft.schema.InlineValues(vals) =>
            CompiledCheck(
              "foreign-key",
              Some(cn),
              !c.cast(StringType).isin(vals: _*),
              message(
                "foreign-key",
                Map(
                  "column_number" -> cnCol,
                  "row_number" -> rn,
                  "resource_id" -> lit("")
                )
              )
            )
          }
        }

        // missing-geometry analogue (custom_checks.py:177-203): a synthesised
        // payload-validity boolean column named adr_geometry_check fails when
        // falsy / "False".
        on("missing-geometry", "schema") {
          if (f.name != "adr_geometry_check") Nil
          else
            Seq(
              CompiledCheck(
                "missing-geometry",
                None,
                c.isNull || c.cast(StringType).isin("False", "false", "", "0"),
                message("missing-geometry", Map("row_number" -> rn))
              )
            )
        }
      }
    }

    // custom constraints (fork's CustomConstraint, custom_checks.py:14-57)
    schema.customConstraints.foreach { expr =>
      on("custom-constraint", "custom") {
        Seq(
          CompiledCheck(
            "custom-constraint",
            None,
            ConstraintExpr.compileViolation(expr, columns),
            message(
              "custom-constraint",
              Map("constraint" -> lit(expr), "row_number" -> rn)
            )
          )
        )
      }
    }

    out.result()
  }

  /** Violation condition for a type/format mismatch, or None when the
    * physical type already guarantees conformance (typed Parquet column). */
  def typeCond(f: Field, physical: DataType): Option[Column] = {
    val c = col(f.name)
    val s = c.cast(StringType)
    (f.ftype, physical) match {
      case ("string", _) => None
      case ("any", _)    => None
      case ("integer", _: IntegerType | _: LongType | _: ShortType | _: ByteType) => None
      case ("integer", _) =>
        Some(c.isNotNull && s =!= "" && !s.rlike("^[+-]?\\d+$"))
      case ("number", t) if t.isInstanceOf[NumericType] => None
      case ("number", _) =>
        Some(c.isNotNull && s =!= "" && c.cast(DoubleType).isNull)
      case ("boolean", _: BooleanType) => None
      case ("boolean", _) =>
        Some(c.isNotNull && s =!= "" && !lower(s).isin("true", "false", "0", "1"))
      case ("date", _: DateType | _: TimestampType) => None
      case ("date", _) =>
        val fmt = strptimeToSpark(f.format.getOrElse("%Y-%m-%d"))
        Some(c.isNotNull && s =!= "" && to_date(s, fmt).isNull)
      case _ => None
    }
  }

  /** Full source row rendered as strings with nulls → "" — the `row` payload
    * injected into every error entry (jobs.py:178-192, NaN→"" fill). */
  def rowPayload(columns: Seq[String]): Column =
    array(columns.map(c => coalesce(col(c).cast(StringType), lit(""))): _*)

  /** The single-pass violation projection: one `select` computing every
    * compiled check as an entry of an array of violation structs, nulls
    * filtered, exploded — Catalyst collapses this to ONE scan with the whole
    * suite inside one WholeStageCodegen span. Output columns:
    * (code, row_number, column_number, message, row).
    */
  def violations(df: DataFrame, checks: Seq[CompiledCheck], rowNumber: Column): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.types.{StructType => ST}
    val vSchema = ST(
      Seq(
        StructField("code", StringType),
        StructField("row_number", LongType),
        StructField("column_number", IntegerType),
        StructField("message", StringType)
      )
    )
    if (checks.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        ST(vSchema.fields :+ StructField("row", ArrayType(StringType)))
      )
    gate(df, checks, rowNumber, Seq(rowPayload(df.columns.toSeq).as("row")))
      .select(col("_v.*"), col("row"))
  }

  /** The row-check gate behind every violations projection: the rows that
    * fail at least one of `checks`, each exploded into one `_v` struct
    * (code, row_number, column_number, message) per failed check, next to
    * the `carried` columns.
    *
    * HOT-PATH DESIGN: every expression here must stay inside whole-stage
    * codegen. The scan-side filter is a plain boolean OR of all check
    * conditions; the k-entry violation array is exploded DIRECTLY
    * (CreateArray/CaseWhen/Generate are all codegen'd) and the per-entry
    * nulls are dropped AFTER the Generate. The earlier shape —
    * functions.filter(array(...)) + size(...) > 0 — used the higher-order
    * ArrayFilter, which is CodegenFallback (interpreted), and predicate
    * pushdown merged the size(...) > 0 test into the scan filter, so the
    * interpreted array assembly ran 2× in the scan filter plus 1× in the
    * projection for every violating row (visible in the r6-before plans).
    * Exploding nulls costs k generated rows per VIOLATING row only (the
    * OR pre-filter still drops clean rows first), and `anyViolation` true
    * guarantees ≥1 non-null entry, so no row is lost.
    * (r3 measured the OR gate: 775k rows/s -> multi-M rows/s at 20M rows) */
  private[graft] def gate(df: DataFrame, checks: Seq[CompiledCheck], rowNumber: Column, carried: Seq[Column]): DataFrame = {
    val entries = checks.map { ck =>
      when(
        ck.cond,
        struct(
          lit(ck.code).as("code"),
          rowNumber.cast(LongType).as("row_number"),
          ck.columnNumber.map(n => lit(n)).getOrElse(lit(null)).cast(IntegerType).as("column_number"),
          ck.message.as("message")
        )
      )
    }
    val anyViolation = balanced(checks.map(ck => coalesce(ck.cond, lit(false))))(_ || _)
    df.filter(anyViolation)
      .select(explode(array(entries: _*)).as("_v") +: carried: _*)
      .filter(col("_v").isNotNull)
  }

  /** `cs` (non-empty) joined by `op` as a balanced tree, in their order.
    * Three-valued AND and OR are associative and evaluate left to right,
    * so the value and the short-circuit order are those of a left fold,
    * at depth log2(n) instead of n. Codegen formats the source of each
    * nested operand again at every level above it, so a left fold of n
    * conditions costs it about n² and a balanced tree n log n. */
  private[graft] def balanced(cs: Seq[Column])(op: (Column, Column) => Column): Column =
    if (cs.size == 1) cs.head
    else {
      val (l, r) = cs.splitAt(cs.size / 2)
      op(balanced(l)(op), balanced(r)(op))
    }
}
