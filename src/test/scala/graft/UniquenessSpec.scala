package graft

import graft.runner.{ValidationConfig, ValidationRunner}
import graft.schema._

/** Uniqueness semantics pinned by the reference (custom_checks.py:90-174):
  * first occurrence fine, later duplicates error; all-null tuples skipped;
  * composite PK message names the fields. */
class UniquenessSpec extends SparkSpec {
  import spark.implicits._

  private def fc = FieldConstraints()

  private def viols(df: org.apache.spark.sql.DataFrame, schema: TableSchema) =
    ValidationRunner
      .plan(df, schema, ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("schema"))))
      .violations
      .collect()
      .map(r => (r.getLong(1), r.getString(0), r.getString(3)))
      .sortBy(_._1)
      .toSeq

  test("single-column unique: first occurrence is NOT an error, later ones are") {
    val df = Seq((2L, "a"), (3L, "b"), (4L, "a"), (5L, "a")).toDF("_rid", "k")
    val schema = TableSchema(Seq(Field("k", constraints = fc.copy(unique = true))))
    val v = viols(df, schema)
    assert(v.map(_._1) == Seq(4L, 5L))
    assert(v.forall(_._2 == "unique-constraint"))
    assert(v.head._3 == "Rows 4 has unique constraint violation in column 1")
  }

  test("all-null values are skipped (custom_checks.py:118-119)") {
    val df = Seq((2L, None: Option[String]), (3L, None: Option[String]), (4L, Some("x")))
      .toDF("_rid", "k")
    val schema = TableSchema(Seq(Field("k", constraints = fc.copy(unique = true))))
    assert(viols(df, schema).isEmpty)
  }

  test("composite primary key: distinct message naming the PK fields") {
    val df = Seq(
      (2L, "a", "x"),
      (3L, "a", "y"),
      (4L, "a", "x"),
      (5L, "b", "x")
    ).toDF("_rid", "p", "q")
    val schema = TableSchema(Seq(Field("p"), Field("q")), primaryKey = Seq("p", "q"))
    val v = viols(df, schema)
    assert(v.map(_._1) == Seq(4L))
    assert(
      v.head._3 == "Rows 4 have a composite uniqueness constraint violation. Primary key fields (p, q) must form a unique combination in the dataset."
    )
  }

  test("unique member of a COMPOSITE PK still gets its single-column check (custom_checks.py:148-174)") {
    // p is unique=true AND one member of PK (p,q): per-column duplicates of p
    // must be reported even when the composite tuples are distinct
    val df = Seq((2L, "a", "x"), (3L, "a", "y"), (4L, "b", "z")).toDF("_rid", "p", "q")
    val schema = TableSchema(
      Seq(Field("p", constraints = fc.copy(unique = true)), Field("q")),
      primaryKey = Seq("p", "q")
    )
    val v = viols(df, schema)
    assert(v.map(_._1) == Seq(3L)) // p="a" duplicated; (p,q) tuples all distinct
    assert(v.head._3 == "Rows 3 has unique constraint violation in column 1")
  }

  test("duplicate-row cites the earlier row number (custom_checks.py:467-478)") {
    val df = Seq((2L, "a", 1), (3L, "b", 2), (4L, "a", 1), (5L, "a", 1)).toDF("_rid", "x", "y")
    val schema = TableSchema(Seq(Field("x"), Field("y")))
    val v = ValidationRunner
      .plan(
        df,
        schema,
        ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("schema", "duplicate-row")))
      )
      .violations
      .filter("code = 'duplicate-row'")
      .collect()
      .map(r => (r.getLong(1), r.getString(3)))
      .sortBy(_._1)
      .toSeq
    assert(v.map(_._1) == Seq(4L, 5L))
    assert(v.head._2 == "Row 4 is duplicated to row(s) 2")
    assert(v(1)._2 == "Row 5 is duplicated to row(s) 2")
  }

  test("composite PK with partly-null tuples: null members compare equal, all-null tuples skipped") {
    val df = Seq[(Long, String, String)](
      (2L, "a", null),
      (3L, null, null),
      (4L, "a", null),
      (5L, null, null),
      (6L, null, "a"),
      (7L, "a", "a")
    ).toDF("_rid", "p", "q")
    val schema = TableSchema(Seq(Field("p"), Field("q")), primaryKey = Seq("p", "q"))
    val v = viols(df, schema)
    assert(v.map(r => (r._1, r._2)) == Seq((4L, "unique-constraint")))
    assert(v.head._3.startsWith("Rows 4 have a composite uniqueness constraint violation"))
  }

  test("duplicate-row with null cells: nulls compare equal, each repeat cites the first row") {
    val df = Seq[(Long, String, String)](
      (2L, "a", null),
      (3L, null, null),
      (4L, "a", null),
      (5L, null, "a"),
      (6L, null, null),
      (7L, "a", null)
    ).toDF("_rid", "x", "y")
    val schema = TableSchema(Seq(Field("x"), Field("y")))
    val v = ValidationRunner
      .plan(
        df,
        schema,
        ValidationConfig(rowNumberCol = "_rid", options = ValidationOptions(checks = Seq("schema", "duplicate-row")))
      )
      .violations
      .filter("code = 'duplicate-row'")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(3)))
      .sortBy(_._2)
      .toSeq
    assert(v == Seq(
      ("duplicate-row", 4L, "Row 4 is duplicated to row(s) 2"),
      ("duplicate-row", 6L, "Row 6 is duplicated to row(s) 3"),
      ("duplicate-row", 7L, "Row 7 is duplicated to row(s) 2")))
  }

  test("misleading unique errors dropped when PK column has required errors (jobs.py:545-569)") {
    val df = Seq((2L, Some("a")), (3L, None), (4L, Some("a"))).toDF("_rid", "k")
    val schema = TableSchema(
      Seq(Field("k", constraints = fc.copy(unique = true, required = true))),
      primaryKey = Seq("k")
    )
    val (report, status) =
      ValidationRunner.run(df, schema, ValidationConfig(rowNumberCol = "_rid"))
    assert(status == "failure")
    val codes = report.tables.head.errors.map(_.code)
    assert(codes.contains("required-constraint"))
    assert(!codes.contains("unique-constraint"))
  }

  test("misleading-uniqueness flag computed from UNCAPPED evidence when the per-code cap saturates") {
    // the capped prefix (first 5 required errors by row_number) lands
    // entirely on the non-PK column `a`; the PK required error sits at row
    // 15, BEYOND the cap — the suppression decision must probe the uncapped
    // stream, not the truncated sample
    val rows =
      (1L to 10L).map(i => (i, "", Some(s"k$i"))) ++            // required errors on a
        Seq((15L, "x", None),                                    // PK required error (beyond cap)
          (16L, "x", Some("dup")), (17L, "x", Some("dup")))      // PK duplicate → unique noise
    val df = rows.toDF("_rid", "a", "k")
    val schema = TableSchema(
      Seq(
        Field("a", constraints = fc.copy(required = true)),
        Field("k", constraints = fc.copy(unique = true, required = true))
      ),
      primaryKey = Seq("k")
    )
    val cfg = ValidationConfig(rowNumberCol = "_rid",
      options = ValidationOptions(errorLimitPerCode = Some(5)))
    val (report, status) = ValidationRunner.run(df, schema, cfg)
    assert(status == "failure")
    val errs = report.tables.head.errors
    assert(errs.count(_.code == "required-constraint") == 5) // cap honoured
    assert(!errs.exists(_.code == "unique-constraint"),
      "PK required error beyond the cap must still suppress unique-constraint noise")
  }
}
