package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.report.{PostProcess, ValidationReport, Violation, TableReport}
import graft.runner.ValidationRunner
import graft.schema._
import graft.sources.TableSource

/** Source readers, ragged-row structure checks, and report post-processing —
  * the INVALID_CSV/VALID_CSV fixture path (tests/helpers.py:12-18,
  * tests/test_logic.py:436-519). */
class SourceSpec extends SparkSpec {

  private def fc = FieldConstraints()

  private def writeTmp(name: String, content: String): String = {
    val f = Files.createTempDirectory("graft_src").resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  // the reference fixtures, verbatim (tests/helpers.py:12-18)
  private val INVALID_CSV = "a,b,c,d\n1,2,3\n"
  private val VALID_CSV = "a,b,c,d\n1,2,3,4\n"

  private def timeless(json: String) = json.replaceAll("\"time\": [-0-9.eE]+", "\"time\": _")

  private val abcdSchema =
    TableSchema(Seq(Field("a"), Field("b"), Field("c"), Field("d")))

  test("INVALID_CSV: exactly 'Row 2 has a missing value in column 4' (tests/test_logic.py:466-467)") {
    val path = writeTmp("invalid.csv", INVALID_CSV)
    val (report, status) = ValidationRunner.runCsv(spark, path, abcdSchema)
    assert(status == "failure")
    assert(report.errorCount == 1)
    val e = report.tables.head.errors.head
    assert(e.code == "missing-value")
    assert(e.message == "Row 2 has a missing value in column 4")
    assert(e.rowNumber.contains(2L))
    assert(e.columnNumber.contains(4))
    assert(report.tables.head.rowCount == 2) // header + 1 data row
    assert(report.tables.head.headers == Seq("a", "b", "c", "d"))
  }

  test("VALID_CSV: success, zero errors (tests/test_logic.py:497-519)") {
    val path = writeTmp("valid.csv", VALID_CSV)
    val (report, status) = ValidationRunner.runCsv(spark, path, abcdSchema)
    assert(status == "success")
    assert(report.valid && report.errorCount == 0)
  }

  test("extra-value on rows wider than the header") {
    val path = writeTmp("extra.csv", "a,b\n1,2\n1,2,3\n")
    val Right(csv) = TableSource.readCsv(spark, path): @unchecked
    val e = csv.structureViolations.head
    assert(e.code == "extra-value")
    assert(e.rowNumber.contains(3L))
    assert(e.message == "Row 3 has an extra value in column 3")
  }

  test("source failure taxonomy: io-error, format-error, source-error, encoding-error") {
    assert(TableSource.readCsv(spark, "/nonexistent/x.csv").swap.toOption.get.code == "io-error")
    assert(TableSource.formatOf("data.xyz").swap.toOption.get.code == "format-error")
    val empty = writeTmp("empty.csv", "")
    assert(TableSource.readCsv(spark, empty).swap.toOption.get.code == "source-error")
    val badBytes = Files.createTempDirectory("graft_src").resolve("bad.csv")
    Files.write(badBytes, Array[Byte]('a', ',', 'b', '\n', 0xff.toByte, 0xfe.toByte, '1'))
    assert(TableSource.readCsv(spark, badBytes.toString).swap.toOption.get.code == "encoding-error")
  }

  test("source failure produces the zero-table ERROR_REPORT with status error (tests/helpers.py:85-89)") {
    val (report, status) = ValidationRunner.runCsv(spark, "/nonexistent/x.csv", abcdSchema)
    assert(status == "error")
    assert(!report.valid && report.tableCount == 0 && report.errorCount == 0)
    assert(report.warnings.nonEmpty)
  }

  test("CSV and XLSX readers build a sized local relation: the planner can broadcast against it") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
    val header = Seq("id", "name", "score")
    val grid = (1 to 1000).map(i => Seq(i.toString, s"name$i", if (i % 7 == 0) "" else s"${i % 50}.5"))
    val csvPath = writeTmp("local.csv", (header +: grid).map(_.mkString(",")).mkString("\n"))
    val xlsxPath = Files.createTempDirectory("graft_src").resolve("local.xlsx").toString
    graft.sources.XlsxSource.writeXlsx(xlsxPath, Seq("Sheet1" -> (header +: grid)))
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    val expected = grid.zipWithIndex.map { case (cells, i) => (cells.map(c => if (c.isEmpty) null else c), i + 2L) }
    val frames = Seq(
      "csv" -> TableSource.readCsv(spark, csvPath),
      "xlsx" -> graft.sources.XlsxSource.readXlsx(spark, xlsxPath)
    ).map { case (fmt, parsed) => fmt -> parsed.toOption.get.df }
    // below the one-partition bound: the local relation coalesced to one
    // partition, with the size estimate of the bare relation
    for ((fmt, df) <- frames) {
      df.queryExecution.analyzed match {
        case Repartition(1, false, _: LocalRelation) =>
        case other => fail(s"$fmt must be one partition below the bound: $other")
      }
      assert(df.rdd.getNumPartitions == 1, fmt)
      val bare = parallelScan(df)
      assert(bare.queryExecution.analyzed.isInstanceOf[LocalRelation] && bare.rdd.getNumPartitions > 1, fmt)
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size == bare.queryExecution.optimizedPlan.stats.sizeInBytes, s"$fmt: coalescing must keep the size estimate")
      assert(size > 0 && size < threshold, s"$fmt: $size bytes must be below the broadcast threshold $threshold")
      val got = df.collect().map(r => ((0 until 3).map(r.getString), r.getLong(3))).sortBy(_._2).toSeq
      // the CSV reader keeps empty cells as "", the XLSX writer omits them
      val norm = got.map { case (cells, rn) => (cells.map(c => if (c == null || c.isEmpty) null else c), rn) }
      assert(norm == expected, fmt)
    }
  }

  test("one-partition bound: a resource of exactly OnePartitionBytes is one partition, one row more is a parallel scan") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
    import graft.sources.TableSource.onePartition
    // every row is 64 row bytes: four cells (three strings and the row
    // number) at 8 bytes each plus 32 bytes of ASCII strings (none numeric,
    // so the XLSX round trip keeps them as written)
    val perRow = 64L
    val atBound = (TableSource.OnePartitionBytes / perRow).toInt
    def grid(n: Int) = (1 to n).map(i => Seq(f"i$i%09d", f"n${i % (n - 20)}%010d", f"s$i%010d"))
    val header = Seq("id", "name", "score")
    def rows(n: Int) = grid(n).map(c => org.apache.spark.sql.Row.fromSeq(c :+ 0L))
    assert(TableSource.fitsOnePartition(rows(atBound)) && !TableSource.fitsOnePartition(rows(atBound + 1)))
    val schema = TableSchema(Seq(Field("id"), Field("name", constraints = fc.copy(unique = true)), Field("score")))
    for ((n, one) <- Seq(atBound -> true, atBound + 1 -> false)) {
      val cells = grid(n)
      val csvPath = writeTmp(s"bound$n.csv", (header +: cells).map(_.mkString(",")).mkString("\n"))
      val xlsxPath = Files.createTempDirectory("graft_src").resolve(s"bound$n.xlsx").toString
      graft.sources.XlsxSource.writeXlsx(xlsxPath, Seq("Sheet1" -> (header +: cells)))
      for ((fmt, parsed) <- Seq("csv" -> TableSource.readCsv(spark, csvPath),
                                "xlsx" -> graft.sources.XlsxSource.readXlsx(spark, xlsxPath))) {
        val table = parsed.toOption.get
        val df = table.df
        (df.queryExecution.analyzed, one) match {
          case (Repartition(1, false, _: LocalRelation), true) =>
            assert(df.rdd.getNumPartitions == 1, s"$fmt $n")
          case (_: LocalRelation, false) =>
            assert(df.rdd.getNumPartitions > 1, s"$fmt $n: above the bound the scan stays parallel")
          case (other, _) => fail(s"$fmt $n rows (one partition: $one): $other")
        }
        assert(onePartition(df) == one, s"$fmt $n")
        // 20 repeated names either way; the same report on both plans
        val rep = ValidationRunner.runParsed(Right(table), csvPath, schema, ValidationOptions.default, Some("b"))._1
        assert(rep.errorCount == 20, s"$fmt $n")
        if (one) {
          val par = ValidationRunner.runParsed(Right(table.copy(df = parallelScan(df))), csvPath, schema,
            ValidationOptions.default, Some("b"))._1
          assert(timeless(rep.toJson) == timeless(par.toJson), s"$fmt $n")
        }
      }
    }
  }

  test("onePartition: a small local frame through select/filter, never a file scan, a Seq frame or a limit") {
    import graft.sources.TableSource.onePartition
    val path = writeTmp("one.csv", ("a,b" +: (1 to 50).map(i => s"$i,x$i")).mkString("\n"))
    val small = TableSource.readCsv(spark, path).toOption.get.df
    assert(onePartition(small))
    assert(onePartition(small.select(col("a"), col("_row_number")).filter(col("a") =!= "7")))
    val pq = Files.createTempDirectory("graft_src").resolve("one.parquet").toString
    small.write.parquet(pq)
    assert(!onePartition(spark.read.parquet(pq)), "a file scan may be split")
    assert(!onePartition(spark.createDataFrame(Seq((1, "x"), (2, "y")))), "a Seq frame is a parallel local scan")
    assert(!onePartition(small.limit(10)), "only projections and filters are walked")
  }

  test("one-partition parity: every source's report is byte-identical with and without the prefilter") {
    import graft.sources.TableSource.onePartition
    import graft.sources.{BiffSource, ShapefileSource, XlsxSource}
    // as read: one partition, no prefilter; the same rows as a parallel
    // scan: the hash prefilter
    def parity(name: String, path: String, schema: TableSchema, options: ValidationOptions = ValidationOptions.default)(
        parsed: Either[TableSource.SourceError, TableSource.CsvTable]): ValidationReport = {
      val table = parsed.toOption.get
      assert(onePartition(table.df), name)
      def validate(t: TableSource.CsvTable) = ValidationRunner.runParsed(Right(t), path, schema, options, None)._1
      val one = validate(table)
      val parallel = validate(table.copy(df = parallelScan(table.df)))
      assert(timeless(one.toJson) == timeless(parallel.toJson), name)
      one
    }
    def codes(r: ValidationReport) = r.tables.flatMap(_.errors).map(_.code).toSet

    val invPath = writeTmp("inv.csv", INVALID_CSV)
    val invalid = parity("INVALID_CSV", invPath, abcdSchema)(TableSource.readCsv(spark, invPath))
    assert(codes(invalid) == Set("missing-value"))

    val idRegion = TableSchema(Seq(
      Field("id", constraints = fc.copy(unique = true)),
      Field("region", ftype = "integer", constraints = fc.copy(maximum = Some(3.0)))
    ))
    val grid = Seq(Seq("id", "region"), Seq("1", "2"), Seq("2", "4"), Seq("1", "9"), Seq("3", "1"))
    val xlsx = Files.createTempDirectory("graft_src").resolve("p.xlsx").toString
    XlsxSource.writeXlsx(xlsx, Seq("S" -> grid))
    val xls = Files.createTempDirectory("graft_src").resolve("p.xls").toString
    BiffSource.writeXls(xls, Seq("S" -> grid))
    for (path <- Seq(xlsx, xls)) {
      val rep = parity(path, path, idRegion)(XlsxSource.readXlsx(spark, path))
      assert(codes(rep) == Set("unique-constraint", "maximum-constraint"), path)
    }

    val shp = Files.createTempDirectory("graft_src").resolve("p.shp").toString
    ShapefileSource.writeShapefile(shp, Seq("id", "region"), grid.tail, nullShapeAt = i => i == 1)
    val shpRep = parity("shapefile", shp, TableSchema(idRegion.fields :+ Field("adr_geometry_check")))(
      ShapefileSource.readShapefile(spark, shp))
    assert(codes(shpRep) == Set("unique-constraint", "maximum-constraint", "missing-geometry"))

    // 1,500 rows: repeated single keys, a composite PK whose member b is null
    // on every 50th (ragged) row, and 50 exact duplicate rows
    def row(i: Int) = if (i % 50 == 0) s"k$i,a${i % 700}" else s"k$i,a${i % 700},b${i % 2},n$i"
    val lines = (1 to 1400).map(row) ++ (1 to 50).map(row) ++ (1451 to 1500).map(i => s"k${i - 1400},z$i,b0,n$i")
    val keys = writeTmp("keys.csv", ("id,a,b,note" +: lines).mkString("\n"))
    val keySchema = TableSchema(
      Seq(Field("id", constraints = fc.copy(unique = true)), Field("a"), Field("b"), Field("note")),
      primaryKey = Seq("a", "b"))
    val withDupRows = ValidationOptions(checks = ValidationOptions.default.checks :+ "duplicate-row")
    val keyRep = parity("keys", keys, keySchema, withDupRows)(TableSource.readCsv(spark, keys))
    assert(codes(keyRep) == Set("missing-value", "unique-constraint", "duplicate-row"))

    // the per-code cap (1,000) hides the blank PK cell's required error
    // behind 1,010 earlier ones, so the uncapped probe decides that the
    // later duplicate PK is noise
    val capped = (1 to 1010).map(i => s"k$i,") ++ Seq(",x", "dup,y", "dup,z")
    val capPath = writeTmp("cap.csv", ("id,name" +: capped).mkString("\n"))
    val capSchema = TableSchema(
      Seq(Field("id", constraints = fc.copy(required = true)), Field("name", constraints = fc.copy(required = true))),
      primaryKey = Seq("id"))
    val capRep = parity("cap", capPath, capSchema)(TableSource.readCsv(spark, capPath))
    assert(codes(capRep) == Set("required-constraint"), "the uncapped probe must drop the unique-constraint noise")
  }

  test("json reader: array of objects, corrupt input is a source-error") {
    val good = writeTmp("ok.json", """[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]""")
    val df = TableSource.readJson(spark, good).toOption.get
    assert(df.count() == 2 && df.columns.sorted.toSeq == Seq("a", "b"))
    val bad = writeTmp("bad.json", """this is not json""")
    assert(TableSource.readJson(spark, bad).swap.toOption.get.code == "source-error")
  }

  test("geojson: features flattened to properties.* + adr_geometry_check (jobs.py:297-332)") {
    val geo = writeTmp("adr.geojson",
      """{"type": "FeatureCollection", "features": [
        |  {"type": "Feature", "properties": {"name": "depot", "capacity": 12},
        |   "geometry": {"type": "Point", "coordinates": [6.1, 49.6]}},
        |  {"type": "Feature", "properties": {"name": "annex", "capacity": 3},
        |   "geometry": null},
        |  {"type": "Feature", "properties": {"name": "yard", "capacity": 7},
        |   "geometry": {"type": "Point", "coordinates": []}}
        |]}""".stripMargin)
    val df = TableSource.readJson(spark, geo).toOption.get
    assert(df.columns.sorted.toSeq == Seq("adr_geometry_check", "capacity", "name"))
    val rows = df.collect().map(r => r.getAs[String]("name") -> r.getAs[Boolean]("adr_geometry_check")).toMap
    assert(rows == Map("depot" -> true, "annex" -> false, "yard" -> false))

    // ...and the synthesized column feeds the missing-geometry check
    import org.apache.spark.sql.functions._
    val withRid = df.withColumn("_rid", col("capacity").cast("long"))
    val schema = TableSchema(Seq(Field("adr_geometry_check")))
    val v = ValidationRunner
      .plan(withRid, schema, graft.runner.ValidationConfig(rowNumberCol = "_rid"))
      .violations.filter(col("code") === "missing-geometry")
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(v == Seq(3L, 7L)) // annex (capacity 3) and yard (capacity 7)
  }

  test("transpose: small sideways frame (jobs.py:390-396)") {
    import spark.implicits._
    val df = Seq(("r1", "1", "2"), ("r2", "3", "4")).toDF("k", "x", "y")
    val t = TableSource.transpose(df)
    val rows = t.collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(rows == Seq(Seq("k", "r1", "r2"), Seq("x", "1", "3"), Seq("y", "2", "4")))
  }

  test("column reorder mapping + violation remap (jobs.py:489-542)") {
    val headers = Seq("x", "a", "b")
    val schema = TableSchema(Seq(Field("a"), Field("b")))
    val (ordered, mapping) = PostProcess.schemaOrder(headers, schema)
    assert(ordered == Seq("a", "b", "x"))
    assert(mapping == Map(1 -> 2, 2 -> 3, 3 -> 1))
    val v = Violation("required-constraint", Some(5L), Some(1), "Column 1 is a required field, but row 5 has no value", Nil)
    val remapped = PostProcess.remapColumnNumbers(Seq(v), mapping).head
    assert(remapped.columnNumber.contains(2))
    assert(remapped.message == "Column 2 is a required field, but row 5 has no value")
  }

  test("transposition correction swaps row/column wording (jobs.py:399-407)") {
    val rep = ValidationReport(
      valid = false, errorCount = 1, tableCount = 1, time = 0, warnings = Nil,
      tables = Seq(TableReport("s", Nil, 1, 1, 0, valid = false,
        errors = Seq(Violation("missing-value", Some(2L), Some(4), "Row 2 has a missing value in column 4", Nil))))
    )
    val swapped = PostProcess.swapRowColumnWording(rep)
    assert(swapped.tables.head.errors.head.message == "Column 2 has a missing value in row 4")
  }

  test("source hiding rewrites tables[].source (jobs.py:155-160)") {
    val rep = ValidationReport(true, 0, 1, 0, Nil, Seq(TableReport("/data/local/file", Nil, 1, 0, 0, true, Nil)))
    assert(PostProcess.hideSource(rep, "http://example.com/x.csv").tables.head.source == "http://example.com/x.csv")
  }
}
