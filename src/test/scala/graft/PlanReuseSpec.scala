package graft

import java.nio.file.Files

import scala.util.{Random, Try}

import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LocalRelation, LogicalPlan, Repartition}

import graft.runner.{PlanCache, ValidationConfig, ValidationRunner}
import graft.schema._
import graft.sources.{TableSource, XlsxSource}

/** Plan reuse for one-partition driver-local inputs: a resource whose
  * descriptor, config, frame schema, session and SQL confs equal an
  * earlier one's binds its rows into that resource's cached optimized plan
  * and runs it. Every report here is compared with the report of a fresh
  * plan of the same resource (cache emptied first), byte for byte except
  * `time`. */
class PlanReuseSpec extends SparkSpec {

  private val people = TableSchema.parse(
    """{"primaryKey": "id", "fields": [
      |{"name": "id", "type": "integer", "constraints": {"required": true, "unique": true}},
      |{"name": "name", "type": "string", "constraints": {"required": true, "maxLength": 12}},
      |{"name": "age", "type": "integer", "constraints": {"minimum": 0, "maximum": 120}},
      |{"name": "email", "type": "string", "constraints": {"unique": true, "pattern": "[a-z]+@[a-z]+\\.org"}},
      |{"name": "country", "type": "string", "constraints": {"enum": ["fr", "de", "es"]}},
      |{"name": "joined", "type": "date", "format": "%Y-%m-%d"},
      |{"name": "dept", "type": "string", "foreignKey": ["sales", "eng", "ops"]},
      |{"name": "salary", "type": "number"},
      |{"name": "bonus", "type": "number"}],
      |"customConstraints": ["salary > bonus * 4"]}""".stripMargin).toOption.get
  private val header = Seq("id", "name", "age", "email", "country", "joined", "dept", "salary", "bonus")

  /** `n` People rows, a fifth of them with one planted defect (none
    * without `defects`); with `blankPk` one PK cell is blank, which drops
    * the unique-constraint errors from the report. */
  private def peopleRows(seed: Int, n: Int, blankPk: Boolean = false, defects: Boolean = true): Seq[Seq[String]] = {
    val rnd = new Random(seed)
    def letters(i: Int) = Integer.toString(i, 26).map(c => ('a' + Character.digit(c, 26)).toChar)
    (1 to n).map { i =>
      val cells = Array(i.toString, s"n$i", (20 + i % 50).toString, s"p${letters(i % 997)}@mail.org",
        Seq("fr", "de", "es")(i % 3), f"2020-01-${1 + i % 28}%02d", Seq("sales", "eng", "ops")(i % 3),
        (4000 + i).toString, (100 + i % 7).toString)
      if (defects && rnd.nextInt(5) == 0) rnd.nextInt(8) match {
        case 0 => cells(0) = (i - 1).max(1).toString
        case 1 => cells(1) = "a-very-long-name"
        case 2 => cells(2) = "130"
        case 3 => cells(3) = "bad-email"
        case 4 => cells(4) = "xx"
        case 5 => cells(5) = "2020/01/01"
        case 6 => cells(6) = "legal"
        case _ => cells(8) = "5000"
      }
      if (blankPk && i == n / 2) cells(0) = ""
      cells.toSeq
    }
  }

  private def tmpDir = Files.createTempDirectory("graft_reuse")

  private def csv(name: String, head: Seq[String], rows: Seq[Seq[String]]): String = {
    val f = tmpDir.resolve(name)
    Files.writeString(f, (head +: rows).map(_.mkString(",")).mkString("\n"))
    f.toString
  }

  private def xlsx(name: String, head: Seq[String], rows: Seq[Seq[String]]): String = {
    val path = tmpDir.resolve(name).toString
    XlsxSource.writeXlsx(path, Seq("Sheet1" -> (head +: rows)))
    path
  }

  private def timeless(json: String) = json.replaceAll("\"time\": [-0-9.eE]+", "\"time\": _")

  private def validate(path: String, schema: TableSchema, options: ValidationOptions = ValidationOptions.default) =
    timeless((if (path.endsWith(".xlsx")) ValidationRunner.runXlsx(spark, path, schema, options)
      else ValidationRunner.runCsv(spark, path, schema, options))._1.toJson)

  /** the report of a fresh plan: the cache is emptied first */
  private def fresh(path: String, schema: TableSchema, options: ValidationOptions = ValidationOptions.default) = {
    PlanCache.clear()
    validate(path, schema, options)
  }

  /** validates `path` and reports whether it rebound a cached plan: a hit
    * leaves every cached template in place, a miss adds or replaces one */
  private def hit(path: String, schema: TableSchema, options: ValidationOptions = ValidationOptions.default) = {
    val before = PlanCache.templates
    val json = validate(path, schema, options)
    val after = PlanCache.templates
    (json, after.size == before.size && after.forall(t => before.exists(_ eq t)))
  }

  private def localLeaves(p: LogicalPlan) = p.collectWithSubqueries { case l: LocalRelation => l }

  test("reuse: B through A's cached plan equals a fresh plan (CSV and XLSX share one entry)") {
    val a = csv("a.csv", header, peopleRows(1, 300))
    val b = csv("b.csv", header, peopleRows(2, 280))
    val x = xlsx("x.xlsx", header, peopleRows(3, 260, blankPk = true))
    val want = Seq(b, x).map(p => p -> fresh(p, people)).toMap
    PlanCache.clear()
    validate(a, people)
    assert(PlanCache.size == 1)
    for (p <- Seq(b, x)) {
      val (json, rebound) = hit(p, people)
      assert(rebound, s"$p must rebind A's plan: both are all-string frames with the same header")
      assert(json == want(p), p)
      assert(json.contains("pattern-constraint") && json.contains("unique-constraint") == (p == b), p)
    }
    assert(PlanCache.size == 1)
  }

  test("reuse: a cap-saturated resource with a blank PK cell takes the uncapped probe on a hit") {
    // the per-code cap (1,000) hides the blank PK cell's required error
    // behind 1,010 earlier ones; the probe reads the rebound uncapped plan
    val schema = TableSchema(
      Seq(Field("id", constraints = FieldConstraints(required = true)),
        Field("name", constraints = FieldConstraints(required = true))),
      primaryKey = Seq("id"))
    def rows(tag: String, n: Int) = (1 to n).map(i => Seq(s"$tag$i", "")) ++ Seq(Seq("", "x"), Seq("dup", "y"), Seq("dup", "z"))
    val a = csv("capA.csv", Seq("id", "name"), rows("a", 1020))
    val b = csv("capB.csv", Seq("id", "name"), rows("b", 1010))
    val want = fresh(b, schema)
    PlanCache.clear()
    validate(a, schema)
    val (json, rebound) = hit(b, schema)
    assert(rebound && json == want)
    assert(!json.contains("unique-constraint"), "the uncapped probe must drop the unique-constraint noise")
  }

  test("reuse: a header mismatch misses the cache") {
    val a = csv("h1.csv", header, peopleRows(4, 120))
    val renamed = header.updated(2, "years")
    val b = csv("h2.csv", renamed, peopleRows(5, 120))
    val want = fresh(b, people)
    PlanCache.clear()
    validate(a, people)
    val (json, rebound) = hit(b, people)
    assert(!rebound && PlanCache.size == 2)
    assert(json == want && json.contains("extra-header"), json.take(400))
  }

  test("reuse: a resource above OnePartitionBytes is planned afresh, with the parallel plan shape") {
    val schema = TableSchema(Seq(Field("id", constraints = FieldConstraints(unique = true)), Field("note")))
    // about 90 row bytes a row: 12,000 rows are above the 1 MiB bound
    def rows(tag: String, n: Int) = (1 to n).map(i => Seq(s"$tag${i % (n - 7)}", f"$i%060d"))
    val small = csv("small.csv", Seq("id", "note"), rows("s", 200))
    val a = csv("bigA.csv", Seq("id", "note"), rows("a", 12000))
    val b = csv("bigB.csv", Seq("id", "note"), rows("b", 12500))
    val parsedB = TableSource.readCsv(spark, b).toOption.get
    val cfg = ValidationConfig(rowNumberCol = "_row_number", source = b, headerInRowCount = true)
    val inB = TableSource.local(parsedB.df)
    assert(inB.exists(!_.onePartition), "above the bound the relation stays parallel")
    assert(PlanCache.key(parsedB.df, inB.get, schema, cfg).isEmpty, "a parallel relation has no plan-cache key")
    val want = fresh(b, schema)
    PlanCache.clear()
    validate(small, schema)
    validate(a, schema)
    assert(PlanCache.size == 1, "only the one-partition resource keeps its plan")
    assert(validate(b, schema) == want)
    assert(PlanCache.size == 1)
    val viols = ValidationRunner.plan(parsedB.df, schema, cfg).violations
    assert(!viols.queryExecution.analyzed.exists(_.isInstanceOf[Repartition]))
    assert(viols.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the parallel scan keeps the uniqueness prefilter")
  }

  test("reuse: a template holds for any rows: built from an all-clean or a one-row resource, a dirty one equals a fresh plan") {
    // optimized with its rows, the all-clean resource's plan would have
    // folded the row-check gate into an empty relation and pruned that
    // branch, and the one-row resource's would bound every leaf at one row
    val clean = csv("clean.csv", header, peopleRows(14, 150, defects = false))
    val one = csv("one.csv", header, peopleRows(15, 1))
    val dirty = csv("dirty.csv", header, peopleRows(16, 200))
    val want = fresh(dirty, people)
    assert(want.contains("pattern-constraint") && want.contains("unique-constraint"))
    for (first <- Seq(clean, one)) {
      PlanCache.clear()
      val firstJson = validate(first, people)
      assert(first != clean || firstJson.contains("\"error-count\": 0"), firstJson.take(300))
      val (json, rebound) = hit(dirty, people)
      assert(rebound && json == want, first)
    }
  }

  test("reuse: a hit runs no optimizer rule") {
    import org.apache.spark.sql.catalyst.rules.Rule
    val a = csv("o1.csv", header, peopleRows(17, 130))
    val b = csv("o2.csv", header, peopleRows(18, 140))
    val want = fresh(b, people)
    val isolated = spark.newSession()
    val fired = new java.util.concurrent.atomic.AtomicInteger
    isolated.experimental.extraOptimizations = Seq(new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = { fired.incrementAndGet(); plan }
    })
    PlanCache.clear()
    ValidationRunner.runCsv(isolated, a, people)
    assert(fired.get > 0 && PlanCache.size == 1, "a miss optimizes the template once")
    fired.set(0)
    val json = timeless(ValidationRunner.runCsv(isolated, b, people)._1.toJson)
    assert(fired.get == 0, "a hit binds its rows into the optimized plan and runs it")
    assert(PlanCache.size == 1 && json == want)
  }

  test("reuse: toggling ANSI mode or the session time zone gives the fresh-plan result") {
    val a = csv("c1.csv", header, peopleRows(6, 150))
    // a non-numeric salary: its cast fails under ANSI mode
    val b = csv("c2.csv", header, peopleRows(7, 150).updated(3, peopleRows(7, 150)(3).updated(7, "lots")))
    def outcome(body: => String): Either[String, String] =
      Try(body).toEither.left.map(_.getClass.getName)
    def analyzedB = {
      val df = TableSource.readCsv(spark, b).toOption.get.df
      ValidationRunner.plan(df, people, ValidationConfig(rowNumberCol = "_row_number")).violations.queryExecution.analyzed
    }
    for ((conf, value, bound) <- Seq(
        ("spark.sql.ansi.enabled", "true",
          (p: LogicalPlan) => p.expressions.exists(_.exists { case c: Cast => c.evalMode == EvalMode.ANSI; case _ => false })),
        ("spark.sql.session.timeZone", "America/New_York",
          (p: LogicalPlan) => p.expressions.exists(_.exists {
            case e: TimeZoneAwareExpression => e.timeZoneId.contains("America/New_York"); case _ => false })))) {
      val old = spark.conf.get(conf)
      try {
        PlanCache.clear()
        validate(a, people)
        spark.conf.set(conf, value)
        val viaCache = outcome(validate(b, people))
        assert(analyzedB.collect { case p if bound(p) => p }.nonEmpty, s"the plan under $conf=$value must bind it")
        val want = outcome(fresh(b, people))
        assert(viaCache == want, conf)
      } finally spark.conf.set(conf, old)
    }
    assert(outcome(validate(b, people)).isRight)
  }

  test("reuse: three threads validating at once get the reports of one thread") {
    val paths = (0 until 6).map { i =>
      val rows = peopleRows(20 + i, 100 + 40 * i, blankPk = i % 2 == 1)
      if (i % 3 == 2) xlsx(s"t$i.xlsx", header, rows) else csv(s"t$i.csv", header, rows)
    }
    val want = paths.map(p => p -> fresh(p, people)).toMap
    PlanCache.clear()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val runs = (0 until 3).flatMap(t => paths.indices.map(i => paths((i + 2 * t) % paths.size))).map { p =>
        p -> pool.submit(new java.util.concurrent.Callable[String] { def call() = validate(p, people) })
      }
      for ((p, f) <- runs) assert(f.get(2, java.util.concurrent.TimeUnit.MINUTES) == want(p), p)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  test("reuse: a session never gets another session's plan, and no template keeps an RDD leaf") {
    val a = csv("s1.csv", header, peopleRows(10, 140))
    val b = csv("s2.csv", header, peopleRows(11, 150))
    val want = fresh(b, people)
    PlanCache.clear()
    validate(a, people)
    val other = spark.newSession()
    assert(other.conf.getAll == spark.conf.getAll, "the sessions differ only in their id")
    val json = timeless(ValidationRunner.runCsv(other, b, people)._1.toJson)
    assert(PlanCache.size == 2, "the other session plans B afresh")
    assert(json == want)
    // all-string fields and blank-row skipped leave no row check: that
    // branch is an empty RDD, which holds its context, so the plan is not kept
    val plain = TableSchema(Seq(Field("id", constraints = FieldConstraints(unique = true)), Field("name")))
    val p = csv("s3.csv", Seq("id", "name"), Seq(Seq("1", "x"), Seq("1", "y")))
    val (plainJson, _) = hit(p, plain, ValidationOptions(skipChecks = Seq("blank-row")))
    assert(PlanCache.size == 2 && plainJson.contains("unique-constraint"))
    for (t <- PlanCache.templates; plan <- Seq(t.violations, t.capped))
      assert(plan.collectWithSubqueries { case l: LeafNode => l }.forall(_.isInstanceOf[LocalRelation]))
    // the optimized template keeps the row-check gate over its leaf: no
    // rows were folded into the relation while it was optimized
    for (t <- PlanCache.templates)
      assert(t.capped.exists { case Filter(_, _: LocalRelation) => true; case _ => false }, t.capped.treeString)
  }

  test("cache safety: bounded, row-free templates, a hit runs one job and plan() on a hit none") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    PlanCache.clear()
    val df = spark.createDataFrame(java.util.Arrays.asList(Row("a", 2L), Row("b", 3L), Row("a", 4L)),
      StructType(Seq(StructField("v", StringType), StructField("_rid", LongType)))).coalesce(1)
    assert(TableSource.local(df).exists(_.onePartition))
    for (i <- 1 to PlanCache.Bound + 4) {
      val schema = TableSchema(Seq(Field("v", constraints = FieldConstraints(unique = true, maxLength = Some(i)))))
      ValidationRunner.run(df, schema, ValidationConfig(rowNumberCol = "_rid"))
      assert(PlanCache.size == math.min(i, PlanCache.Bound))
    }
    val a = csv("j1.csv", header, peopleRows(8, 200))
    val b = csv("j2.csv", header, peopleRows(9, 220))
    validate(a, people)
    for (t <- PlanCache.templates; p <- Seq(t.violations, t.capped)) {
      val leaves = localLeaves(p)
      assert(leaves.nonEmpty && leaves.forall(_.data.isEmpty), "a cached template holds no rows")
    }
    val parsed = TableSource.readCsv(spark, b).toOption.get
    val cfg = ValidationConfig(rowNumberCol = "_row_number", source = b, headerInRowCount = true)
    assert(jobsOf(ValidationRunner.plan(parsed.df, people, cfg)) == 0, "plan() on a hit launches no job")
    var rebound = false
    assert(jobsOf { rebound = hit(b, people)._2 } == 1, "a hit validates in one job")
    assert(rebound)
  }

  test("local row count: a rowLimit CSV keeps its warning and rowCount, no count job") {
    val schema = TableSchema(Seq(
      Field("id", ftype = "integer", constraints = FieldConstraints(unique = true)),
      Field("name", constraints = FieldConstraints(maxLength = Some(2)))))
    val path = csv("limit.csv", Seq("id", "name"), (1 to 40).map(i => Seq(i.toString, s"n$i")))
    val opts = ValidationOptions(rowLimit = Some(10))
    var report: graft.report.ValidationReport = null
    // a limit may split, so uniqueness keeps its broadcast prefilter: its
    // broadcast job and the violations job. The raw row count is the
    // relation's, with no third job to count it.
    assert(jobsOf { report = ValidationRunner.runCsv(spark, path, schema, opts)._1 } == 2)
    assert(report.warnings == Seq("Table inspection has reached 10 row(s) limit"))
    assert(report.tables.head.rowCount == 11L, "10 scanned rows plus the header")
    assert(report.tables.head.errors.map(_.code).distinct == Seq("maximum-length-constraint"))
    assert(timeless(report.toJson) == fresh(path, schema, opts))
  }
}
