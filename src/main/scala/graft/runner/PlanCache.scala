package graft.runner

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.report.Violation
import graft.schema.TableSchema
import graft.sources.TableSource

/** Validation plans of one-partition driver-local inputs, kept per
  * descriptor down to the optimized plan, so that the next resource of the
  * same shape binds its rows and runs instead of building, analyzing and
  * optimizing the plan again.
  *
  * A one-partition driver-local input is the `Repartition(1)` of a
  * `LocalRelation` (the rows a parser holds on the driver) that
  * `TableSource.localFrame` makes of a small resource (`TableSource.local`).
  * Its validation plan depends on the descriptor, the config, the frame's
  * schema and the session's SQL confs (the analyzer binds the time zone
  * and ANSI mode into casts), never on the rows: every check reads the
  * rows only through the relation's leaves. A [[Template]] is that plan
  * with the rows taken out of every leaf; a resource with an equal [[Key]]
  * puts its own rows back into every leaf. The analyzer gives each branch
  * of the violations union its own copy of the leaf with its own attribute
  * ids, so each leaf keeps its `output`.
  *
  * The capped plan, the one `run` collects, is kept optimized. It is
  * optimized once, on a miss, with its leaves hidden from the optimizer
  * (`GraftBridge.optimizeOpaque`), so it holds for any rows: no rule has
  * folded a filter into the rows on the driver or pruned a branch that
  * those rows left empty. A hit binds its rows into it, prepares it as a
  * physical plan and runs it: no analysis, no optimization, no
  * `QueryExecution`. Only a plan whose prepared form has no exchange is
  * kept, so adaptive execution would have nothing to adapt in it. A bare
  * relation (above `TableSource.OnePartitionBytes`) and a `rowLimit` input
  * (its limit may split) are planned afresh every time.
  *
  * Bounded at [[Bound]] entries, least recently used out first. A key names
  * its session by id, so one session never sees another's plans, and a
  * template's only leaves are emptied local relations: an entry holds no
  * rows and no reference to a session or its context, and the entries of a
  * stopped session only age out. A template holds no per-run state either:
  * a local input needs no row-count `Observation`, because the driver holds
  * its rows.
  *
  * The cache pays off only when resources repeat a key among the last
  * [[Bound]] ones, as in a portal that validates its uploads against a few
  * descriptors; a miss plans as without it, plus the work of keeping the
  * template. */
private[graft] object PlanCache {

  /** Entries kept, sized by hand: a few descriptors, each with one entry
    * per header. No measurement of descriptor reuse sets it; a template is
    * row-free, so an entry costs only its plan trees. */
  val Bound = 16

  final case class Key(
      schema: TableSchema,
      cfg: ValidationConfig,
      frame: StructType,
      session: String,
      confs: Map[String, String]
  )

  /** The key of a local input's plan; None when it is not kept: a bare
    * relation or a `rowLimit` may need an exchange, a table-ref foreign key
    * joins a dimension frame, and an empty relation would rebind to the
    * template itself. The report's `source` label is not part of the
    * plan. */
  def key(df: DataFrame, in: TableSource.Local, schema: TableSchema, cfg: ValidationConfig): Option[Key] =
    if (!in.onePartition || cfg.options.rowLimit.nonEmpty || cfg.dims.nonEmpty || in.relation.data.isEmpty) None
    else {
      val spark = df.sparkSession
      Some(Key(schema, cfg.copy(source = ""), df.schema, GraftBridge.sessionId(spark), spark.conf.getAll))
    }

  /** A row-free validation plan: the analyzed uncapped violations (what
    * `plan()` returns and the saturated-cap probe reads), the optimized
    * capped violations (what `run()` collects) and the driver-side parts. */
  final case class Template(
      violations: LogicalPlan,
      capped: LogicalPlan,
      headerViolations: Seq[Violation],
      headers: Seq[String]
  ) {
    /** the uncapped violations over `in`'s rows, already analyzed */
    def result(spark: SparkSession, in: TableSource.Local): ValidationResult =
      ValidationResult(GraftBridge.ofRows(spark, bind(violations, in.relation.data)), headerViolations, headers)

    /** the capped violations over `in`'s rows, run as one job labelled
      * `runner/run` */
    def collect(spark: SparkSession, in: TableSource.Local): Seq[Violation] =
      GraftBridge.collect(spark, GraftBridge.prepare(spark, bind(capped, in.relation.data)), "runner/run")
        .toSeq.map(violation)
  }

  /** The template of a freshly built plan, or None unless every leaf of it
    * is the input's relation and its prepared capped plan has no exchange:
    * a check that brought its own relation could not be rebound, any other
    * leaf (an RDD) would keep its session, and an exchange needs adaptive
    * execution. */
  def template(in: TableSource.Local, result: ValidationResult, capped: DataFrame): Option[Template] = {
    val plans = Seq(result.violations.queryExecution.analyzed, capped.queryExecution.analyzed)
    val ownLeaves = plans.forall(_.collectWithSubqueries { case l: LeafNode => l }.forall {
      case l: LocalRelation => l.data eq in.relation.data
      case _                => false
    })
    if (!ownLeaves) None
    else {
      val spark = capped.sparkSession
      val optimized = GraftBridge.optimizeOpaque(spark, bind(plans(1), Nil))
      if (GraftBridge.prepare(spark, optimized).exists(_.isInstanceOf[Exchange])) None
      else Some(Template(bind(plans(0), Nil), optimized, result.headerViolations, result.headers))
    }
  }

  /** `plan` with `rows` in every local leaf, each leaf keeping its output. */
  private def bind(plan: LogicalPlan, rows: Seq[InternalRow]): LogicalPlan =
    plan.transformWithSubqueries { case l: LocalRelation => l.copy(data = rows) }

  /** a row of the capped violations: (code, row_number, column_number,
    * message, row, partition_id) */
  private def violation(r: InternalRow): Violation = {
    def str(u: UTF8String) = if (u == null) null else u.toString
    Violation(
      code = str(r.getUTF8String(0)),
      rowNumber = if (r.isNullAt(1)) None else Some(r.getLong(1)),
      columnNumber = if (r.isNullAt(2)) None else Some(r.getInt(2)),
      message = str(r.getUTF8String(3)),
      row = if (r.isNullAt(4)) Nil else {
        val cells = r.getArray(4)
        (0 until cells.numElements()).map(i => str(cells.getUTF8String(i)))
      }
    )
  }

  private val entries = new java.util.LinkedHashMap[Key, Template](Bound, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Template]): Boolean = this.size() > Bound
  }

  def get(k: Key): Option[Template] = entries.synchronized(Option(entries.get(k)))
  def put(k: Key, t: Template): Unit = entries.synchronized(entries.put(k, t))

  private[graft] def size: Int = entries.synchronized(entries.size)
  private[graft] def templates: Seq[Template] =
    entries.synchronized(entries.values.toArray(Array.empty[Template]).toSeq)
  private[graft] def clear(): Unit = entries.synchronized(entries.clear())
}
