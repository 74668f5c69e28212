package graft.runner

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan}
import org.apache.spark.sql.types.StructType

import graft.report.Violation
import graft.schema.TableSchema
import graft.sources.TableSource

/** Analyzed validation plans of driver-local inputs, kept per descriptor so
  * that the next resource of the same shape rebinds its rows instead of
  * building and analyzing the plan again.
  *
  * A driver-local input is a `LocalRelation` (the rows a parser holds on the
  * driver), bare or under `TableSource.localFrame`'s `Repartition(1)`
  * (`TableSource.local`). Its validation plan depends on the descriptor,
  * the config, the frame's schema, the one-partition shape and the
  * session's SQL confs (the analyzer binds the time zone and ANSI mode into
  * casts), never on the rows: every check reads the rows only through the
  * relation's leaves. A [[Template]] is that plan with the rows taken out
  * of every leaf; a resource with an equal [[Key]] puts its own rows back
  * into every leaf. The analyzer gives each branch of the violations union
  * its own copy of the leaf with its own attribute ids, so each leaf keeps
  * its `output`.
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
    * per header and size shape. No measurement of descriptor reuse sets it;
    * a template is row-free, so an entry costs only its plan trees. */
  val Bound = 16

  final case class Key(
      schema: TableSchema,
      cfg: ValidationConfig,
      frame: StructType,
      onePartition: Boolean,
      session: String,
      confs: Map[String, String]
  )

  /** The key of a local input's plan; None when it cannot be shared: a
    * table-ref foreign key joins a dimension frame, and an empty relation
    * would rebind to the template itself. The report's `source` label is
    * not part of the plan. */
  def key(df: DataFrame, in: TableSource.Local, schema: TableSchema, cfg: ValidationConfig): Option[Key] =
    if (cfg.dims.nonEmpty || in.relation.data.isEmpty) None
    else {
      val spark = df.sparkSession
      Some(Key(schema, cfg.copy(source = ""), df.schema, in.onePartition, GraftBridge.sessionId(spark), spark.conf.getAll))
    }

  /** A row-free validation plan: the analyzed uncapped violations (what
    * `plan()` returns and the saturated-cap probe reads), the analyzed
    * capped violations (what `run()` collects) and the driver-side parts. */
  final case class Template(
      violations: LogicalPlan,
      capped: LogicalPlan,
      headerViolations: Seq[Violation],
      headers: Seq[String]
  ) {
    /** the uncapped and the capped frame over `in`'s rows */
    def frames(spark: SparkSession, in: TableSource.Local): (DataFrame, DataFrame) = {
      val rows = in.relation.data
      (GraftBridge.ofRows(spark, bind(violations, rows)), GraftBridge.ofRows(spark, bind(capped, rows)))
    }
  }

  /** The template of a freshly built plan, or None unless every leaf of it
    * is the input's relation: a check that brought its own relation could
    * not be rebound, and any other leaf (an RDD) would keep its session. */
  def template(in: TableSource.Local, violations: DataFrame, capped: DataFrame,
      headerViolations: Seq[Violation], headers: Seq[String]): Option[Template] = {
    val plans = Seq(violations.queryExecution.analyzed, capped.queryExecution.analyzed)
    val ownLeaves = plans.forall(_.collectWithSubqueries { case l: LeafNode => l }.forall {
      case l: LocalRelation => l.data eq in.relation.data
      case _                => false
    })
    if (!ownLeaves) None
    else Some(Template(bind(plans(0), Nil), bind(plans(1), Nil), headerViolations, headers))
  }

  /** `plan` with `rows` in every local leaf, each leaf keeping its output. */
  private def bind(plan: LogicalPlan, rows: Seq[InternalRow]): LogicalPlan =
    plan.transformWithSubqueries { case l: LocalRelation => l.copy(data = rows) }

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
