package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}

/** Minimal bridge to Spark's private[sql] Column↔Expression conversions
  * (Spark 4 moved `Column.expr` behind `classic.ExpressionUtils`), and to
  * the plan steps that `graft.runner.PlanCache` runs without a
  * `QueryExecution`. Standard extension-library pattern: one object inside
  * the spark.sql package. */
object GraftBridge {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  private def classicOf(spark: SparkSession) = spark.asInstanceOf[classic.SparkSession]

  /** A frame over an already analyzed `plan` (`classic.Dataset.ofRows`).
    * A plan made by transforming an analyzed one loses its analyzed mark,
    * so the plan is marked again and the analyzer does not run on it. A
    * Dataset adds its id to the tag set on its plan's root; a transformed
    * plan copies that set by reference, so the tag is dropped first and the
    * new Dataset starts its own. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    plan.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    classic.Dataset.ofRows(classicOf(spark), plan)
  }

  /** Stands in for a `LocalRelation` while the optimizer runs: same output,
    * no rows, no row bound, the default size estimate. */
  private final case class OpaqueRows(output: Seq[Attribute]) extends LeafNode {
    override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)
  }

  /** The optimized form of an analyzed `plan` that holds for any rows of
    * its local relations. Each `LocalRelation` leaf is hidden behind an
    * opaque leaf with its output while the optimizer runs, so no rule reads
    * or counts its rows: `ConvertToLocalRelation` folds no filter or
    * projection into the rows on the driver, `PropagateEmptyRelation`
    * prunes no branch, and no rule uses `maxRows`. The leaves come back as
    * empty local relations, each with its output. */
  def optimizeOpaque(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    val s = classicOf(spark)
    val hidden = plan.transformWithSubqueries { case l: LocalRelation => OpaqueRows(l.output) }
    s.withActive(s.sessionState.optimizer.execute(hidden))
      .transformWithSubqueries { case o: OpaqueRows => LocalRelation(o.output, Nil) }
  }

  /** The executable physical plan of an optimized `plan`: planned and
    * prepared (exchanges, codegen stages) as a subquery is, without a
    * `QueryExecution` and without adaptive execution. */
  def prepare(spark: SparkSession, plan: LogicalPlan): SparkPlan = {
    val s = classicOf(spark)
    s.withActive(QueryExecution.prepareExecutedPlan(s, plan))
  }

  /** Runs a prepared plan and returns its rows, with the session's SQL
    * confs passed to the tasks and `description` as the job description of
    * this thread for the duration (restored after). No SQL execution is
    * posted: no query-UI event, no explain string. */
  def collect(spark: SparkSession, plan: SparkPlan, description: String): Array[InternalRow] = {
    val s = classicOf(spark)
    val sc = s.sparkContext
    val before = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION)
    sc.setJobDescription(description)
    try s.withActive(SQLExecution.withSQLConfPropagated(s)(plan.executeCollect()))
    finally sc.setLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION, before)
  }

  /** The id of `spark`, unique per session (`newSession` included); a key
    * that names a session by it does not keep the session reachable. */
  def sessionId(spark: SparkSession): String = classicOf(spark).sessionUUID

  /** Idempotent runtime registration of a scalar function builder. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
