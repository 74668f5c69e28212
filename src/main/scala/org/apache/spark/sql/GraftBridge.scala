package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to Spark's private[sql] Column↔Expression conversions
  * (Spark 4 moved `Column.expr` behind `classic.ExpressionUtils`). Standard
  * extension-library pattern: one object inside the spark.sql package, no
  * behavior of its own. */
object GraftBridge {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A frame over an already analyzed `plan` (`classic.Dataset.ofRows`).
    * A Dataset adds its id to the tag set on its plan's root; a plan made
    * by transforming a shared one copies that set by reference, so the tag
    * is dropped first and the new Dataset starts its own. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame = {
    plan.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }

  /** The id of `spark`, unique per session (`newSession` included); a key
    * that names a session by it does not keep the session reachable. */
  def sessionId(spark: SparkSession): String = spark.asInstanceOf[classic.SparkSession].sessionUUID

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
