package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** The `private[sql]` seams graft needs, each with its one-line
  * justification. Nothing else may go through here without the same.
  *
  *  - [[ofRows]]: the dailystore SQL DML commands wrap an
  *    already-resolved LogicalPlan as a DataFrame (`classic.Dataset.ofRows`
  *    is sql-package-private; a bridge object under `org.apache.spark.sql`
  *    is the established pattern for extensions that execute
  *    analyzer-rewritten commands — the alternative would re-parse or
  *    re-resolve plans the analyzer already resolved).
  *  - [[column]] / [[expression]]: graft's Column APIs build their
  *    Catalyst expression directly (`classic.ExpressionUtils` is
  *    sql-package-private) — the alternative, `call_function` by name,
  *    resolves through a session registry, which fails with "undefined
  *    function" in any session the name was not installed in.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `e` as a Column; an aggregate function is wrapped the way the
    * analyzer wraps a resolved aggregate call (`toAggregateExpression`).
    */
  def column(e: Expression): Column = ExpressionUtils.column(e match {
    case agg: AggregateFunction => agg.toAggregateExpression()
    case other => other
  })

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
