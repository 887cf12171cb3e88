package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ⇄ Expression conversions (Spark 4
  * moved `Column.expr` behind `org.apache.spark.sql.classic.ExpressionUtils`).
  * Lives in the spark.sql package purely for access; no Spark internals are
  * modified.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an analyzed logical plan back into a DataFrame (`Dataset.ofRows`
    * is `private[sql]`) — the MV rewrite uses it to compose its
    * touched-grain extrema recompute over the query's own base subtree.
    */
  def dataFrame(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `schema` with every field, nested ones included, nullable — what a
    * file-source read makes of a data schema (`asNullable` is
    * `private[spark]`).
    */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
