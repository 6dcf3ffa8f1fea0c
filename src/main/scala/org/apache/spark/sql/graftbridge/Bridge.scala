package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark API needed by custom Catalyst
  * expressions: Expression ⇄ Column conversion. Living under
  * `org.apache.spark.sql` is the established pattern for Spark-native
  * extensions (the alternative — string-building `expr(...)` — loses type
  * safety and composability).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** LogicalPlan → DataFrame, for optimizer rules that assemble their
    * rewrite with the (public, battle-tested) DataFrame API instead of
    * hand-built logical nodes. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The union of two schemas as a `mergeSchema` scan takes it
    * (`StructType.merge` is `private[sql]`): `a`'s fields first, then
    * `b`'s new ones; a type conflict throws. */
  def merge(a: org.apache.spark.sql.types.StructType, b: org.apache.spark.sql.types.StructType,
            caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)
}
