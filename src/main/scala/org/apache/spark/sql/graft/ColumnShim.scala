package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters — the
  * standard pattern for extension libraries that define native Catalyst
  * expressions (Spark 4 removed the public `Column(expr)` constructor).
  * This package holds the only files outside the `graft` namespace.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime SQL-function registration on an existing session (the
    * builder-time path is `SparkSessionExtensions.injectFunction`; this
    * covers sessions we didn't build, e.g. the driver's).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
