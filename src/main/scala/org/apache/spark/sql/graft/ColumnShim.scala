package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` API: the Column↔Expression
  * converters — the standard pattern for extension libraries that define
  * native Catalyst expressions (Spark 4 removed the public `Column(expr)`
  * constructor) — and the distributed sequence column. This package holds the only files outside the `graft` namespace.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df` with a leading `name` column numbering its rows 0, 1, … in
    * partition order, then row order within each partition: Spark's own
    * `AttachDistributedSequence` node, which one per-partition count pass
    * turns into offsets at execution time. Building the frame runs no job.
    */
  def withSequenceColumn(df: DataFrame, name: String): DataFrame =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .withSequenceColumn(name)
}
