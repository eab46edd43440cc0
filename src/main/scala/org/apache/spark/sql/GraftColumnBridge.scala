package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column factory so graft's custom
  * Catalyst expressions (SURVEY.md H1) can be used as Columns without a
  * function-registry round-trip. Lives in the org.apache.spark.sql package
  * solely for access; no Spark internals are modified.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
