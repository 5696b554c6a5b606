package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** A Catalyst expression as a `Column`. Spark 4 keeps that wrapper
  * package-private to `org.apache.spark.sql`, hence this package;
  * `graft.expr.ExactSums` builds its columns through it.
  */
object ExprColumn {
  def apply(e: Expression): Column = org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
