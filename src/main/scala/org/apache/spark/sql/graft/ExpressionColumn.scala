package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression bridge for the engine's own
  * expressions. Spark 4 keeps both conversions `private[sql]`; living
  * under `org.apache.spark.sql` lets the engine wrap an expression in
  * a Column directly, without registering a session function (a
  * registry write mutates state every concurrent reader shares). */
object ExpressionColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
