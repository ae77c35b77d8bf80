package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal `private[sql]` bridge: wrap a raw Catalyst Expression as a
  * `Column` (and back). [[graft.functions.Fns]] uses it to expose each
  * injected SQL function as a typed Column constructor built from the same
  * descriptor as the SQL surface — the same doorway Spark's own
  * `functions._` uses.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
