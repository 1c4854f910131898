package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** `private[sql]` bridge for Column <-> Expression conversion (the
  * [[StreamingBridge]] pattern): Spark 4's public
  * Column wraps a ColumnNode, so a library expression that carries
  * driver-side state (e.g. a trained model array inside
  * [[graft.functions.KMeansDists]]) cannot be constructed through the
  * string-registered SQL function path. This is the same conversion the
  * `functions` object uses internally.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
