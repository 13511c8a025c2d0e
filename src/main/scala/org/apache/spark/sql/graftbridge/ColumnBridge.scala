package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal classic-API bridge: Column ⇄ catalyst Expression for custom
  * native expressions (Spark 4 made the direct constructors
  * private[sql]; this is the standard extension-library shim — no
  * internals are modified, only re-exported). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
