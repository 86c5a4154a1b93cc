package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters.
  *
  * Spark 4 removed the public `new Column(expr)` constructor; libraries that
  * ship native Catalyst expressions (the standard extension mechanism —
  * `Expression` + `doGenCode`) reach the converters from inside the
  * `org.apache.spark.sql` package namespace, as every Spark connector/ext
  * library does. This package (with [[ListenerBridge]]) is the ONLY code
  * outside `graft.*`, and it contains no logic.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
