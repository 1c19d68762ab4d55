package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnConversions, ExpressionColumnNode}
import org.apache.spark.sql.errors.QueryCompilationErrors

/** Spark 4 split the Column API from Catalyst; the Column <-> Expression
  * converters are `private[sql]`. This bridge lives under
  * `org.apache.spark.sql` (the standard extension escape hatch) to expose
  * exactly the two conversions the engine's native expressions need, plus
  * Spark's own wrong-arity analysis error for their SQL registrations.
  */
object ColumnBridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))
  def expression(c: Column): Expression = ColumnConversions.expression(c)
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)
}
