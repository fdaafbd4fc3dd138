package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Expression converters.
  *
  * Spark 4 made `Column.expr` / `new Column(expr)` internal
  * (`org.apache.spark.sql.classic.ExpressionUtils`); libraries registering
  * custom Catalyst expressions conventionally expose them through a shim in
  * the `org.apache.spark.sql` namespace. This and
  * `org.apache.spark.graftbridge.LocalProperties` are the only places the
  * engine reaches into Spark internals.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder on an EXISTING session (the
    * `withExtensions` path only applies at session build time, and
    * `getOrCreate` silently ignores it when a session is already active).
    */
  def registerFunction(
      spark: org.apache.spark.sql.classic.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(name, info, builder)
}
