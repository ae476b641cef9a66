package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Bridge to Spark 4's `private[sql]` Column ↔ catalyst Expression
  * conversion for our custom expressions. Lives under org.apache.spark.sql
  * to satisfy the package-private accessors — the only place we step
  * outside the public API: to wrap our own Catalyst expressions as
  * Columns, and to drain the listener bus for `graft.tools.Explain`.
  */
object Bridge {
  /** Block until every event already posted to the listener bus has
    * been delivered (delivery is asynchronous), so a listener read right
    * after an action sees all of that action's stage events.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Column → catalyst Expression via the same ColumnNode converter the
    * classic Dataset API uses. `ExpressionUtils.expression` would hand
    * back an opaque `ColumnNodeExpression` placeholder for any Column
    * built from `org.apache.spark.sql.functions` (an internal
    * UnresolvedFunction node) — unusable inside a FunctionRegistry
    * builder, where nothing ever converts the placeholder and codegen
    * dies on it. The converter instead yields real (possibly unresolved)
    * catalyst nodes that the analyzer then resolves normally.
    */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
