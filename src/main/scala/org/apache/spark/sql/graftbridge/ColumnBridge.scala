package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` constructor; the blessed
  * converter lives in `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is `private[sql]`. This bridge re-exports the two conversions our custom
  * Catalyst expressions need — the standard extension-point shim for
  * libraries shipping native expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column → catalyst Expression conversion. `expression` wraps the
    * column node lazily (fine inside Dataset API paths, where the analyzer
    * unwraps it), but an expression returned from a FunctionRegistry
    * builder is spliced straight into the analyzed tree — a lazy wrapper
    * there survives to codegen as Unevaluable. This converts the whole
    * node tree to plain catalyst (UnresolvedFunction etc., which the
    * analyzer then resolves normally). */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)
}
