package graft.core

import graft.functions.{CosineSim, DotProduct}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions so any session built with
  * `--conf spark.sql.extensions=graft.core.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) gets the SQL surface — the
  * extension wiring of SURVEY §2's custom-operator tier. The UDF-backed
  * geometry functions register per-session via `GeoFunctions.register`
  * (UDFs are session-scoped by design). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "vec_cosine"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSim(exprs(0), exprs(1))))
    // the reference's calc DSL as a SQL scalar function:
    //   graft_calc('(A + B) * 2', colA, colB)
    // — bands bind positionally to A, B, …; the string must be a literal
    // (it compiles to a Catalyst expression tree at PLAN time, so the calc
    // runs fully codegen'd — there is no interpreter at runtime)
    e.injectFunction((
      FunctionIdentifier("graft_calc"),
      new ExpressionInfo(graft.functions.Calc.getClass.getName, "graft_calc"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val calcStr = exprs.headOption match {
          case Some(lit: org.apache.spark.sql.catalyst.expressions.Literal)
            if lit.dataType == org.apache.spark.sql.types.StringType &&
              lit.value != null => lit.value.toString
          case other => throw new IllegalArgumentException(
            "graft_calc: first argument must be a literal calc string, got " +
              other.fold("no arguments")(_.sql))
        }
        val names = ('A' to 'Z').take(exprs.size - 1).map(_.toString)
        val bands = names.zip(exprs.tail.map(
          org.apache.spark.sql.graftbridge.ColumnBridge.column)).toMap
        org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(
          graft.functions.Calc.column(calcStr, bands))
      }))
    // pure range joins ("point in interval", no equi key) rewrite to the
    // bucketized equi-join instead of a nested loop — SURVEY §2's custom
    // Rule tier; see graft.plans.RangeJoinBinning
    e.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
  }
}
