package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.DotProductF

/** Library entry point for the Catalyst extension tier (SURVEY §7.3
  * preference order (c)): one class a user names in
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) to get the native
  * SQL functions, so plain-SQL users (thrift server, notebooks) call
  * `dot_product_f(a, b)` without any Scala registration step.
  *
  * Everything injected here is also reachable without extensions
  * (`DotProduct.register`) — the extension is the zero-code-change
  * path, not the only path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("dot_product_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "dot_product_f"),
      (exprs: Seq[Expression]) => DotProductF(exprs(0), exprs(1))))
}
