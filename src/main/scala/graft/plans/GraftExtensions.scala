package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: injects every graft function at
  * session build, so a deployment enables the library with
  *
  * {{{
  *   spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * (or `withExtensions(new GraftExtensions)`, which `graft.GraftSession`
  * does for every session the program builds) and the functions exist
  * in EVERY session from the start — no per-session
  * `GraftExpressions.register` call, and catalogs/views can reference
  * them immediately. The imperative register() path stays for ad-hoc
  * sessions (`Graft.init`); both routes build the identical expression
  * trees.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit =
    // the SAME builder table the imperative register() path uses — one
    // definition, so the two routes can't drift (and every builder
    // carries the shared analysis-time arity guard)
    GraftExpressions.builders.foreach { case (name, usage, b) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), b))
    }
}
