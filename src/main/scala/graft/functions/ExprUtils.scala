package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression-level let-binding.
  *
  * Catalyst's CollapseProject inlines intermediate projections into
  * every reference, so an expensive subexpression (a tokenization, a
  * hash array) referenced N times is evaluated N times — and when the
  * references sit inside higher-order-function lambdas, once per
  * element. `bind` forces single evaluation by wrapping the value in
  * a one-element array and binding it to a lambda variable: lambda
  * arguments are evaluated exactly once per row, and the whole
  * construct stays a codegen'd expression (no UDF, no shuffle, no
  * materialization barrier).
  */
object ExprUtils {

  /** let v = e in body(v) — e evaluated exactly once per row. */
  def bind(e: Column)(body: Column => Column): Column =
    element_at(transform(array(e), v => body(v)), 1)
}
