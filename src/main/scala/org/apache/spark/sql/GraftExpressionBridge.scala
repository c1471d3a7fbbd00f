package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column ⇄ Expression conversion so
  * the engine's custom Catalyst expressions can surface as `Column`s.
  * Lives in `org.apache.spark.sql` by necessity (the accessor is
  * `private[sql]` in Spark 4); the same approach public Spark extension
  * libraries use.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The top-level column names `c` references, as written. */
  def columnNames(c: Column): Seq[String] =
    c.node.collect { case a: internal.UnresolvedAttribute => a.nameParts.head }
}
