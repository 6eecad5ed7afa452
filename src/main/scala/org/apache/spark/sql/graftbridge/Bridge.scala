package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 split `Column` from Catalyst and made
  * the official converters `private[sql]`; custom-Expression libraries need
  * this one-hop bridge inside the sql namespace (the extension-developer
  * pattern — no Spark internals are modified). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column tree to a plain Catalyst expression tree
    * (UnresolvedFunction etc.), instead of [[expression]]'s lazy
    * ColumnNodeExpression wrapper. Function-registry builders need this:
    * the analyzer resolves ordinary unresolved children to a fixpoint, but
    * never looks inside the lazy wrapper, which then reaches codegen
    * unconverted and throws INTERNAL_ERROR. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Block until every listener event posted so far has been delivered,
    * so listener counters are complete before they are read (the
    * listener bus is `private[spark]`). */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
