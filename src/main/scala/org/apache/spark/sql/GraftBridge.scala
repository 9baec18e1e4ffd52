package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` surface: Column <-> catalyst Expression
  * conversion for the compiled kernel calls ([[graft.dedup.KernelCall]] —
  * the classic-API equivalent of what `functions._` does internally), and
  * a literal column's value.
  * Standard extension-library pattern for Spark 4's ColumnNode-backed Column.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The value of a literal column (`lit(1L)`), None for any other column —
    * read before analysis, so a constant stays out of the plan it would
    * feed ([[graft.dedup.Ids.prefixSum]]'s weight). */
  def literal(c: Column): Option[Any] = c.node match {
    case internal.Literal(v, _, _) => Some(v)
    case _ => None
  }
}
