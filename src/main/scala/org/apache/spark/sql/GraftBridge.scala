package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` surface: Column <-> catalyst Expression
  * conversion for the compiled kernel calls ([[graft.dedup.KernelCall]] —
  * the classic-API equivalent of what `functions._` does internally).
  * Standard extension-library pattern for Spark 4's ColumnNode-backed Column.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
