package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Lives inside the
  * `org.apache.spark.sql` package scope to satisfy the access modifier —
  * the standard technique for Spark extension libraries that construct
  * custom Catalyst expressions as Columns directly. It is the only way a
  * graft kernel enters a plan: every `graft.functions` kernel has a
  * typed Column constructor built on it, and nothing is put in the
  * session-global function registry (last registration wins there, and
  * a registered name would replace a caller's own function).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
