package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * spark/sql/core .../classic/columnNodeSupport.scala); extension libraries
  * shipping native expressions conventionally expose them from a shim inside
  * the `org.apache.spark.sql` namespace; this package holds the library's
  * only such shims (this one and [[CheckpointBridge]]). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
