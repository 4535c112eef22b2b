package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.util.HadoopFSUtils

/** Bridge into the sql-private Column <-> Expression converters (Spark 4.x
  * wraps Column around ColumnNode; these are the supported internal hooks)
  * and into Spark's spark-private hidden-path rule. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Whether Spark's file listing skips a file or directory of this name:
    * `_SUCCESS`, `_temporary`, `.crc` and other `_`/`.` names (except
    * `_metadata`, `_common_metadata` and `_col=value` directories). */
  def hiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
