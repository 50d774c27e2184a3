package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression converters for graft's
  * native expressions (same pattern public Spark extension libraries use
  * for classic-mode Column construction on Spark 4). */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Every field nullable at every depth — the schema a file relation
    * exposes whatever its files declare. */
  def asNullable(t: types.StructType): types.StructType = t.asNullable
}
