package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters.
  *
  * Spark 4 decoupled the public `Column` API from Catalyst `Expression`s;
  * the classic converters live behind `private[sql]`. Extensions that add
  * native expressions (e.g. graft's SimHash64) need exactly these two
  * hops, so we expose them from inside the sql package namespace — the
  * same technique Spark connector libraries use. No Spark internals are
  * modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
