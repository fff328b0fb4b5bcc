package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression conversion for the engine's native
  * kernels (`graft.functions`). Operators build a kernel as a plain
  * expression — `Native.col(DotProduct(Native.expr(a), Native.expr(b)))`
  * — so it runs in every session, whether or not `GraftExtensions` has
  * registered its SQL name. The conversions are `private[sql]` in Spark,
  * hence this package; ShimSpec pins them across Spark upgrades. */
object Native {
  def col(expr: Expression): Column = ExpressionUtils.column(expr)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
