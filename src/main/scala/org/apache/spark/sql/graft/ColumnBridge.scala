package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the sql-private Column↔Expression converters: the one
  * way graft binds a driver-held table (PQ codebooks, k-means
  * centroids, BPE ranks, bloom bits) into a native expression, which
  * the FunctionRegistry path of [[graft.expressions.GraftFunctions]]
  * could only carry as literals.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
