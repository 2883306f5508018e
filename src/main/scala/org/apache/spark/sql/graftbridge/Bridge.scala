package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]`/`private[spark]` surface: Spark 4
  * removed the public `Column(expr)` constructor, so custom Catalyst
  * expressions (our distance kernels) need `classic.ExpressionUtils` to
  * become user-facing Columns. This is the narrow, sanctioned-by-convention
  * seam — nothing beyond the members below is exposed.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** The `num` least of `input` under `ord`, in order — the per-partition
    * top-k of `RDD.takeOrdered`, and its whole answer over one partition
    * (`util.collection.Utils` is private[spark]), so a driver-side top-k
    * picks and orders tied rows as it does. */
  def takeOrdered[T](input: Iterator[T], num: Int)(ord: Ordering[T])
      : Iterator[T] =
    org.apache.spark.util.collection.Utils.takeOrdered(input, num)(ord)
}
