package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, TypeCollection}

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * the supported seam for third-party Catalyst expressions (the same
  * accessor `org.apache.spark.sql.classic.ExpressionUtils` the built-in
  * DSL uses; it is package-private to sql, hence this package). */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The `array<float>`-or-`array<double>` input type of `graft_dot`
    * and `graft_lsh_bucket` (`TypeCollection` is `private[sql]`). */
  val FloatOrDoubleArray = TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))
}
