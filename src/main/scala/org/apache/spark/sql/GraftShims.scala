package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.Decimal

/** Bridge for extension libraries: `ExpressionUtils` (the Column ⇄
  * Catalyst `Expression` adapter in Spark 4's classic API) is
  * `private[sql]`, so custom-expression packages outside the Spark
  * tree re-export it from a shim in the `org.apache.spark.sql`
  * package — the standard pattern used by Spark connector/extension
  * projects. No Spark internals are modified. The decimal pair does
  * the same for `graft.functions.ExactVectorSumAgg`, which must round
  * and fail exactly as Catalyst's ANSI cast and sum do.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `CAST(d AS DECIMAL(p,s))` under ANSI: HALF_UP, raising the cast's
    * out-of-range error. */
  def decimalCast(d: Decimal, p: Int, s: Int): Decimal =
    d.toPrecision(p, s, Decimal.ROUND_HALF_UP, nullOnOverflow = false)
  /** The ANSI grouped decimal `sum`'s overflow error. */
  def decimalSumOverflow(): ArithmeticException =
    QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}
