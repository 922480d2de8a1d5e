package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference program's `Point` arithmetic (`Point.add`,
  * `Point.div`, `Point.clear`) as `array<double>` column kernels built
  * from Catalyst higher-order functions. No operator uses them; the
  * algebraic-law and kernel specs keep them as the readable statement
  * of the reference semantics next to [[graft.functions.VectorOps]]. */
object PointOps {

  /** Component-wise vector add (reference `Point.add`). */
  def vecAdd(a: Column, b: Column): Column = zip_with(a, b, _ + _)

  /** Scalar divide (reference `Point.div`). */
  def vecDiv(a: Column, n: Column): Column = transform(a, _ / n)

  /** Scalar multiply. */
  def vecScale(a: Column, s: Column): Column = transform(a, _ * s)

  /** Zero vector of dimension d (reference `Point.clear`). */
  def vecZero(d: Int): Column = array_repeat(lit(0.0d), d)
}
