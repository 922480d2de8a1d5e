package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed `Aggregator` computing a component-wise vector sum over
  * `array<double>` rows — the UDAF surface of the engine (SURVEY.md
  * §2.2 "UDF/UDAF/UDTF"). Catalyst plans it as partial + final
  * ObjectHashAggregate, so only k×numPartitions buffers shuffle: the
  * same combiner shape as the reference's grouped reduce, without
  * exploding rows ×dim like the posexplode formulation. No Lloyd loop
  * uses it (the fits sum exactly, see [[ExactVectorSumAgg]]); it is the
  * double-summing member of the function surface.
  */
class VectorSumAgg(dim: Int) extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
  override def zero: Array[Double] = new Array[Double](dim)
  override def reduce(buf: Array[Double], row: Seq[Double]): Array[Double] = {
    var i = 0
    while (i < dim) { buf(i) += row(i); i += 1 }
    buf
  }
  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    var i = 0
    while (i < dim) { a(i) += b(i); i += 1 }
    a
  }
  override def finish(buf: Array[Double]): Seq[Double] = buf.toSeq
  override def bufferEncoder: Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

object VectorSumAgg {
  /** Column-usable aggregate: `df.groupBy(k).agg(vec_sum(dim)(col))`. */
  def vec_sum(dim: Int)(c: Column): Column = udaf(new VectorSumAgg(dim)).apply(c)
}
