package graft.functions

import java.math.BigInteger

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, Encoder, GraftShims}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types.Decimal

/** Typed `Aggregator` computing an EXACT component-wise vector sum
  * over `array<double>` rows: component i of the result equals
  * `CAST(SUM(CAST(x[i] AS DECIMAL(38,12))) AS DOUBLE)` bit for bit —
  * the decimal bridge the engine's oracle-exact Lloyd rounds are
  * defined by (SURVEY.md §5.2) — without exploding rows ×dim.
  *
  *  - Each coordinate becomes its DECIMAL(38,12) unscaled integer the
  *    way Catalyst's cast does: `Decimal(x)` (HALF_UP over
  *    `Double.toString`), see [[ExactVectorSumAgg.unscaled]].
  *  - The buffer holds one 128-bit two's-complement integer per
  *    component (hi, lo longs), so summation is exact and associative
  *    like decimal addition: partial buffers merge in any order to the
  *    same bits.
  *  - `finish` converts through Spark's own `Decimal(…, 38, 12).toDouble`.
  *
  * SQL `sum` semantics per component: null elements, and NaN/±Infinity
  * (which the cast turns into null), are skipped; a component with no
  * other value is null. A null vector is skipped; a group with no
  * non-null vector finishes as a null vector. Overflow raises as the
  * ANSI cast and sum do (Spark 4's default mode): a coordinate outside
  * DECIMAL(38,12) raises the cast's error, a running or merged sum
  * outside it raises the sum's. All vectors of one group must have the
  * same length (the buffer is sized by the first).
  *
  * Two entry points share the per-element conversion and add: the
  * typed [[reduce]] behind the `exact_vec_sum` column, and
  * [[reduceArray]] over Catalyst's internal arrays, which
  * `KMeansNative`'s Lloyd loop feeds before merging task buffers with
  * [[merge]] and [[finish]] on the driver.
  */
class ExactVectorSumAgg
    extends Aggregator[Array[java.lang.Double], Array[Long], Seq[java.lang.Double]] {
  import ExactVectorSumAgg._

  // Buffer layout for a dim-d group: (hi, lo) of component i at 2i and
  // 2i+1, then ceil(d/64) words of "component i saw a value" bits. The
  // empty array is the zero (no vector seen yet).
  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(buf0: Array[Long], row: Array[java.lang.Double]): Array[Long] = {
    if (row == null) return buf0
    val dim = row.length
    val buf = sized(buf0, dim)
    var i = 0
    while (i < dim) {
      val b = row(i)
      if (b != null) addValue(buf, dim, i, b.doubleValue)
      i += 1
    }
    buf
  }

  /** [[reduce]] of the components [from, from + dim) of Catalyst's
    * internal form of a non-null `array<double>` value, which the caller
    * has checked it holds, for loops that read rows straight from a
    * plan's `toRdd`. */
  def reduceArray(buf0: Array[Long], row: ArrayData, from: Int, dim: Int): Array[Long] = {
    val buf = sized(buf0, dim)
    var i = 0
    while (i < dim) {
      if (!row.isNullAt(from + i)) addValue(buf, dim, i, row.getDouble(from + i))
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (b.length == 0) return a
    if (a.length == 0) return b
    require(a.length == b.length, "vectors of different lengths in one group")
    val dim = dimOf(a)
    var i = 0
    while (i < dim) { add(a, i, b(2 * i), b(2 * i + 1)); i += 1 }
    i = 2 * dim
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[java.lang.Double] = {
    if (buf.length == 0) return null
    val dim = dimOf(buf)
    val out = new Array[java.lang.Double](dim)
    var i = 0
    while (i < dim) {
      if (seen(buf, dim, i)) out(i) = toDouble(buf(2 * i), buf(2 * i + 1))
      i += 1
    }
    ArraySeq.unsafeWrapArray(out)
  }

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[java.lang.Double]] =
    ExpressionEncoder[Seq[java.lang.Double]]()
}

object ExactVectorSumAgg {
  /** Column-usable aggregate: `df.groupBy(k).agg(exact_vec_sum(col))`. */
  def exact_vec_sum(c: Column): Column =
    udaf(new ExactVectorSumAgg, ExpressionEncoder[Array[java.lang.Double]]()).apply(c)

  private val Precision = 38
  private val Scale = 12
  private val Pow = 1e12
  /** Below this magnitude x·1e12 < 2^52: its nearest integer is an
    * exact double and x's ulp is under half a DECIMAL(38,12) unit. */
  private val FastBound = 4096.0
  /** Slack on the half-point test for the one rounding in the fma
    * (≤ 2^-54 on a fraction below 1). */
  private val Slack = 1e-15
  /** [[fastUnscaled]]'s "use Spark's Decimal code" marker; no fast-path
    * value is this large. */
  private[graft] val NoFast = Long.MinValue

  /** 10^38 − 1: the largest DECIMAL(38,12) unscaled magnitude. */
  private val MaxUnscaled = BigInteger.TEN.pow(Precision).subtract(BigInteger.ONE)
  /** Any buffer whose hi word lies in [LoHi, HiHi] is within range. */
  private val HiHi = MaxUnscaled.shiftRight(64).longValue - 1
  private val LoHi = MaxUnscaled.negate.shiftRight(64).longValue + 1

  /** DECIMAL(38,12) unscaled value of `x` as Catalyst's
    * `CAST(x AS DECIMAL(38,12))` computes it, or null where the cast
    * gives null (NaN, ±Infinity); raises where the cast raises. */
  private[graft] def unscaled(x: Double): BigInteger = {
    val u = fastUnscaled(x)
    if (u != NoFast) BigInteger.valueOf(u) else slowUnscaled(x)
  }

  /** The cast's HALF_UP rounding of `Double.toString(x)`·1e12 without
    * the string: p + fma(x, 1e12, −p) is x·1e12 to within 2^-54, and
    * the decimal string lies within half an ulp of x, so wherever the
    * fraction x·1e12 − p is farther than 1e12·ulp(x)/2 from ±0.5 both
    * round to the same integer. [[NoFast]] near a half-point, for
    * |x| ≥ [[FastBound]] and for subnormal or non-finite x. */
  private[graft] def fastUnscaled(x: Double): Long = {
    val ax = Math.abs(x)
    if (!(ax < FastBound) || ax < java.lang.Double.MIN_NORMAL) {
      if (x == 0.0) 0L else NoFast
    } else {
      val p = Math.rint(x * Pow)
      val r = Math.fma(x, Pow, -p)
      val d = Math.abs(r) - 0.5
      if (Math.abs(d) <= 5e11 * Math.ulp(x) + Slack) NoFast
      else if (d < 0) p.toLong
      else if (r > 0) p.toLong + 1
      else p.toLong - 1
    }
  }

  /** Spark's own cast code: `Decimal(x)` to DECIMAL(38,12), HALF_UP,
    * raising on overflow. */
  private def slowUnscaled(x: Double): BigInteger =
    if (x.isNaN || x.isInfinite) null
    else GraftShims.decimalCast(Decimal(x), Precision, Scale).toJavaBigDecimal.unscaledValue

  private def bufferLength(dim: Int): Int = 2 * dim + (dim + 63) / 64
  /** `buf`, or a fresh buffer for the first vector of a group. */
  private def sized(buf: Array[Long], dim: Int): Array[Long] = {
    val b = if (buf.length == 0) new Array[Long](bufferLength(dim)) else buf
    require(b.length == bufferLength(dim), s"vector of length $dim in a group of another length")
    b
  }
  /** d from a buffer length 2d + ceil(d/64): 64·length lies in
    * [129d, 129d + 63]. */
  private def dimOf(buf: Array[Long]): Int = buf.length * 64 / 129
  private def markSeen(buf: Array[Long], dim: Int, i: Int): Unit =
    buf(2 * dim + (i >>> 6)) |= 1L << i
  private def seen(buf: Array[Long], dim: Int, i: Int): Boolean =
    (buf(2 * dim + (i >>> 6)) & (1L << i)) != 0

  /** Component i of a dim-d buffer += x converted as the cast does;
    * NaN/±Infinity (null after the cast) are skipped. */
  private def addValue(buf: Array[Long], dim: Int, i: Int, x: Double): Unit = {
    val u = fastUnscaled(x)
    if (u != NoFast) {
      add(buf, i, u >> 63, u)
      markSeen(buf, dim, i)
    } else {
      val big = slowUnscaled(x)
      if (big != null) {
        add(buf, i, big.shiftRight(64).longValue, big.longValue)
        markSeen(buf, dim, i)
      }
    }
  }

  /** buf[i] += (bh, bl), both in range, raising if the sum leaves it. */
  private def add(buf: Array[Long], i: Int, bh: Long, bl: Long): Unit = {
    val ah = buf(2 * i)
    val al = buf(2 * i + 1)
    val nlo = al + bl
    val nhi = ah + bh + (if (java.lang.Long.compareUnsigned(nlo, al) < 0) 1L else 0L)
    if (((ah ^ nhi) & (bh ^ nhi)) < 0) throw GraftShims.decimalSumOverflow()
    buf(2 * i) = nhi
    buf(2 * i + 1) = nlo
    if (nhi > HiHi || nhi < LoHi) checkRange(nhi, nlo)
  }

  private def checkRange(hi: Long, lo: Long): Unit =
    if (toBig(hi, lo).abs.compareTo(MaxUnscaled) > 0) throw GraftShims.decimalSumOverflow()

  private def toBig(hi: Long, lo: Long): BigInteger =
    BigInteger.valueOf(hi).shiftLeft(64).or(new BigInteger(java.lang.Long.toUnsignedString(lo)))

  private def toDouble(hi: Long, lo: Long): Double =
    if (hi == (lo >> 63)) Decimal(lo, Precision, Scale).toDouble
    else Decimal(new java.math.BigDecimal(toBig(hi, lo), Scale), Precision, Scale).toDouble
}
