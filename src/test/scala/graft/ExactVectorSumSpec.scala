package graft

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cluster.KMeansNative
import graft.functions.ExactVectorSumAgg
import graft.functions.ExactVectorSumAgg.exact_vec_sum

/** Pins [[ExactVectorSumAgg]] against Catalyst's own decimal cast and
  * sum evaluated in the same session: the per-coordinate conversion
  * (fast path and fallback), the per-component sums, null and
  * non-finite handling, and overflow. */
class ExactVectorSumSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20261017L)

  /** Catalyst's `CAST(x AS DECIMAL(38,12))` unscaled values (null where
    * the cast is null), in input order. */
  private def catalystUnscaled(xs: Seq[Double]): Seq[BigInteger] = {
    val s = spark
    import s.implicits._
    xs.zipWithIndex.toDF("x", "i").orderBy("i")
      .select(col("x").cast("decimal(38,12)")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getDecimal(0).unscaledValue).toSeq
  }

  /** The double nearest (m + 0.5)·1e-12 and its two neighbours, both signs. */
  private def halfPointsOf(m: BigInteger): Seq[Double] = {
    val x = new JBigDecimal(m).add(new JBigDecimal("0.5")).scaleByPowerOfTen(-12).doubleValue
    Seq(x, Math.nextUp(x), Math.nextDown(x)).flatMap(v => Seq(v, -v))
  }

  /** A random m with `digits` decimal digits. */
  private def randomM(digits: Int): BigInteger =
    new BigInteger(Seq.fill(digits)(rnd.nextInt(10)).mkString.dropWhile(_ == '0') match {
      case "" => "0"
      case d => d
    })

  private def sigDigits(x: Double): Int = {
    val mant = java.lang.Double.toString(Math.abs(x)).split('E')(0).replace(".", "")
    mant.dropWhile(_ == '0').reverse.dropWhile(_ == '0').length
  }

  // |x| < 4096 is the fast path's domain: x·1e12 < 4.1e15, so m has
  // up to 16 digits; 17-26 digits reach past the bound up to 1e14
  private lazy val halfPoints: Seq[Double] =
    (Seq(0, 1, 2, 7, 12345, 999999).map(BigInteger.valueOf(_)) ++
      (1 to 26).flatMap(d => Seq.fill(12)(randomM(d))) ++
      // the 4096 bound: half-points just below and above it
      (-3 to 3).map(i => BigInteger.valueOf(4096000000000000L + i)))
      .flatMap(halfPointsOf)

  private lazy val specials: Seq[Double] = Seq(
    0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL, Math.nextDown(java.lang.Double.MIN_NORMAL), 1e-310, -2.5e-320,
    5e-13, -5e-13, 1.5e-12, -1.5e-12, 4.9999999999999e-13, 0.1 + 0.2,
    4096.0, -4096.0, Math.nextDown(4096.0), Math.nextUp(4096.0), -Math.nextDown(4096.0),
    4095.9999999999995, 4096.0000000000005, 1e14, -1e14, 99999999999999.98,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  // 17-significant-digit toString values across magnitudes, plus the
  // kinds of values the engine sums: float embeddings widened to
  // double, and the same scaled ×1234.5678
  private lazy val seventeen: Seq[Double] =
    (-13 to 14).flatMap(e => Iterator.continually((rnd.nextDouble() * 2 - 1) * math.pow(10, e))
      .filter(sigDigits(_) == 17).take(20))
  private lazy val embeddingLike: Seq[Double] =
    Seq.fill(2000)(rnd.nextGaussian().toFloat.toDouble).flatMap(x => Seq(x, x * 1234.5678))

  test("fast double->DECIMAL(38,12) conversion equals Catalyst's cast") {
    val xs = halfPoints ++ specials ++ seventeen ++ embeddingLike
    assert(seventeen.length >= 500)
    val want = catalystUnscaled(xs)
    xs.zip(want).foreach { case (x, w) =>
      assert(ExactVectorSumAgg.unscaled(x) == w, s"x=$x (${java.lang.Double.toString(x)})")
    }
    // the grid exercises both paths, the fast one right next to the
    // half-points: their one-ulp neighbours below 1 are decided fast
    val fast = xs.filter(ExactVectorSumAgg.fastUnscaled(_) != ExactVectorSumAgg.NoFast)
    assert(fast.length > xs.length / 2 && fast.length < xs.length)
    val nearHalf = halfPoints.grouped(6).flatMap(_.slice(2, 6)).filter(x => Math.abs(x) < 1.0).toSeq
    assert(nearHalf.count(ExactVectorSumAgg.fastUnscaled(_) != ExactVectorSumAgg.NoFast) >
      nearHalf.length / 2)
  }

  /** The Spark error condition `f` raises, wherever it sits in the cause chain. */
  test("coordinates past DECIMAL(38,12) raise as the ANSI cast does") {
    for (x <- Seq(1e26, -1e26, 1e30, Double.MaxValue)) {
      val want = conditionOf(catalystUnscaled(Seq(x)))
      assert(conditionOf(ExactVectorSumAgg.unscaled(x)) === want, s"x=$x")
      assert(conditionOf(exactSums(vectors(Seq((1, v(x)))))) === want, s"agg x=$x")
    }
    assert(ExactVectorSumAgg.unscaled(9.9e25) == catalystUnscaled(Seq(9.9e25)).head)
  }

  private def vectors(rows: Seq[(Int, Seq[java.lang.Double])], parts: Int = 1): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("g", "v").repartition(parts)
  }

  private def bitsOf(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  /** (g, dim) -> bits of the decimal-bridge sum (the definition). */
  private def decimalSums(df: DataFrame): Map[(Int, Int), Option[Long]] =
    df.select(col("g"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("g", "dim")
      .agg(sum(col("x").cast("decimal(38,12)")).cast("double"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> bitsOf(r, 2)).toMap

  /** (g, dim) -> bits of exact_vec_sum's component. */
  private def exactSums(df: DataFrame): Map[(Int, Int), Option[Long]] =
    df.groupBy("g").agg(exact_vec_sum(col("v")).as("s"))
      .select(col("g"), posexplode(col("s")).as(Seq("dim", "x")))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> bitsOf(r, 2)).toMap

  test("exact_vec_sum equals the decimal SUM per component, bit for bit") {
    // mixed magnitudes per component, including sums past 64 bits
    // unscaled (|x| ≥ ~1e7) and values only the fallback converts
    val pool = (halfPoints ++ specials ++ seventeen ++ embeddingLike)
      .filter(x => !x.isNaN && !x.isInfinite && Math.abs(x) < 1e20)
    val rows = Seq.fill(3000) {
      (rnd.nextInt(7), Seq.fill(9)(java.lang.Double.valueOf(pool(rnd.nextInt(pool.length)))))
    }
    val want = decimalSums(vectors(rows))
    assert(want.values.forall(_.isDefined))
    for (p <- Seq(1, 5, 23)) assert(exactSums(vectors(rows, p)) === want, s"partitions=$p")
  }

  private def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  test("null vectors, null elements and NaN/Infinity behave as the decimal SUM") {
    val nul: java.lang.Double = null
    val rows = Seq[(Int, Seq[java.lang.Double])](
      (1, v(1.0, nul, 2.0)), (1, v(2.0, nul, Double.NaN)), (1, null),
      (2, v(9.0, 11.0, 10.0)), (2, v(11.0, Double.NegativeInfinity, Double.PositiveInfinity)),
      (3, null), (4, v(Double.NaN, 1.0, nul)), (4, v(Double.PositiveInfinity, nul, nul)))
    for (p <- Seq(1, 3)) {
      val df = vectors(rows, p)
      // component 1 of group 1 has only nulls, component 0 of group 4
      // only values the cast nulls: null, as SUM gives
      assert(exactSums(df) === decimalSums(df), s"partitions=$p")
      // a group of null vectors finishes null, never a vector
      val g3 = df.groupBy("g").agg(exact_vec_sum(col("v"))).filter(col("g") === 3).collect()
      assert(g3.length === 1 && g3(0).isNullAt(1))
    }
    // through the Lloyd operators: the null vector joins no cluster,
    // null coordinates are skipped by the sum and counted in n
    val s = spark
    import s.implicits._
    val centers = Array(Array(0.0, 0.0, 0.0), Array(10.0, 10.0, 10.0))
    def lloydParity(pts: DataFrame): Unit = {
      val assigned = KMeansNative.assigned(pts, col("v"), centers)
      val acc = KMeansNative.accumulate(assigned, col("v"))
      assert(acc.filter(col("cluster_id").isNull).count() === 0)
      def rowSet(df: DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getInt(1), bitsOf(r, 2), r.getLong(3))).toSet
      assert(rowSet(acc) === rowSet(LegacyLloyd.accumulate(assigned, col("v"))))
      assert(rowSet(KMeansNative.average(acc)) === rowSet(LegacyLloyd.average(assigned, col("v"))))
    }
    val pts = rows.filter(_._1 <= 3).map(_._2).toDF("v")
    lloydParity(pts)
    // fitExact: the null vector never reaches the driver loop ...
    val fine = Seq(v(1.0, nul, 2.0), v(3.0, 5.0, Double.NaN), null,
      v(9.0, 11.0, 10.0), v(11.0, 12.0, Double.PositiveInfinity)).toDF("v")
    lloydParity(fine)
    val exact = KMeansNative.fitExact(fine, "v", centers, 3).map(_.toSeq).toSeq
    assert(exact === LegacyLloyd.fitExact(fine, "v", centers, 3).map(_.toSeq).toSeq)
    // fit runs the same round, so it skips the null vector too
    assert(KMeansNative.fit(fine, "v", centers, 3, tol = -1.0).centers.map(_.toSeq).toSeq === exact)
    // ... and an all-null component fails the round, as reading the
    // null average it stands for did (now with a named error)
    assert(conditionOf(LegacyLloyd.fitExact(pts, "v", centers, 1)) === "ROW_VALUE_IS_NULL")
    for (run <- Seq(() => KMeansNative.fitExact(pts, "v", centers, 1),
                    () => KMeansNative.fit(pts, "v", centers, 1))) {
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("cluster 0") && e.getMessage.contains("component 1"))
    }
  }

  test("sums past DECIMAL(38,12) raise as the ANSI sum does") {
    def big(xs: Double*): Seq[(Int, Seq[java.lang.Double])] =
      xs.map(x => (1, v(x)))
    for ((rows, p) <- Seq(big(6e25, 6e25) -> 1, big(6e25, 6e25) -> 2,
                          big(6e25, 6e25, -6e25) -> 1, big(-6e25, -6e25) -> 2)) {
      val want = conditionOf(decimalSums(vectors(rows, p)))
      assert(conditionOf(exactSums(vectors(rows, p))) === want, s"$rows partitions=$p")
    }
    // just inside the range both agree
    val ok = vectors(big(4.9e25, 4.9e25, -1e25, 3.3e-12), 2)
    assert(exactSums(ok) === decimalSums(ok))
  }
}
