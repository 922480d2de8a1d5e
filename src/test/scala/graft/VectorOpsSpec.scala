package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps._
import graft.PointOps._

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private def eval(c: org.apache.spark.sql.Column): Double =
    Seq(1).toDF("x").select(c.cast("double")).collect()(0).getDouble(0)

  private val a = array(lit(1.0), lit(2.0), lit(3.0))
  private val b = array(lit(4.0), lit(6.0), lit(3.0))

  test("sqdist") { assert(eval(sqdist(a, b)) === 9.0 + 16.0) }
  test("euclidean") { assert(eval(euclidean(a, b)) === 5.0) }
  test("dot") { assert(eval(dot(a, b)) === 4.0 + 12.0 + 9.0) }
  test("norm2") { assert(eval(norm2(array(lit(3.0), lit(4.0)))) === 5.0) }
  test("cosine of identical vectors is 1") {
    assert(math.abs(eval(cosine(a, a)) - 1.0) < 1e-12)
  }
  test("cosine of orthogonal vectors is 0") {
    val x = array(lit(1.0), lit(0.0)); val y = array(lit(0.0), lit(1.0))
    assert(math.abs(eval(cosine(x, y))) < 1e-12)
  }
  test("vecAdd / vecDiv / vecZero") {
    val sum = Seq(1).toDF("x").select(vecAdd(a, b)).collect()(0).getSeq[Double](0)
    assert(sum === Seq(5.0, 8.0, 6.0))
    val div = Seq(1).toDF("x").select(vecDiv(a, lit(2.0))).collect()(0).getSeq[Double](0)
    assert(div === Seq(0.5, 1.0, 1.5))
    val z = Seq(1).toDF("x").select(vecZero(3)).collect()(0).getSeq[Double](0)
    assert(z === Seq(0.0, 0.0, 0.0))
  }
  test("toDouble casts float arrays") {
    val df = Seq(Array(1.5f, 2.5f)).toDF("v").select(toDouble(col("v")).as("v"))
    assert(df.schema("v").dataType.simpleString === "array<double>")
  }

  test("CovCellsAgg.d12Long == the JBig CAST(double AS DECIMAL(38,12)) path (r11 verdict task 6)") {
    import java.math.{BigDecimal => JBig, RoundingMode}
    def ref(x: Double): Long =
      new JBig(java.lang.Double.toString(x)).setScale(12, RoundingMode.HALF_UP)
        .unscaledValue.longValueExact
    // adversarial corners: zeros, exact halves at the 12th decimal,
    // E-notation magnitudes (|x| < 1e-3 stringifies scientific),
    // subnormals, float-derived values and their products
    val corners = Seq(0.0, -0.0, 1.0, -1.0, 0.5e-12, -0.5e-12, 1.5e-12,
      2.5e-13, 1e-13, 4.9e-324, -4.9e-324, 1.0e-4, -9.87654321e-5,
      0.1, -0.1, 0.001, 0.0009999999, 123456.789, -9000000.0,
      1.0 / 3.0, -2.0 / 3.0, math.Pi / 4)
    corners.foreach { x =>
      assert(graft.functions.CovCellsAgg.d12Long(x) === ref(x), s"corner $x")
    }
    val rng = new scala.util.Random(42)
    (1 to 20000).foreach { _ =>
      val f1 = (rng.nextFloat() * 2 - 1).toDouble
      val f2 = (rng.nextFloat() * 2 - 1).toDouble
      Seq(f1, f1 * f2, f1 * 1e-6, f1 * f2 * 1e-9).foreach { x =>
        assert(graft.functions.CovCellsAgg.d12Long(x) === ref(x), s"random $x")
      }
    }
  }

  test("cov_cells skips null and wrong-dim rows instead of crashing (r11 ADVICE)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("v", ArrayType(DoubleType), nullable = true)))
    val rows = java.util.Arrays.asList(
      Row(Seq(0.5, -0.25)), Row(null), Row(Seq(1.0)), Row(Seq(0.125, 0.75)))
    val df = spark.createDataFrame(rows, schema)
    val got = df.agg(graft.functions.CovCellsAgg.cov_cells(2)(col("v")).as("cells"))
      .selectExpr("inline(cells)")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq.sortBy(t => (t._1, t._2))
    // only the two clean dim-2 rows contribute — the null and the
    // ragged dim-1 row are skipped whole, n = 2 on every cell
    assert(got.map(_._3).forall(_ === 2L))
    assert(got === Seq(
      (0, 0, 2L, 0.625, 0.625, 0.265625),
      (0, 1, 2L, 0.625, 0.5, -0.03125),
      (1, 1, 2L, 0.5, 0.5, 0.625)))
  }

  test("BoundedTopK == the sorted-buffer idiom it replaces, k in {1, 4, 64} (r12 verdict task 7)") {
    val ord = Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long])
    val rng = new scala.util.Random(7)
    for (k <- Seq(1, 4, 64); trial <- 1 to 5) {
      val stream = Array.fill(2000)((rng.nextDouble() * 2 - 1, rng.nextLong()))
      // the replaced idiom, verbatim
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      stream.foreach { x =>
        if (buf.length < k || ord.lt(x, buf.last)) {
          buf += x
          val sorted = buf.sorted(ord)
          buf.clear(); buf ++= sorted.take(k)
        }
      }
      val heap = new graft.functions.BoundedTopK[(Double, Long)](k, ord)
      stream.foreach(heap.offer)
      assert(heap.iterator.toSeq === buf.toSeq, s"k=$k trial=$trial")
    }
    // short streams: heap not yet full
    val h2 = new graft.functions.BoundedTopK[(Double, Long)](8, ord)
    Seq((0.5, 3L), (0.9, 1L), (0.5, 2L)).foreach(h2.offer)
    assert(h2.iterator.toSeq === Seq((0.9, 1L), (0.5, 2L), (0.5, 3L)))
  }

  test("CovCellsAgg.d12Wide == the JBig 128-bit path past the long domain (r12 ADVICE)") {
    import java.math.{BigDecimal => JBig, BigInteger, RoundingMode}
    def ref(x: Double): BigInteger =
      new JBig(java.lang.Double.toString(x)).setScale(12, RoundingMode.HALF_UP)
        .unscaledValue
    def recompose(hi: Long, lo: Long): BigInteger =
      BigInteger.valueOf(hi).shiftLeft(64)
        .add(new BigInteger(java.lang.Long.toUnsignedString(lo)))
    // magnitudes past the 9.2e6 long fast path, up to the 128-bit rim
    val wides = Seq(9.3e6, -9.3e6, 1.0e7, 3033.7 * 3033.7, 1.23456789e12,
      -9.87654321e15, 1.0e20, -1.0e25, 1.6e26)
    wides.foreach { x =>
      val (hi, lo) = graft.functions.CovCellsAgg.d12Wide(x)
      assert(recompose(hi, lo) === ref(x), s"wide $x")
    }
    // past the 128-bit accumulator: loud failure, not silent overflow
    intercept[IllegalArgumentException] {
      graft.functions.CovCellsAgg.d12Wide(1.8e26)
    }
    intercept[IllegalArgumentException] {
      graft.functions.CovCellsAgg.d12Wide(Double.NaN)
    }
  }

  test("cov_cells matches the DECIMAL(38,12) explode plan on wide-domain components (r12 ADVICE)") {
    // components whose SQUARES cross the old 9.2e6 throw bound — the
    // r12 fast path rejected these; the wide fallback must land on
    // the exact decimal cells the batch explode plan computes
    val vecs = Seq(Seq(3500.0, -0.25), Seq(-4096.5, 12345.0), Seq(0.125, 9999.75))
    val df = vecs.toDF("v")
    val udafCells = df
      .agg(graft.functions.CovCellsAgg.cov_cells(2)(col("v")).as("cells"))
      .selectExpr("inline(cells)")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq.sortBy(t => (t._1, t._2))
    val explodeCells = df
      .select(posexplode(col("v")).as(Seq("i", "vi")), col("v"))
      .select(col("i"), col("vi"), posexplode(col("v")).as(Seq("j", "vj")))
      .filter(col("j") >= col("i"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        round(sum(col("vi").cast("decimal(38,12)")).cast("double"), 6).as("s_i"),
        round(sum(col("vj").cast("decimal(38,12)")).cast("double"), 6).as("s_j"),
        round(sum((col("vi") * col("vj")).cast("decimal(38,12)")).cast("double"), 6).as("s_xy"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq.sortBy(t => (t._1, t._2))
    assert(udafCells === explodeCells)
  }
}
