package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.operators.{AsOf, Quantiles}

class StatsSpec extends SparkSpec {

  /** Quantiles of one column pivoted to named columns. */
  private def quantileColumns(df: DataFrame, groupCol: String, valueCol: String,
                              named: Seq[(String, Double)],
                              buckets: Int = 1 << 20): DataFrame = {
    val q = Quantiles.exactQuantiles(df, groupCol, valueCol, named.map(_._2), buckets)
    val agg = named.map { case (name, p) =>
      max(when(abs(col("q") - p) < 1e-12, col("value"))).as(name)
    }
    q.groupBy(groupCol).agg(agg.head, agg.tail: _*)
  }

  import spark.implicits._

  test("asof join attaches the latest right row at or before each left ts") {
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val left = Seq((1L, 7L, ts(5)), (2L, 7L, ts(15)), (3L, 7L, ts(25)), (4L, 8L, ts(10)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((7L, ts(0), 100L), (7L, ts(15), 200L), (7L, ts(30), 300L))
      .toDF("user_id", "ts", "p_event_id")
    val got = AsOf.joinLatestBefore(left, right, "user_id", "ts", Seq("p_event_id"))
      .select("event_id", "_r_p_event_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got === Map(1L -> 100L, 2L -> 200L, 3L -> 200L, 4L -> -1L))
  }

  test("asof join attaches the whole right row atomically when values are null") {
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val left = Seq((1L, 7L, ts(90))).toDF("event_id", "user_id", "ts")
    val right = Seq((7L, ts(0), Some(5L)), (7L, ts(60), None))
      .toDF("user_id", "ts", "p_event_id")
    val got = AsOf.joinLatestBefore(left, right, "user_id", "ts", Seq("p_event_id"))
      .select("_r_p_event_id", "_r_ts").collect()(0)
    // most recent right row (ts=60) has a NULL value: the output must
    // carry that NULL, not borrow 5 from the older row
    assert(got.isNullAt(0), s"expected null p_event_id, got $got")
    assert(got.getTimestamp(1) === ts(60))
  }

  test("forward asof join attaches the earliest right row at or after each left ts") {
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val left = Seq((1L, 7L, ts(5)), (2L, 7L, ts(15)), (3L, 7L, ts(31)), (4L, 8L, ts(10)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((7L, ts(0), 100L), (7L, ts(15), 200L), (7L, ts(30), 300L))
      .toDF("user_id", "ts", "p_event_id")
    val got = AsOf.joinEarliestAfter(left, right, "user_id", "ts", Seq("p_event_id"))
      .select("event_id", "_r_p_event_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // event 2 at ts=15 matches the equal-ts right row (inclusive);
    // event 3 is after the last right row -> no match; user 8 has none
    assert(got === Map(1L -> 200L, 2L -> 200L, 3L -> -1L, 4L -> -1L))
  }

  test("forward asof equals backward asof on the time-reversed stream") {
    // reversing time maps earliest-after onto latest-before: a
    // direction-agnostic law tying the two implementations together
    val events = graft.io.Tables.events(spark, sf001)
      .select("event_id", "user_id", "ts").limit(500)
    val purchases = graft.io.Tables.events(spark, sf001)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("event_id").as("p_event_id"))
    val fwd = AsOf.joinEarliestAfter(events, purchases, "user_id", "ts", Seq("p_event_id"))
      .select("event_id", "_r_p_event_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    val negTs = expr("timestamp_micros(-unix_micros(ts))")
    val bwd = AsOf.joinLatestBefore(
        events.withColumn("ts", negTs), purchases.withColumn("ts", negTs),
        "user_id", "ts", Seq("p_event_id"))
      .select("event_id", "_r_p_event_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(fwd === bwd)
  }

  test("asof join preserves left row count (left-join semantics)") {
    val events = graft.io.Tables.events(spark, sf001)
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("event_id").as("p_event_id"))
    val j = AsOf.joinLatestBefore(events.select("event_id", "user_id", "ts"),
      purchases, "user_id", "ts", Seq("p_event_id"))
    assert(j.count() === events.count())
  }

  test("nearest asof picks the smaller gap either side; ties go backward") {
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val left = Seq((1L, 7L, ts(10)), (2L, 7L, ts(21)), (3L, 7L, ts(100)), (4L, 8L, ts(5)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((7L, ts(0), 100L), (7L, ts(20), 200L), (7L, ts(22), 300L))
      .toDF("user_id", "ts", "p_event_id")
    val got = AsOf.joinNearest(left, right, "user_id", "ts", Seq("p_event_id"))
      .select("event_id", "_r_p_event_id", "_dir").collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getString(2))).toMap
    // event 1: back 100 at gap 10 vs fwd 200 at gap 10 — tie -> back
    // event 2: back 200 gap 1 vs fwd 300 gap 1 — tie -> back
    // event 3: only backward candidates remain -> 300
    // event 4: user 8 has no purchases -> none
    assert(got === Map(1L -> ((100L, "back")), 2L -> ((200L, "back")),
      3L -> ((300L, "back")), 4L -> ((-1L, "none"))))
    val fwdOnly = AsOf.joinNearest(
      Seq((9L, 7L, ts(0))).toDF("event_id", "user_id", "ts")
        .withColumn("ts", col("ts") - expr("INTERVAL 30 MINUTES")),
      right, "user_id", "ts", Seq("p_event_id"))
      .select("_r_p_event_id", "_dir").collect()(0)
    assert((fwdOnly.getLong(0), fwdOnly.getString(1)) === ((100L, "fwd")))
  }

  test("nearest asof agrees with the two directed joins on fixture data") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts")
    val purchases = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("event_id").as("p_event_id"))
    val near = AsOf.joinNearest(events, purchases, "user_id", "ts", Seq("p_event_id"))
      .select(col("event_id"), col("_r_p_event_id"),
        abs(unix_micros(col("ts")) - unix_micros(col("_r_ts"))).as("gap"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(near.length === events.count())
    val back = AsOf.joinLatestBefore(events, purchases, "user_id", "ts", Seq("p_event_id"))
      .select(col("event_id"),
        (unix_micros(col("ts")) - unix_micros(col("_r_ts"))).as("g"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Long.MaxValue else r.getLong(1))).toMap
    val fwd = AsOf.joinEarliestAfter(events, purchases, "user_id", "ts", Seq("p_event_id"))
      .select(col("event_id"),
        (unix_micros(col("_r_ts")) - unix_micros(col("ts"))).as("g"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) Long.MaxValue else r.getLong(1))).toMap
    near.foreach { case (id, pid, gap) =>
      val expectGap = math.min(back(id), fwd(id))
      if (expectGap == Long.MaxValue) assert(pid === -1L && gap === -1L, s"event $id")
      else assert(gap === expectGap, s"event $id")
    }
  }

  test("approx_count_distinct is within 5% of exact at rsd=0.02") {
    val exact = graft.queries.StatsQueries.countDistinct(spark, sf001)
      .select("l_returnflag", "nd_parts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.queries.StatsQueries.approxDistinctRaw(spark, sf001)
      .select("l_returnflag", "approx_parts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) <= math.max(1, e * 0.05), s"$k: $e vs ${approx(k)}")
    }
  }

  test("two-level exact quantiles equal the built-in percentile bit-for-bit") {
    import org.apache.spark.sql.functions._
    val li = graft.io.Tables.lineitem(spark, sf001)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val builtin = asMap(li.groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, 0.5)").as("p50"),
      expr("percentile(l_extendedprice, 0.95)").as("p95")))
    val named = Seq("p50" -> 0.5, "p95" -> 0.95)
    val mine = asMap(quantileColumns(
      li, "l_returnflag", "l_extendedprice", named))
    assert(mine === builtin)   // exact double equality, not approximate
    // invariant to the bucket count (incl. a tiny one that forces
    // multi-rank refinement inside single buckets)
    assert(asMap(quantileColumns(
      li, "l_returnflag", "l_extendedprice", named, buckets = 7)) === builtin)
  }

  test("histogram quantile sketch: within one cell of exact, and mergeable") {
    import org.apache.spark.sql.functions._
    val li = graft.io.Tables.lineitem(spark, sf001)
    val W = graft.queries.StatsQueries.SketchWidthCents
    val cents = (col("l_extendedprice").cast("decimal(38,2)") * 100).cast("long")
    val qs = Seq((1L, 2L), (19L, 20L))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    val est = asMap(graft.operators.Sketches.histogramQuantiles(
      li, "l_returnflag", cents, qs, W))
    // error bound: estimate within one cell width of the exact
    // NEAREST-RANK order statistic (both live in the located cell)
    val exact = li.groupBy("l_returnflag").agg(
        expr("percentile(cast(cast(l_extendedprice as decimal(38,2)) * 100 as long), 0.5)").as("p50"),
        expr("percentile(cast(cast(l_extendedprice as decimal(38,2)) * 100 as long), 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (g, (p50, p95)) =>
      assert(math.abs(est((g, 1L)) - p50) <= W, s"$g p50: ${est((g, 1L))} vs $p50")
      assert(math.abs(est((g, 19L)) - p95) <= W, s"$g p95: ${est((g, 19L))} vs $p95")
    }
    // MERGE LAW: sketch(halfA ∪ halfB) == sketch(full) — the histogram
    // cells are associative (count sums, min mins, max maxs), so the
    // estimate over a union of independently-scanned halves matches
    val a = li.filter(col("l_orderkey") % 2 === 0)
    val b = li.filter(col("l_orderkey") % 2 =!= 0)
    val merged = asMap(graft.operators.Sketches.histogramQuantiles(
      a.unionAll(b), "l_returnflag", cents, qs, W))
    assert(merged === est)
  }

  test("tie-skewed column (90% one value) resolves exactly with no single-task funnel") {
    import org.apache.spark.sql.functions._
    // 200 k rows, ONE group, 90% exactly 5.0 — the dominant value's
    // bucket holds ≥180 k rows. The pre-round-5 refinement ranked that
    // whole bucket under one row_number window partition (a 180 k-row
    // single task); the short-circuit + distinct-compression plan must
    // never let any task read even a fraction of the dominant mass.
    val df = spark.range(200000).select(
      lit("g").as("g"),
      when(col("id") % 10 < 9, lit(5.0)).otherwise(rand(7) * 100).as("x"))
      .toDF()
    val qs = Seq(0.1, 0.5, 0.9, 0.95)
    val builtin = df.groupBy("g")
      .agg(qs.map(q => expr(s"percentile(x, $q)").as(s"q$q")).head,
        qs.map(q => expr(s"percentile(x, $q)").as(s"q$q")).tail: _*)
      .collect().map(r => qs.indices.map(i => r.getDouble(i + 1))).head
    val (mine, tasks) = withTaskMetrics {
      graft.operators.Quantiles.exactQuantiles(df, "g", "x", qs)
        .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    }
    val maxTask = tasks.map(_.shuffleReadMetrics.recordsRead).maxOption.getOrElse(0L)
    qs.zip(builtin).foreach { case (q, v) => assert(mine(q) === v, s"q=$q") }
    // histogram partials peak ≈ mapTasks × occupied buckets ≈ 16 k here;
    // the funnel this test guards against reads the dominant 180 k rows
    // in ONE task. 30 k cleanly separates the two regimes.
    assert(maxTask < 30000,
      s"a task read ${maxTask} shuffle records — refinement funnel is back")
  }

  test("KMV distinct estimate is close to exact and invariant to bucket count") {
    import org.apache.spark.sql.functions._
    val li = graft.io.Tables.lineitem(spark, sf001)
    val exact = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def run(buckets: Int) = graft.operators.Sketches.kmvDistinct(
        li, Seq("l_returnflag"), col("l_partkey"), k = 256, buckets = buckets)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val est = run(64)
    exact.foreach { case (g, nd) =>
      val e = est(g)
      // k=256 → σ ≈ nd/√254 ≈ 6.3%; 4σ bound
      assert(math.abs(e - nd) <= nd * 0.25 + 1, s"$g est=$e exact=$nd")
    }
    // the two-level bucket selection is result-invisible
    assert(run(1) === est)
    assert(run(7) === est)
  }

  test("KMV set ops: exact in the small regime, within 4-sigma in the sketch regime") {
    import org.apache.spark.sql.functions._
    val li = graft.io.Tables.lineitem(spark, sf001)
    val pa = li.filter(col("l_returnflag") === "A")
      .select("l_partkey").distinct().collect().map(_.getLong(0)).toSet
    val pr = li.filter(col("l_returnflag") === "R")
      .select("l_partkey").distinct().collect().map(_.getLong(0)).toSet
    val union = (pa ++ pr).size.toDouble
    val inter = (pa & pr).size.toDouble
    // k >= every cardinality in play -> all sketches complete -> every
    // estimate (including the intersection) is the exact count
    val kBig = (pa ++ pr).size + 10
    val exactRow = graft.operators.Sketches.kmvSetOps(
      li, col("l_returnflag"), col("l_partkey"), "A", "R", k = kBig).collect()(0)
    assert(exactRow.getDouble(0) === pa.size.toDouble)
    assert(exactRow.getDouble(1) === pr.size.toDouble)
    assert(exactRow.getDouble(2) === union)
    assert(exactRow.getDouble(4) === inter)
    // sketch regime: k = 64 -> sigma ~ 1/sqrt(62) ~ 12.7%; 4-sigma bound
    val est = graft.operators.Sketches.kmvSetOps(
      li, col("l_returnflag"), col("l_partkey"), "A", "R", k = 64).collect()(0)
    assert(math.abs(est.getDouble(2) - union) <= union * 0.51 + 1,
      s"union est ${est.getDouble(2)} vs $union")
    assert(math.abs(est.getDouble(4) - inter) <= union * 0.51 + 1,
      s"intersect est ${est.getDouble(4)} vs $inter")
    // two-level bucketing is result-invisible
    val b1 = graft.operators.Sketches.kmvSetOps(
      li, col("l_returnflag"), col("l_partkey"), "A", "R", k = 64, buckets = 1).collect()(0)
    assert(b1 === est)
  }

  test("heavy hitters equal the plain GROUP BY ... HAVING, under forced evictions") {
    import spark.implicits._
    // zipf-ish stream: token i appears ~ 4000/i times — guarantees a
    // mix of qualifying and non-qualifying tokens, and k = 15 << 60
    // distinct tokens forces real Misra-Gries eviction rounds
    val toks = (1 to 60).flatMap(i => Seq.fill(4000 / i)(s"tok$i"))
    val df = new scala.util.Random(42).shuffle(toks.toVector)
      .toDF("token").repartition(7)
    val got = graft.operators.Sketches
      .heavyHitters(df, "token", k = 15, shareNum = 1, shareDen = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = toks.size.toLong
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      .filter { case (_, c) => c * 12 >= n }
    assert(got === exact)
    // precondition violations are rejected, not silently inexact
    intercept[IllegalArgumentException] {
      graft.operators.Sketches.heavyHitters(df, "token", k = 10, shareNum = 1, shareDen = 12)
    }
  }

  test("profile rows equal direct per-column aggregates") {
    val li = graft.io.Tables.lineitem(spark, sf001)
    val prof = graft.queries.StatsQueries.profile(spark, sf001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val n = li.count()
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey").foreach { c =>
      val d = li.select(col(c).cast("double").as("v"))
      val (nd, mn, mx) = d.agg(count_distinct(col("v")), min("v"), max("v"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).head
      val row = prof(c)
      // Spark's round() is HALF_UP over the double's BigDecimal image
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(row._1 === n && row._2 === n && row._3 === nd, s"col $c counts")
      assert(row._4 === r6(mn) && row._5 === r6(mx), s"col $c extremes")
    }
  }

  test("rollup grand total equals table count") {
    val r = graft.queries.StatsQueries.rollup(spark, sf001).collect()
    val grand = r.filter(row => row.isNullAt(0) && row.isNullAt(1))
    assert(grand.length === 1)
    assert(grand.head.getLong(3) === graft.io.Tables.lineitem(spark, sf001).count())
  }

  test("quantiles are ordered: p50 <= p95") {
    graft.queries.StatsQueries.quantiles(spark, sf001).collect().foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(2))
    }
  }

  test("corr matrix equals a driver-side exact-moment recomputation") {
    import org.apache.spark.sql.functions._
    val rows = graft.io.Tables.lineitem(spark, sf001)
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .collect()
      .map { r =>
        (r.getDouble(0).toLong,
          (BigDecimal(r.getDouble(1)).setScale(2) * 100).toLong,
          (BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong)
      }
    def corr(xs: Array[Long], ys: Array[Long]): Double = {
      val n = xs.length.toDouble
      val sX = xs.map(BigInt(_)).sum.toDouble
      val sY = ys.map(BigInt(_)).sum.toDouble
      val sXY = xs.zip(ys).map { case (a, b) => BigInt(a) * BigInt(b) }.sum.toDouble
      val sXX = xs.map(a => BigInt(a) * BigInt(a)).sum.toDouble
      val sYY = ys.map(b => BigInt(b) * BigInt(b)).sum.toDouble
      (n * sXY - sX * sY) / (math.sqrt(n * sXX - sX * sX) * math.sqrt(n * sYY - sY * sY))
    }
    val q = rows.map(_._1); val p = rows.map(_._2); val d = rows.map(_._3)
    val got = graft.queries.StatsQueries.corrMatrix(spark, sf001).collect()(0)
    assert(got.getLong(0) === rows.length.toLong)
    assert(math.abs(got.getDouble(1) - corr(q, p)) < 1e-6)
    assert(math.abs(got.getDouble(2) - corr(q, d)) < 1e-6)
    assert(math.abs(got.getDouble(3) - corr(p, d)) < 1e-6)
    // sanity: all correlations are in [-1, 1]
    Seq(1, 2, 3).foreach(i => assert(math.abs(got.getDouble(i)) <= 1.0))
  }
}
