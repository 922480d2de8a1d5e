package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.operators.{Relational, RelationalTpch}

/** Declared relational queries (scan/filter/join/agg/window/set-op
  * surface over the TPC-H-ish tables). All seven oracle-checked; money
  * aggregates are exact decimals cast at the data's true scale (see
  * [[graft.operators.Relational]] for the two cross-engine float traps
  * this avoids) and EMITTED as scaled BIGINT fixed-point (×100 for
  * 2-dp sums, ×10000 for 4-dp product sums): int64 has no rendering
  * ambiguity in any reader, unlike DECIMAL, whose two read paths in
  * the driver's hash gate normalize differently (round-1 verdict).
  * The matching oracle SQL down-casts to DECIMAL(24,2|4) before the
  * multiply so DuckDB's decimal product stays within precision 38
  * (an overflowing decimal product silently promotes to DOUBLE).
  */
object RelationalQueries {
  private val Fmt = "yyyy-MM-dd HH:mm:ss"

  /** Emit an exact decimal aggregate as fixed-point BIGINT. The
    * decimal's fraction is exactly representable at its scale, so
    * value × 10^scale has a zero fraction and the long cast is exact. */
  private def asFixedPoint(c: org.apache.spark.sql.Column, factor: Int) =
    (c * factor).cast("long")

  def q1(s: SparkSession, dir: String): DataFrame =
    Relational.pricingSummary(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        asFixedPoint(col("sum_qty"), 100).as("sum_qty"),
        asFixedPoint(col("sum_base_price"), 100).as("sum_base_price"),
        asFixedPoint(col("sum_disc_price"), 10000).as("sum_disc_price"),
        round(col("avg_qty"), 6).as("avg_qty"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  def q3(s: SparkSession, dir: String): DataFrame =
    Relational.shippingPriority(s, dir)
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), Fmt).as("o_orderdate"),
        asFixedPoint(col("revenue"), 10000).as("revenue"))

  def q5(s: SparkSession, dir: String): DataFrame =
    Relational.localSupplierVolume(s, dir)
      .select(col("n_name"), asFixedPoint(col("revenue"), 10000).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  def brands(s: SparkSession, dir: String): DataFrame =
    Relational.brandVolume(s, dir)
      .select(col("p_brand"),
        asFixedPoint(col("sum_qty"), 100).as("sum_qty"),
        asFixedPoint(col("revenue"), 10000).as("revenue"),
        col("n"))
      .orderBy("p_brand")

  def semiAnti(s: SparkSession, dir: String): DataFrame =
    Relational.customerOrderPresence(s, dir)
      .orderBy("c_mktsegment", "kind")

  def windowRank(s: SparkSession, dir: String): DataFrame =
    Relational.topOrdersPerSegment(s, dir)
      .orderBy("c_mktsegment", "rank")

  def setOps(s: SparkSession, dir: String): DataFrame =
    Relational.nationPresence(s, dir)
      .orderBy("kind", "nk")

  def q6(s: SparkSession, dir: String): DataFrame =
    Relational.revenueForecast(s, dir)
      .select(asFixedPoint(col("revenue"), 10000).as("revenue"))

  def valueBands(s: SparkSession, dir: String): DataFrame =
    Relational.eventValueBands(s, dir)
      .select(col("lo").cast("long").as("band_lo"),
        col("hi").cast("long").as("band_hi"),
        col("n"),
        asFixedPoint(col("sum_value"), 100).as("sum_value_cents"))
      .orderBy("band_lo")

  def groupingSetsQ(s: SparkSession, dir: String): DataFrame =
    Relational.customerGroupingSets(s, dir)
      .select(coalesce(col("r_name"), lit("ALL")).as("r_name"),
        coalesce(col("n_name"), lit("ALL")).as("n_name"),
        col("n_cust"),
        asFixedPoint(col("sum_acctbal"), 100).as("sum_acctbal_cents"))
      .orderBy("r_name", "n_name")

  def subqueryQ(s: SparkSession, dir: String): DataFrame =
    Relational.aboveBrandAverage(s, dir)

  /** Salted two-phase aggregation over a 3-value hot key — the result
    * must be indistinguishable from the plain GROUP BY (sums are
    * exact decimals, so re-aggregation order cannot change them);
    * the oracle IS the plain GROUP BY. */
  def skewSalted(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedSumCount(
      graft.io.Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity").cast("decimal(38,2)").as("q")),
      Seq("l_returnflag"), col("q"), buckets = 16)
      .select(col("l_returnflag"),
        asFixedPoint(col("sum_value"), 100).as("sum_qty_cents"),
        col("n"))
      .orderBy("l_returnflag")

  def outerJoin(s: SparkSession, dir: String): DataFrame =
    Relational.nationCoverage(s, dir)
      .orderBy("nk")

  /** Runtime bloom-filter join pruning: lineitems of high-value orders.
    * The bloom bitmap drops non-matching fact rows at the scan, before
    * the semi-join exchange; the oracle is the PLAIN semi-join — the
    * filter must be result-invisible ([[graft.operators.Bloom]]). */
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    val hi = graft.io.Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000.0).select("o_orderkey")
    val li = graft.io.Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity").cast("decimal(38,2)").as("q"))
    graft.operators.Bloom.bloomSemiJoin(li, "l_orderkey", hi, "o_orderkey")
      .groupBy("l_returnflag")
      .agg(sum(col("q")).as("sum_qty"), count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        asFixedPoint(col("sum_qty"), 100).as("sum_qty_cents"), col("n"))
      .orderBy("l_returnflag")
  }

  /** Incremental aggregate maintenance: the base slice's per-group
    * state (computed once) merged with a delta batch's partials must
    * equal the flat GROUP BY over everything — the oracle IS that
    * flat recompute ([[graft.operators.Incremental]]). The base/delta
    * split is deterministic (orderkey mod 10). */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val li = graft.io.Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        col("l_extendedprice").cast("decimal(38,2)").as("p"))
    val base = li.filter(pmod(col("l_orderkey"), lit(10)) =!= 0)
    val delta = li.filter(pmod(col("l_orderkey"), lit(10)) === 0)
    val keys = Seq("l_returnflag", "l_linestatus")
    val merged = graft.operators.Incremental.mergeStates(
      Seq(graft.operators.Incremental.partialState(base, keys, col("p")),
        graft.operators.Incremental.partialState(delta, keys, col("p"))), keys)
    graft.operators.Incremental.finalizeState(merged, keys)
      .select(col("l_returnflag"), col("l_linestatus"),
        asFixedPoint(col("sum_value"), 100).as("sum_price_cents"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Salted skew JOIN: lineitem joined to a 3-row per-flag dim table
    * under a forced shuffle-hash join — the 3-value key would funnel
    * the whole fact table into 3 tasks; salting spreads each hot key
    * over 16. The oracle is the PLAIN join ([[graft.operators.Skew]]);
    * SkewSpec pins the task profile. */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = graft.io.Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("decimal(38,2)").as("q"))
    val dim = graft.io.Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("flag"))
      .agg(min(col("l_shipdate")).as("first_ship"))
      .withColumnRenamed("flag", "l_returnflag")
    graft.operators.Skew.saltedJoin(li, dim, "l_returnflag", buckets = 16)
      .groupBy("l_returnflag")
      .agg(date_format(min(col("first_ship")), Fmt).as("first_ship"),
        asFixedPoint(sum(col("q")), 100).as("sum_qty_cents"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Z-order tile histogram: Morton-interleave the low 6 bits of
    * (l_partkey, l_suppkey) into a 64×64 grid tile id and aggregate
    * per tile — the compiled [[graft.plans.expressions.ZOrder2]]
    * expression exercised end-to-end with exact integer output (the
    * oracle unrolls the interleave as plain bit arithmetic). The
    * write-side layout use of the same expression is
    * [[graft.io.Sinks.writeZOrdered]], whose row-group pruning win
    * is measured in SinksSpec. */
  def zorderCells(s: SparkSession, dir: String): DataFrame = {
    val li = graft.io.Tables.lineitem(s, dir)
    val z = graft.plans.expressions.zorder2(
      pmod(col("l_partkey"), lit(64)), pmod(col("l_suppkey"), lit(64)), 6)
    li.select(z.as("cell"), col("l_quantity").cast("decimal(38,2)").as("q"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
      .select(col("cell"), col("n"), asFixedPoint(col("sq"), 100).as("sum_qty_cents"))
      .orderBy("cell")
  }

  /** CDC SNAPSHOT DIFF ([[graft.operators.Integrity.snapshotDiff]]):
    * two deterministic "versions" of orders are derived in-query
    * (modular delete masks + a price bump on every 13th key — the
    * fixture is static, so the versions must be synthesized, exactly
    * like the incremental-agg query's batch splits), then diffed into
    * added/removed/changed rows with old/new values. */
  private def orderVersions(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
      (col("o_totalprice").cast("decimal(38,2)") * 100).cast("long").as("price_cents"))
    val before = o.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
    val after = o.filter(pmod(col("o_orderkey"), lit(89)) =!= 0)
      .withColumn("price_cents",
        when(pmod(col("o_orderkey"), lit(13)) === 0, col("price_cents") + 100)
          .otherwise(col("price_cents")))
    (before, after)
  }

  def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    val (before, after) = orderVersions(s, dir)
    graft.operators.Integrity.snapshotDiff(before, after, "o_orderkey",
        Seq("o_orderstatus", "price_cents"))
      .orderBy("o_orderkey")
  }

  /** MERGE / UPSERT ([[graft.operators.Integrity.applyChanges]]): the
    * diff of the two synthesized order versions is applied BACK onto
    * `before` — the oracle is simply `after`, so the hash check proves
    * the diff∘apply round-trip is the identity at fixture scale, on
    * every row, not just the spec's toy frame. */
  def mergeUpsertQ(s: SparkSession, dir: String): DataFrame = {
    val (before, after) = orderVersions(s, dir)
    val changes = graft.operators.Integrity.snapshotDiff(before, after,
      "o_orderkey", Seq("o_orderstatus", "price_cents"))
    graft.operators.Integrity.applyChanges(before, changes,
        "o_orderkey", Seq("o_orderstatus", "price_cents"))
      .orderBy("o_orderkey")
  }

  /** Order-independent affine table checksum per order status
    * ([[graft.operators.Integrity.tableChecksum]]): the replication /
    * backfill equality witness, exact in any engine. */
  def tableChecksumQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Integrity.tableChecksum(Tables.orders(s, dir),
        Seq("o_orderstatus"),
        Seq(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice").cast("decimal(38,2)") * 100).cast("long")))
      .orderBy("o_orderstatus")

  /** CO-LOCATED (bucketed) join — the brief's third join strategy
    * declared as a surface, next to broadcast (dims) and shuffle
    * (fact-fact): lineitem and orders are written ONCE per fixture as
    * bucketed tables on their join key (8 buckets, sorted), and the
    * join then reads matching buckets directly — the executed plan has
    * NO exchange on either join side (LibrarySpec pins exactly that on
    * this query's plan). At 100 TB this is the nightly-join pattern:
    * pay the bucketed layout on write, never shuffle the fact tables
    * again. Table names carry a fixture discriminator so multi-fixture
    * JVMs (specs) cannot cross-serve; the bucketed copies are a
    * [[graft.io.FixtureCache.session]] entry (catalog tables belong to
    * the session), so Verify + repeated Bench reps write them once. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val suffix = (math.abs(new java.io.File(dir).getAbsolutePath.hashCode)).toString
    val (liT, ordT) = (s"graft_li_bkt_$suffix", s"graft_ord_bkt_$suffix")
    graft.io.FixtureCache.session(s, s"bucketed_tables:$suffix", dir, "lineitem") {
      // a FRESH JVM's in-memory catalog has forgotten these tables,
      // but their warehouse locations survive on disk — saveAsTable
      // then fails with LOCATION_ALREADY_EXISTS. Drop both faces
      // (catalog entry if known, stale directory if orphaned) so the
      // rebuild is idempotent across processes; the session memo
      // already makes it once-per-session.
      Seq(liT, ordT).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (loc.exists) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles.foreach(rm)
            f.delete(); ()
          }
          rm(loc)
        }
      }
      // repartition to the bucket count ON the bucket key before the
      // bucketed write (r9 verdict task 3): each write task then sorts
      // exactly ONE bucket's rows (8 concurrent spilling sorts, one
      // file per bucket) instead of 32 read-partition tasks each
      // sub-sorting all 8 buckets at once — the configuration that
      // transiently OOM'd execution memory at the 60 M-row 100×
      // rehearsal. Same layout, bounded writer memory.
      Tables.lineitem(s, dir).repartition(8, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liT)
      Tables.orders(s, dir).repartition(8, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordT)
      ()
    }
    s.table(liT)
      .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        (sum(col("l_quantity").cast("decimal(38,2)")) * 100).cast("long").as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  /** Q18: the Spark side already emits fixed-point BIGINT; re-sort on
    * the exact cents (the operator's own order) for a stable dump. */
  def q18(s: SparkSession, dir: String): DataFrame =
    Relational.largeQuantityOrders(s, dir)
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), Fmt).as("o_orderdate"),
        col("totalprice_cents"), col("sum_qty_x100"))
      .orderBy(col("totalprice_cents").desc, col("o_orderkey"))

  def q10(s: SparkSession, dir: String): DataFrame =
    Relational.returnedRevenue(s, dir)
      .orderBy(col("revenue_x10000").desc, col("c_custkey"))

  /** Equi-width order-value histogram at $50k buckets
    * ([[Relational.priceHistogram]]) — exact-cents buckets and revenue
    * mass, bucket-count-sized output. */
  def priceHistogramQ(s: SparkSession, dir: String): DataFrame =
    Relational.priceHistogram(s, dir)
      .orderBy("bucket")

  /** Funnel-free exact decile report over orders (see
    * Relational.decileReport); the oracle replays the identical
    * remainders-first bucket arithmetic over a plain global
    * row_number — the naive formulation the two-level rank must
    * reproduce. */
  def decileReportQ(s: SparkSession, dir: String): DataFrame =
    Relational.decileReport(s, dir)
      .orderBy("decile")

  def q14(s: SparkSession, dir: String): DataFrame =
    Relational.promoRevenue(s, dir)

  def q4(s: SparkSession, dir: String): DataFrame =
    Relational.orderPriorityCheck(s, dir)
      .orderBy(col("o_orderpriority"))

  // ---- the remaining TPC-H family (RelationalTpch; fixture-adapted
  // where the original needs partsupp/shipmode/comment columns — the
  // adaptation is documented on each operator). With these, all 22
  // TPC-H queries are re-expressed.
  def q2(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.minCostSupplier(s, dir)
  def q11(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.importantParts(s, dir)
  def q7(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.volumeShipping(s, dir)
  def q8(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.marketShare(s, dir)
  def q9(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.productProfit(s, dir)
  def q12(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.shipLateness(s, dir)
  def q13(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.customerDistribution(s, dir)
  def q15(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.topSupplier(s, dir)
  def q16(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.supplierCount(s, dir)
  def q17(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.smallQuantityRevenue(s, dir)
  def q19(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.disjunctiveRevenue(s, dir)
  def q20(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.partPromotion(s, dir)
  def q21(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.waitingBlame(s, dir)
  def q22(s: SparkSession, dir: String): DataFrame =
    RelationalTpch.salesOpportunity(s, dir)

  /** FK-consistency audit ([[graft.operators.Integrity
    * .referentialAudit]]) on the fact-to-dim pair lineitem.l_orderkey
    * → orders.o_orderkey — the relational face of the doc⋈embedding
    * gate: fact rows per key, orphan facts (no parent order), orders
    * with no lines, duplicate keys on either side. */
  def fkAudit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Integrity.referentialAudit(
      graft.io.Tables.lineitem(s, dir), "l_orderkey",
      graft.io.Tables.orders(s, dir), "o_orderkey")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_fk_audit" -> (fkAudit _),
    "rel_q2_min_cost_supplier" -> (q2 _),
    "rel_q11_important_parts" -> (q11 _),
    "rel_q7_volume_shipping" -> (q7 _),
    "rel_q8_market_share" -> (q8 _),
    "rel_q9_product_profit" -> (q9 _),
    "rel_q12_ship_lateness" -> (q12 _),
    "rel_q13_cust_distribution" -> (q13 _),
    "rel_q15_top_supplier" -> (q15 _),
    "rel_q16_supplier_count" -> (q16 _),
    "rel_q17_small_qty" -> (q17 _),
    "rel_q19_disjunctive" -> (q19 _),
    "rel_q20_part_promotion" -> (q20 _),
    "rel_q21_waiting_blame" -> (q21 _),
    "rel_q22_sales_opportunity" -> (q22 _),
    "rel_q14_promo" -> (q14 _),
    "rel_q4_priority" -> (q4 _),
    "rel_q18_big_orders" -> (q18 _),
    "rel_price_histogram" -> (priceHistogramQ _),
    "rel_decile_report" -> (decileReportQ _),
    "rel_q10_returns" -> (q10 _),
    "rel_bucketed_join" -> (bucketedJoin _),
    "rel_snapshot_diff" -> (snapshotDiffQ _),
    "rel_merge_upsert" -> (mergeUpsertQ _),
    "rel_table_checksum" -> (tableChecksumQ _),
    "rel_outer_join" -> (outerJoin _),
    "rel_q1_pricing" -> (q1 _),
    "rel_q3_top_revenue" -> (q3 _),
    "rel_q5_region_volume" -> (q5 _),
    "rel_brand_volume" -> (brands _),
    "rel_semi_anti_join" -> (semiAnti _),
    "rel_window_rank" -> (windowRank _),
    "rel_set_ops" -> (setOps _),
    "rel_q6_forecast" -> (q6 _),
    "rel_range_join" -> (valueBands _),
    "rel_grouping_sets" -> (groupingSetsQ _),
    "rel_subquery_brand_avg" -> (subqueryQ _),
    "rel_skew_salted_agg" -> (skewSalted _),
    "rel_bloom_join" -> (bloomJoin _),
    "rel_zorder_cells" -> (zorderCells _),
    "rel_incremental_agg" -> (incrementalAgg _),
    "rel_skew_salted_join" -> (skewSaltedJoin _))

  val oracles: Map[String, String] = Map(
    // the integrity-audit shape on the fact/dim key pair
    "rel_fk_audit" ->
      """WITH l AS (SELECT l_orderkey AS k, COUNT(*) AS ln FROM lineitem GROUP BY 1),
        |r AS (SELECT o_orderkey AS k, COUNT(*) AS rn FROM orders GROUP BY 1),
        |j AS (SELECT l.ln, r.rn FROM l FULL OUTER JOIN r ON l.k = r.k)
        |SELECT CAST(SUM(coalesce(ln, 0)) AS BIGINT) AS n_left,
        |  CAST(SUM(coalesce(rn, 0)) AS BIGINT) AS n_right,
        |  CAST(SUM(CASE WHEN ln IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_keys,
        |  CAST(SUM(CASE WHEN rn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_keys,
        |  CAST(SUM(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(SUM(CASE WHEN rn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_orphans,
        |  CAST(SUM(CASE WHEN ln IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_orphans,
        |  CAST(SUM(CASE WHEN ln > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_left_dup_keys,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_right_dup_keys
        |FROM j""".stripMargin,
    "rel_q2_min_cost_supplier" ->
      """WITH sp AS (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS p_cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |eur AS (
        |  SELECT s_suppkey, s_name,
        |    CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS s_acctbal_cents,
        |    n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |costed AS (
        |  SELECT sp.l_partkey, sp.l_suppkey, (100 * sp.p_cents) // sp.qty AS unit_cost
        |  FROM sp JOIN eur ON eur.s_suppkey = sp.l_suppkey),
        |best AS (
        |  SELECT l_partkey, l_suppkey, unit_cost FROM (
        |    SELECT l_partkey, l_suppkey, unit_cost,
        |      row_number() OVER (PARTITION BY l_partkey ORDER BY unit_cost, l_suppkey) AS rn
        |    FROM costed) WHERE rn = 1)
        |SELECT e.s_acctbal_cents, e.s_name, e.n_name, p.p_partkey, b.unit_cost
        |FROM best b
        |JOIN part p ON p.p_partkey = b.l_partkey
        |JOIN eur e ON e.s_suppkey = b.l_suppkey
        |WHERE p.p_type = 'ECONOMY' AND p.p_size < 25
        |ORDER BY s_acctbal_cents DESC, s_name, p_partkey LIMIT 100""".stripMargin,
    "rel_q11_important_parts" ->
      """WITH nsup AS (
        |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name IN ('NATION_3', 'NATION_8')),
        |pv AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS value_cents
        |  FROM lineitem JOIN nsup ON l_suppkey = s_suppkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents,
        |               CAST(COUNT(*) AS BIGINT) AS n_parts FROM pv)
        |SELECT pv.p_partkey, pv.value_cents
        |FROM pv, tot WHERE pv.value_cents * tot.n_parts > 2 * tot.total_cents
        |ORDER BY value_cents DESC, p_partkey""".stripMargin,
    "rel_q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(CAST(SUM(CAST(volume AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS revenue_x10000
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
        |         l.l_extendedprice * (1.0 - l.l_discount) AS volume
        |  FROM supplier s
        |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        |    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "rel_q8_market_share" ->
      """WITH allv AS (
        |  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        |         l.l_extendedprice * (1.0 - l.l_discount) AS volume,
        |         n2.n_name AS supp_nation
        |  FROM part p
        |  JOIN lineitem l ON p.p_partkey = l.l_partkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r ON n1.n_regionkey = r.r_regionkey
        |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |  WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'),
        |agg AS (
        |  SELECT o_year,
        |    CAST(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END
        |      AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS nation_volume_x10000,
        |    CAST(CAST(SUM(CAST(volume AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS total_volume_x10000
        |  FROM allv GROUP BY 1)
        |SELECT o_year, nation_volume_x10000, total_volume_x10000,
        |  (1000 * nation_volume_x10000) // total_volume_x10000 AS mkt_share_permille
        |FROM agg ORDER BY o_year""".stripMargin,
    "rel_q9_product_profit" ->
      """SELECT n_name, o_year,
        |  CAST(CAST(SUM(CAST(amount AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS sum_profit_x10000
        |FROM (
        |  SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        |         l.l_extendedprice * (1.0 - l.l_discount) AS amount
        |  FROM part p
        |  JOIN lineitem l ON p.p_partkey = l.l_partkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE p.p_name LIKE '%red%')
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,
    "rel_q12_ship_lateness" ->
      """SELECT l.l_returnflag,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
        |  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rel_q13_cust_distribution" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "rel_q15_top_supplier" ->
      """WITH revenue0 AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS total_revenue_x10000
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_revenue_x10000
        |FROM supplier s JOIN revenue0 r ON s.s_suppkey = r.supplier_no
        |WHERE r.total_revenue_x10000 = (SELECT MAX(total_revenue_x10000) FROM revenue0)
        |ORDER BY s.s_suppkey""".stripMargin,
    "rel_q16_supplier_count" ->
      """SELECT p.p_brand, p.p_type, p.p_size,
        |  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "rel_q17_small_qty" ->
      """WITH target AS (
        |  SELECT l.l_partkey, CAST(l.l_quantity AS BIGINT) AS qty, l.l_extendedprice
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE p.p_brand = 'Brand#3' AND p.p_size <= 10),
        |pstats AS (
        |  SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM target GROUP BY 1)
        |SELECT CAST(CAST(CAST(SUM(CAST(t.l_extendedprice AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) // 7 AS BIGINT) AS avg_yearly_cents
        |FROM target t JOIN pstats s ON s.l_partkey = t.l_partkey
        |WHERE 5 * t.qty * s.cnt < s.sum_qty""".stripMargin,
    "rel_q19_disjunctive" ->
      """SELECT CAST(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS revenue_x10000
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#7'  AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 15)
        |   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 25)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 35)""".stripMargin,
    "rel_q20_part_promotion" ->
      """SELECT s.s_suppkey, s.s_name
        |FROM supplier s
        |WHERE s.s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 50)
        |ORDER BY s.s_suppkey""".stripMargin,
    "rel_q21_waiting_blame" ->
      """WITH f AS (
        |  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |m AS (SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS sd FROM f GROUP BY 1, 2)
        |SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM m l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE EXISTS (SELECT 1 FROM m l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM m l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.sd >= l1.sd)
        |GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,
    "rel_q22_sales_opportunity" ->
      """WITH pos AS (
        |  SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_x100,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT substr(c.c_name, 17, 2) AS cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS totacctbal_cents
        |FROM customer c, pos
        |WHERE CAST(CAST(c.c_acctbal AS DECIMAL(38,2)) * 100 AS BIGINT) * pos.cnt > pos.sum_x100
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rel_q14_promo" ->
      """WITH rev AS (
        |  SELECT
        |    CAST(CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
        |        THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END
        |      AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS promo_x10000,
        |    CAST(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |      AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS total_x10000
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l.l_shipdate <  TIMESTAMP '1996-02-01 00:00:00')
        |SELECT promo_x10000, total_x10000,
        |  (promo_x10000 * 1000) // total_x10000 AS promo_permille
        |FROM rev""".stripMargin,
    "rel_q4_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // naive global NTILE via row_number + the identical remainders-
    // first bucket arithmetic the two-level rank replays
    "rel_decile_report" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_orderkey) AS rk,
        |    (SELECT COUNT(*) FROM o) AS n
        |  FROM o),
        |d AS (SELECT cents,
        |    CASE WHEN rk <= (n % 10) * (n // 10 + 1)
        |      THEN (rk - 1) // (n // 10 + 1) + 1
        |      ELSE (n % 10) + (rk - (n % 10) * (n // 10 + 1) - 1) // (n // 10) + 1
        |    END AS decile
        |  FROM r)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  MIN(cents) AS min_cents, MAX(cents) AS max_cents,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same decimal(38,2)->cents bridge, then plain bucket group-by
    "rel_price_histogram" ->
      """WITH c AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT) AS cents
        |       FROM orders),
        |b AS (SELECT cents // 5000000 AS bucket, COUNT(*) AS n_orders,
        |        CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |      FROM c GROUP BY 1)
        |SELECT CAST(bucket AS BIGINT) AS bucket,
        |  CAST(bucket * 5000000 AS BIGINT) AS bucket_lo_cents,
        |  n_orders, revenue_cents
        |FROM b ORDER BY bucket""".stripMargin,
    "rel_q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(38,2))) AS sq
        |  FROM lineitem GROUP BY 1
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(38,2))) > 300)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT) AS totalprice_cents,
        |  CAST(CAST(b.sq AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_qty_x100
        |FROM big b JOIN orders o ON o.o_orderkey = b.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY totalprice_cents DESC, o.o_orderkey LIMIT 100""".stripMargin,
    "rel_q10_returns" ->
      """WITH rev AS (
        |  SELECT o.o_custkey,
        |    CAST(CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS revenue_x10000
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1),
        |top AS (SELECT * FROM rev ORDER BY revenue_x10000 DESC, o_custkey LIMIT 20)
        |SELECT c.c_custkey, c.c_name, n.n_name, t.revenue_x10000
        |FROM top t JOIN customer c ON c.c_custkey = t.o_custkey
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |ORDER BY t.revenue_x10000 DESC, c.c_custkey""".stripMargin,
    // the bucketed layout is result-invisible: the oracle is the plain
    // join+agg — what the hash check proves is that the shuffle-free
    // physical strategy returns exactly the shuffled plan's answer
    "rel_bucketed_join" ->
      """SELECT o.o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) * 100 AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rel_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT) AS price_cents
        |  FROM orders),
        |b AS (SELECT * FROM o WHERE o_orderkey % 97 <> 0),
        |a AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 13 = 0 THEN price_cents + 100
        |         ELSE price_cents END AS price_cents
        |  FROM o WHERE o_orderkey % 89 <> 0),
        |j AS (SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
        |  CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |       WHEN a.o_orderkey IS NULL THEN 'removed'
        |       WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
        |         OR b.price_cents IS DISTINCT FROM a.price_cents
        |       THEN 'changed' END AS change_kind,
        |  b.o_orderstatus AS old_o_orderstatus, a.o_orderstatus AS new_o_orderstatus,
        |  b.price_cents AS old_price_cents, a.price_cents AS new_price_cents
        |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
        |SELECT * FROM j WHERE change_kind IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    // the oracle IS the target version: diff∘apply must reproduce it
    "rel_merge_upsert" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 13 = 0
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT) + 100
        |       ELSE CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT)
        |  END AS price_cents
        |FROM orders WHERE o_orderkey % 89 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    // same stepwise-mod affine row hash, summed exactly (DuckDB SUM of
    // BIGINT is HUGEINT = Spark's decimal(38,0) accumulator), reduced
    // mod P at the end
    "rel_table_checksum" -> {
      val p = graft.operators.Sketches.HashP
      val (as, b0) = graft.operators.Integrity.checksumCoeffs(3)
      val vals = Seq("o_orderkey", "o_custkey",
        "CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100 AS BIGINT)")
      val h = vals.zip(as).foldLeft(b0.toString) {
        case (acc, (v, a)) => s"(($acc + (($v % $p + $p) % $p) * $a) % $p)"
      }
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  CAST(SUM($h) % $p AS BIGINT) AS checksum
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "rel_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS sum_disc_price,
        |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "rel_q3_top_revenue" ->
      """WITH r AS (
        |  SELECT l_orderkey, o_orderdate,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
        |  CAST(CAST(revenue AS DECIMAL(24,4)) * 10000 AS BIGINT) AS revenue
        |FROM r ORDER BY r.revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "rel_q5_region_volume" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 2 DESC, 1""".stripMargin,
    "rel_brand_volume" ->
      """SELECT p_brand,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size >= 20
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rel_semi_anti_join" ->
      """SELECT c_mktsegment, 'with_orders' AS kind, COUNT(*) AS n
        |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1
        |UNION ALL
        |SELECT c_mktsegment, 'without_orders' AS kind, COUNT(*) AS n
        |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1
        |ORDER BY 1, 2""".stripMargin,
    "rel_window_rank" ->
      """WITH r AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |         ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, rank, o_orderkey, o_totalprice
        |FROM r WHERE rank <= 3 ORDER BY 1, 2""".stripMargin,
    "rel_q6_forecast" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DECIMAL(24,4)) * 10000 AS BIGINT) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "rel_range_join" ->
      """WITH bands(lo, hi) AS (VALUES (0.0, 10.0), (10.0, 50.0), (50.0, 100.0),
        |                              (100.0, 200.0), (200.0, 400.0), (400.0, 600.0))
        |SELECT CAST(lo AS BIGINT) AS band_lo, CAST(hi AS BIGINT) AS band_hi,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_value_cents
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "rel_grouping_sets" ->
      """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        |  COUNT(*) AS n_cust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_acctbal_cents
        |FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        |ORDER BY 1, 2""".stripMargin,
    "rel_outer_join" ->
      """WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
        |s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
        |SELECT coalesce(c.nk, s.nk) AS nk,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.nk = s.nk ORDER BY nk""".stripMargin,
    // flat recompute over base ∪ delta — state-then-merge must be
    // indistinguishable (exact decimals ⇒ merge order invisible)
    "rel_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_price_cents,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // plain join — salting + forced shuffle-hash is result-invisible
    "rel_skew_salted_join" ->
      """WITH dim AS (SELECT l_returnflag AS flag, MIN(l_shipdate) AS fs
        |             FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |  strftime(fs, '%Y-%m-%d %H:%M:%S') AS first_ship,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_qty_cents,
        |  COUNT(*) AS n
        |FROM lineitem JOIN dim ON l_returnflag = flag
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    // the interleave unrolled as plain bit arithmetic (bit i of x →
    // z-bit 2i, bit i of y → 2i+1) — exact integers end to end
    "rel_zorder_cells" ->
      """SELECT
        |  CAST(list_sum(list_transform(generate_series(0, 5), i -> (((l_partkey % 64) >> i) & 1) << (2*i))) +
        |       list_sum(list_transform(generate_series(0, 5), i -> (((l_suppkey % 64) >> i) & 1) << (2*i + 1))) AS BIGINT) AS cell,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_qty_cents
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // plain semi-join — the bloom pre-filter is result-invisible
    "rel_bloom_join" ->
      """SELECT l_returnflag,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_qty_cents,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rel_skew_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_qty_cents,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "rel_subquery_brand_avg" ->
      """SELECT p_brand, COUNT(*) AS n_above
        |FROM part p
        |WHERE CAST(p_retailprice AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM part p2 WHERE p2.p_brand = p.p_brand)
        |    > (SELECT SUM(CAST(p_retailprice AS DECIMAL(18,2)))
        |       FROM part p2 WHERE p2.p_brand = p.p_brand)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "rel_set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier),
        |u AS (
        |  SELECT nk, 'both' AS kind FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
        |  UNION ALL
        |  SELECT nk, 'customers_only' FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
        |  UNION ALL
        |  SELECT nk, 'suppliers_only' FROM (SELECT nk FROM s EXCEPT SELECT nk FROM c))
        |SELECT nk, kind FROM u ORDER BY kind, nk""".stripMargin)
}
