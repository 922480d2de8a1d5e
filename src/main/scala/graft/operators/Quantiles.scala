package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.expressions.double_sort_bits

/** Exact distributed quantiles WITHOUT per-group value buffering and
  * WITHOUT ever shuffling the corpus by group key.
  *
  * Spark's built-in exact `percentile` aggregate holds every value of
  * a group in one aggregation buffer (measured: 10.7 MB of shuffle in
  * 6 buffer records for 600 k rows at sf0.1) — at 100 TB a group's
  * whole column must fit one task, the same failure class as a
  * vocabulary-sized broadcast. This operator computes the SAME
  * linear-interpolation order statistics in two corpus scans:
  *
  *  1. a (group × bucket) histogram, where the bucket is a
  *     VALUE-INTRINSIC bit prefix of the IEEE-754 monotone long image
  *     of the value ([[graft.plans.expressions.DoubleSortBits]]) —
  *     no per-group min/max rescale, hence no extent join: the
  *     pre-round-5 plan joined corpus × per-group-stats, which under
  *     sort-merge hash-partitions the WHOLE CORPUS by group and
  *     funnels a dominant group into one task (caught by the
  *     StatsSpec listener test). Bit buckets need only a projection.
  *     The histogram also carries each bucket's min/max and count;
  *     shuffle = occupied buckets per group, map-side combined.
  *  2. prefix-summed bucket counts locate, for each needed rank
  *     k ∈ {⌊q·(n−1)⌋, ⌈q·(n−1)⌉}, the ONE bucket containing it, and
  *     the located buckets resolve by the FIRST applicable path:
  *     (a) single-valued bucket (min = max — every tie-skewed bucket):
  *         the order statistic IS that value; O(1), no row join.
  *     (b) otherwise the bucket's rows are fetched by a BROADCAST
  *         join (never a corpus shuffle), DISTINCT-VALUE compressed
  *         (map-side combine: a value repeated 10⁹ times becomes one
  *         weighted row — and the compression keys include the value,
  *         so the exchange is skew-free by construction), and
  *         sub-bucketed on the next 16 bits of the monotone image; a
  *         single-valued located sub-bucket again resolves O(1).
  *     (c) the residual — a multi-valued located sub-bucket — picks
  *         the order statistic by a cumulative-weight scan over its
  *         distinct values: values that survived a bits₁-way and a
  *         65536-way bit split AND distinct-compression.
  *
  * Broadcast envelope: the only broadcasts are the located-bucket
  * tables, O(groups × |qs|) fixed-width rows. The two hazards are
  * mutually exclusive: few groups → the broadcast is trivially
  * small; astronomically many groups → per-group data is small and
  * the built-in percentile works anyway. For ≥10⁷ simultaneous
  * groups prefer approx quantiles.
  *
  * Interpolation matches Spark's `Percentile.getPercentile`
  * bit-for-bit — (higher−pos)·x₍lo₎ + (pos−lower)·x₍hi₎, with the
  * equal-keys shortcut — pinned by an exact-equality ScalaTest
  * against the built-in, including under adversarial tie
  * distributions (PropertiesSpec).
  */
object Quantiles {

  private def log2ceil(n: Int): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1L))

  /** (groupCol, q, value) for each requested quantile q — exact,
    * `percentile`-identical. Null values are excluded (built-in
    * semantics); groups with no non-null values emit nothing.
    *
    * `buckets` sets the level-1 bit-prefix width: ⌈log₂ buckets⌉
    * leading bits of the monotone image (default 2²⁰ → sign +
    * exponent + 8 mantissa bits ≈ 256 subdivisions per binade).
    * Occupied buckets — the real histogram size — are bounded by
    * min(distinct values, buckets) per group.
    *
    * Lineage control: the small multi-consumed tables (histogram,
    * located buckets, compressed refinement values) are pinned as
    * persisted RDDs — the CC pattern — so consuming them twice does
    * not recompute the corpus-sized upstream, and the blocks are
    * ContextCleaner-freed when the result is GC'd rather than
    * leaking in the CacheManager. The corpus `rows` themselves are
    * deliberately NOT cached: they are scanned twice (histogram +
    * refinement), and at 100 TB a rescan beats a spilled cache. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qs: Seq[Double], buckets: Int = 1 << 20): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), "quantiles in [0,1]")
    val spark = df.sparkSession
    def pin(d: DataFrame): DataFrame =
      spark.createDataFrame(d.rdd.persist(), d.schema)
    val bits1 = math.min(30, math.max(1, log2ceil(buckets)))
    val shift1 = 64 - bits1
    val shift2 = shift1 - 16 // level-2: next 16 bits, monotone within a bucket
    val rows = df
      .select(col(groupCol).as("_g"), col(valueCol).cast("double").as("_x"))
      .filter(col("_x").isNotNull)
      .withColumn("_m", double_sort_bits(col("_x")))
      .withColumn("_b", shiftright(col("_m"), shift1)) // signed: order-preserving
    val bcum = pin(rows.groupBy("_g", "_b")
      .agg(count(lit(1)).as("_c"), min("_x").as("_bmn"), max("_x").as("_bmx"))
      .withColumn("_cum0",
        sum("_c").over(Window.partitionBy("_g").orderBy("_b")) - col("_c")))
    // one row per (group, q): target position and its two ranks —
    // group sizes come from the histogram itself (no extra corpus scan)
    val ranks = bcum.groupBy("_g").agg(sum("_c").as("_n"))
      .select(col("_g"), col("_n"), explode(array(qs.map(lit): _*)).as("_q"))
      .withColumn("_pos", col("_q") * (col("_n") - 1))
      .withColumn("_klo", floor(col("_pos")).cast("long"))
      .withColumn("_khi", ceil(col("_pos")).cast("long"))
    // each needed rank lives in exactly one bucket: _cum0 <= k < _cum0+_c
    val needs = ranks
      .select(col("_g"), explode(array(col("_klo"), col("_khi"))).as("_k"))
      .distinct()
    val located = pin(needs.join(bcum, Seq("_g"))
      .filter(col("_k") >= col("_cum0") && col("_k") < col("_cum0") + col("_c"))
      .select(col("_g"), col("_k"), col("_b"),
        (col("_k") - col("_cum0")).as("_off"), col("_bmn"), col("_bmx")))
    // path (a): tie-skewed buckets resolve without touching their rows
    val solved0 = located.filter(col("_bmn") === col("_bmx"))
      .select(col("_g"), col("_k"), col("_bmn").as("_xv"))
    val toRefine = located.filter(col("_bmn") =!= col("_bmx"))
      .select("_g", "_b", "_k", "_off")
    // path (b) setup: rows of multi-valued located buckets only, via a
    // broadcast join (the corpus side never shuffles); a bucket serving
    // r ranks duplicates its values ×r and each rank resolves
    // independently (keys include _k). Distinct-value compression
    // happens HERE: the exchange carries one weighted row per
    // (rank, value) — keys include the value, so no skew can refold.
    val vals = pin(rows
      .join(broadcast(toRefine), Seq("_g", "_b"))
      .withColumn("_sb", shiftright(col("_m"), shift2).bitwiseAND(lit(0xffffL)))
      .groupBy("_g", "_k", "_off", "_sb", "_x")
      .agg(count(lit(1)).as("_w")))
    val scum = vals.groupBy("_g", "_k", "_off", "_sb")
      .agg(sum("_w").as("_c"), min("_x").as("_smn"), max("_x").as("_smx"))
      .withColumn("_cum0",
        sum("_c").over(Window.partitionBy("_g", "_k").orderBy("_sb")) - col("_c"))
    val located1 = scum
      .filter(col("_off") >= col("_cum0") && col("_off") < col("_cum0") + col("_c"))
      .select(col("_g"), col("_k"), col("_sb"),
        (col("_off") - col("_cum0")).as("_off1"), col("_smn"), col("_smx"))
    val solved1 = located1.filter(col("_smn") === col("_smx"))
      .select(col("_g"), col("_k"), col("_smn").as("_xv"))
    // path (c): cumulative-weight scan over the located sub-bucket's
    // distinct values (each (g,k) has exactly one located sub-bucket,
    // so the window partition is that sub-bucket alone)
    val solved2 = vals
      .join(broadcast(located1.filter(col("_smn") =!= col("_smx"))
        .select("_g", "_k", "_sb", "_off1")), Seq("_g", "_k", "_sb"))
      .withColumn("_cw",
        sum("_w").over(Window.partitionBy("_g", "_k").orderBy("_x")) - col("_w"))
      .filter(col("_cw") <= col("_off1") && col("_off1") < col("_cw") + col("_w"))
      .select(col("_g"), col("_k"), col("_x").as("_xv"))
    val sel = solved0.union(solved1).union(solved2)
    // assemble lo/hi with one conditional aggregation (sel consumed once)
    ranks
      .join(sel, ranks("_g") === sel("_g") &&
        (col("_k") === col("_klo") || col("_k") === col("_khi")))
      .groupBy(ranks("_g"), col("_q"), col("_pos"), col("_klo"), col("_khi"))
      .agg(max(when(col("_k") === col("_klo"), col("_xv"))).as("_lo"),
        max(when(col("_k") === col("_khi"), col("_xv"))).as("_hi"))
      .select(ranks("_g").as(groupCol), col("_q").as("q"),
        // the _lo === _hi branch mirrors Percentile.getPercentile's
        // equal-keys shortcut: tied order statistics return the value
        // itself, never (w1+w2)·v with its last-ulp rounding
        when(col("_khi") === col("_klo") || col("_lo") === col("_hi"), col("_lo"))
          .otherwise((col("_khi") - col("_pos")) * col("_lo") +
            (col("_pos") - col("_klo")) * col("_hi"))
          .as("value"))
  }
}
