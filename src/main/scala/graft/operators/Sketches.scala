package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sketches for approximate analytics whose RESULTS are
  * still bit-reproducible in any engine — the repo's HLL alternative:
  * `approx_count_distinct` is a fine estimator but its estimate is
  * engine-private, so the declared HLL query can only be rows-checked.
  * A K-Minimum-Values sketch over the exact affine Lehmer hash family
  * gives the same O(k) sketch-size/accuracy trade (σ ≈ 1/√(k−2)) with
  * an estimate DuckDB recomputes bit-for-bit.
  */
object Sketches {
  val HashP = 1000000007L
  /** Affine hash coefficients from the MINSTD Lehmer stream (same
    * oracle-expressible family as Dedup.MinhashA / the samplers). */
  def kmvCoeffs(seed: Long): (Long, Long) = {
    val s0 = math.floorMod(seed, HashP - 1) + 1
    val it = Iterator.iterate(s0)(x => x * 48271L % HashP).drop(1)
    (it.next(), it.next())
  }

  /** Per-group KMV distinct estimate for an integral column:
    * hash every value with h(x) = (a·(x mod P) + b) mod P, keep each
    * group's k smallest DISTINCT hashes, and estimate
    *   n̂ = (k−1)·P / h_(k)   (exact count when fewer than k survive).
    *
    * Scale shape: the raw scan partially aggregates (group, h) before
    * the one dedup exchange (map-side dedup collapses repeats, so the
    * shuffle carries ~distinct cardinality, not row count); the k-min
    * selection is TWO-LEVEL — per-(group, h mod buckets) row_number
    * first (parallelism = groups × buckets, each emitting ≤ k rows),
    * then the global per-group rank runs over ≤ k·buckets survivors —
    * so no group ever funnels its full distinct set into one task
    * (the stratumRank lesson). The bucketing is result-invisible: the
    * oracle is the PLAIN per-group rank, like the salted-agg oracle
    * being the plain group-by. */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], value: Column,
                  k: Int, seed: Long = 77L, buckets: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val (a, b) = kmvCoeffs(seed)
    val gs = groupCols.map(col)
    val h = (pmod(value.cast("bigint"), lit(HashP)) * lit(a) + lit(b)) % lit(HashP)
    val hashed = df.select(gs :+ h.as("_h"): _*).distinct()
    val w1 = Window.partitionBy(gs :+ pmod(col("_h"), lit(buckets)): _*).orderBy("_h")
    val w2 = Window.partitionBy(gs: _*).orderBy("_h")
    hashed
      .withColumn("_r1", row_number().over(w1)).filter(col("_r1") <= k)
      .withColumn("_r2", row_number().over(w2)).filter(col("_r2") <= k)
      .groupBy(gs: _*)
      .agg(count(lit(1)).as("_m"), max(col("_h")).as("_hk"))
      .select(gs :+
        when(col("_m") < k, col("_m").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(HashP.toDouble) / col("_hk"))
          .as("est_distinct"): _*)
  }

  /** KMV SET OPERATIONS over two segments A and B of one table — the
    * mergeability property that justifies keeping sketches at all:
    * union-estimate two segments without rescanning either, and
    * estimate the intersection no single-segment pass can see.
    *
    *   - per-segment sketches: k smallest distinct hashes, exactly
    *     [[kmvDistinct]]'s two-level plan per segment;
    *   - union sketch U = k smallest of the MERGED sketch rows (a
    *     ≤ 2k-row frame — parameter-bounded, so the global rank that
    *     finishes it is O(k), never O(data));
    *   - n̂(A∪B) from U by the KMV estimator;
    *   - Jaccard ρ̂ = |{h ∈ U : h ∈ S_A ∧ h ∈ S_B}| / |U| and
    *     n̂(A∩B) = ρ̂ · n̂(A∪B)  (Beyer et al., SIGMOD'07).
    *
    * Every step is integer hashing or a single correctly-rounded IEEE
    * division/multiply, so a SQL oracle replays the ESTIMATES
    * bit-for-bit. When a sketch holds fewer than k hashes the
    * estimates degrade to exact counts (the estimator's exact-small
    * regime), including the intersection: membership flags are then
    * complete, so ρ̂·n̂ is the true intersection cardinality. */
  def kmvSetOps(df: DataFrame, tag: Column, value: Column,
                tagA: String, tagB: String, k: Int,
                seed: Long = 77L, buckets: Int = 64): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val (a, b) = kmvCoeffs(seed)
    val h = (pmod(value.cast("bigint"), lit(HashP)) * lit(a) + lit(b)) % lit(HashP)
    val hashed = df.filter(tag.isin(tagA, tagB))
      .select(tag.as("_t"), h.as("_h")).distinct()
    val w1 = Window.partitionBy(col("_t"), pmod(col("_h"), lit(buckets))).orderBy("_h")
    val w2 = Window.partitionBy(col("_t")).orderBy("_h")
    val sk = hashed
      .withColumn("_r1", row_number().over(w1)).filter(col("_r1") <= k)
      .withColumn("_r2", row_number().over(w2)).filter(col("_r2") <= k)
      .select("_t", "_h")
    // merged + membership-flagged; ≤ 2k rows reach the global rank
    val u = sk.groupBy("_h")
      .agg(max(when(col("_t") === tagA, 1).otherwise(0)).as("_ina"),
           max(when(col("_t") === tagB, 1).otherwise(0)).as("_inb"))
      .withColumn("_ru", row_number().over(Window.orderBy("_h")))
      .filter(col("_ru") <= k)
    def est(m: Column, hk: Column): Column =
      when(m < k, m.cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(HashP.toDouble) / hk)
    val segs = sk.groupBy("_t").agg(count(lit(1)).as("m"), max(col("_h")).as("hk"))
    val seg = segs.groupBy()
      .agg(max(when(col("_t") === tagA, col("m"))).as("ma"),
           max(when(col("_t") === tagA, col("hk"))).as("hka"),
           max(when(col("_t") === tagB, col("m"))).as("mb"),
           max(when(col("_t") === tagB, col("hk"))).as("hkb"))
    val uni = u.agg(count(lit(1)).as("um"), max(col("_h")).as("uhk"),
      sum(when(col("_ina") === 1 && col("_inb") === 1, 1L).otherwise(0L)).as("nboth"))
    val jac = col("nboth").cast("double") / col("um")
    seg.crossJoin(uni).select(
      round(est(col("ma"), col("hka")), 6).as("est_a"),
      round(est(col("mb"), col("hkb")), 6).as("est_b"),
      round(est(col("um"), col("uhk")), 6).as("est_union"),
      round(jac, 6).as("jaccard"),
      round(jac * est(col("um"), col("uhk")), 6).as("est_intersect"))
  }

  /** MISRA-GRIES sketch state with k counters: any item occurring
    * more than n/(k+1) times in the offered stream is guaranteed to
    * survive (each eviction round removes k+1 stream occurrences —
    * the newcomer plus one decrement from each of the k counters — so
    * an item's counter can be zeroed at most n/(k+1) times). A tiny
    * mutable class rather than a closure so the executor-side fused
    * pass (candidates + stream length in ONE scan) and PropertiesSpec's
    * law share the exact eviction code. */
  final class MisraGries(k: Int) {
    private val counts = scala.collection.mutable.HashMap.empty[String, Long]
    def offer(t: String): Unit =
      counts.get(t) match {
        case Some(c) => counts.update(t, c + 1)
        case None if counts.size < k => counts.update(t, 1L)
        case None =>
          counts.mapValuesInPlace((_, c) => c - 1)
          counts.filterInPlace((_, c) => c > 0)
      }
    def candidates: Iterator[String] = counts.keysIterator
  }

  /** HEAVY HITTERS — all tokens with share ≥ shareNum/shareDen of the
    * stream, with EXACT counts. Sketch-driven but oracle-exact (the
    * KMV pattern): a bounded-state Misra-Gries pass per partition
    * nominates candidates, and an exact recount over the nominees
    * rescues the precise answer.
    *
    * Exactness: a token with global share ≥ shareNum/shareDen >
    * 1/(k+1) must exceed share 1/(k+1) in at least one partition
    * (averaging argument), so per-partition MG retains it there —
    * the candidate union is a SUPERSET of every qualifying token
    * (require() enforces the precondition). The recount then filters
    * with exact integer cross-multiplication, so the result equals
    * the plain GROUP BY ... HAVING the oracle runs.
    *
    * Scale shape at 100 TB — TWO scans of the token stream, the floor
    * for exact counts: scan 1 is the fused sketch pass (k bounded
    * counters per partition AND the partition's token count in the
    * same iteration — the stream total rides along instead of costing
    * its own scan); its ≤ (k+1)·partitions output rows aggregate to
    * (distinct candidates, total) in one tiny job whose driver
    * collect is candidate-sized, like Bloom.buildBitmap's — never the
    * data. Scan 2 is the exact recount: candidates broadcast back,
    * the groupBy shuffles ONLY candidate tokens after map-side
    * partial aggregation, never the full Heaps'-law vocabulary the
    * plain GROUP BY would exchange; the threshold enters as a
    * literal, so no cross-join subtree. */
  def heavyHitters(tokens: DataFrame, tokenCol: String,
                   k: Int = 255, shareNum: Long = 1, shareDen: Long = 200): DataFrame = {
    require(shareNum > 0 && shareDen > 0 && shareNum * (k + 1) > shareDen,
      s"exactness needs share $shareNum/$shareDen > 1/(k+1) = 1/${k + 1}")
    val spark = tokens.sparkSession
    import spark.implicits._
    // NULL tokens are excluded on BOTH sides of the pipeline (they'd
    // otherwise inflate the total in the sketch pass but vanish from
    // the recount, whose join drops null keys) — and the null slot is
    // what the fused pass's marker row uses
    val t = tokens.select(col(tokenCol).cast("string").as("token"))
      .filter(col("token").isNotNull)
    // fused pass: null-token marker row carries the partition count
    val sketch = t.as[String].mapPartitions { it =>
      val mg = new MisraGries(k)
      var n = 0L
      it.foreach { tok => n += 1; mg.offer(tok) }
      Iterator.single((None: Option[String], n)) ++
        mg.candidates.map(c => (Some(c), 0L))
    }.toDF("token", "_n")
      .groupBy("token").agg(sum("_n").as("_n"))
      .collect()
    val total = sketch.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(0L)
    val cands = sketch.collect { case r if !r.isNullAt(0) => r.getString(0) }.toSeq
    t.join(broadcast(cands.toDF("token")), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") * lit(shareDen) >= lit(total) * lit(shareNum))
      .select(col("token"), col("n_occ"))
  }

  /** SINGLE-PASS mergeable quantile ESTIMATE over exact fixed-point
    * integers — the approximate path [[Quantiles]]' scaladoc points
    * to for ≥10⁷ simultaneous groups, as a real operator.
    *
    * The sketch is an equi-width integer histogram: per (group,
    * bucket = v DIV widthCents) cell it keeps (count, min, max) —
    * trivially MERGEABLE (count sums, min mins, max maxs — proved as
    * a law in StatsSpec on disjoint halves), one scan, bounded state
    * (domain/width cells per group, no per-group value buffering).
    * The rank r(q) = ⌊q·(n−1)⌋ is located by a prefix-count walk over
    * the group's ≤cells rows, and the estimate interpolates INSIDE
    * the located cell from its (min, max, count):
    *   est = min + ((max − min)·(r − cumBefore)) DIV max(cnt − 1, 1)
    * ALL-INTEGER arithmetic end to end — q enters as the rational
    * qNum/qDen, so the estimate is bit-reproducible and the DuckDB
    * oracle replays it exactly (unlike engine-private t-digest /
    * approx_percentile). Error is bounded by the cell width by
    * construction (spec-pinned against the exact operator).
    *
    * Scale shape: one corpus scan → map-side-combined histogram
    * exchange (occupied cells, never rows); the walk is a window
    * over per-group cells — cells per group ≤ domain/width, a
    * CONSTANT chosen by the caller, so the per-group task is O(cells)
    * regardless of row count. */
  def histogramQuantiles(df: DataFrame, groupCol: String, valueCents: Column,
                         qs: Seq[(Long, Long)], widthCents: Long): DataFrame = {
    require(widthCents > 0, "bucket width must be positive")
    val cells = df.select(col(groupCol).as("g"), valueCents.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("g"), (col("v") - pmod(col("v"), lit(widthCents))).as("b"))
      .agg(count(lit(1)).as("cnt"), min("v").as("bmin"), max("v").as("bmax"))
    val w = Window.partitionBy("g").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val walked = cells
      .withColumn("cum_before", coalesce(sum("cnt").over(w), lit(0L)))
      .withColumn("n", sum("cnt").over(Window.partitionBy("g")))
    val perQ = qs.map { case (qn, qd) =>
      walked
        .withColumn("_r", expr(s"($qn * (n - 1)) DIV $qd"))
        .filter(col("_r") >= col("cum_before") &&
          col("_r") < col("cum_before") + col("cnt"))
        .select(col("g"), lit(qn).as("q_num"), lit(qd).as("q_den"),
          // integer DIV, not `/` (Divide on longs is double division)
          expr("bmin + ((bmax - bmin) * (_r - cum_before)) DIV greatest(cnt - 1, 1)")
            .as("est_cents"),
          col("n"))
    }
    perQ.reduce(_.unionAll(_))
  }
}
