package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.FixtureCache
import graft.streaming.StreamOps

/** Declared Structured Streaming queries, each run as a REAL streaming
  * job (file-source readStream → stateful transform → memory sink) and
  * checked against a DuckDB oracle on the same fixture — streaming and
  * batch must agree.
  *
  *  - `stream_window_parity`: watermarked tumbling-window aggregation
  *    (complete mode), same oracle as the batch window query.
  *  - `stream_session_parity`: flatMapGroupsWithState sessionization
  *    with event-time timeout (append mode). The oracle mirrors the
  *    emission semantics exactly: a session is output either when a
  *    later in-stream event closes it (gap ≥ 30 min) or when the final
  *    watermark — max event time, ms resolution — passes its
  *    end + gap; each user's trailing session emits only via the
  *    latter.
  *  - `stream_join_pairs`: stream-stream interval join (signup ⋈
  *    purchase within 24 h per user) with watermarks on both sides.
  *  - `stream_dedup_distinct`: streaming dropDuplicates state op. The
  *    declared query uses the global (unbounded-state) variant so the
  *    result is batching-independent and oracle-checkable;
  *    at 100 TB you would bound state with dropDuplicatesWithinWatermark
  *    (whose output depends on batch boundaries, so it is covered by
  *    ScalaTest instead of a cross-engine oracle).
  *  - `stream_running_stats`: mapGroupsWithState running per-user
  *    totals (update mode); one-batch final state == batch aggregate.
  *  - `stream_kmeans_parity`: one-batch streaming K-Means == one
  *    exact Lloyd step (same oracle as `kmeans_average`).
  *
  * Scale notes: the windowed agg, sessionization, join and streaming
  * K-Means hold bounded per-key state (window×type counts, one open
  * session per user, join rows inside the watermark horizon, k·d
  * driver doubles); the global dedup and running-stats state grows
  * with key cardinality BY DESIGN (that is what makes them
  * batching-independent and oracle-checkable — the bounded
  * alternatives are watermark-scoped and noted above). The
  * memory-sink table is a test-harness artifact — production would
  * writeStream to files/Kafka.
  */
object StreamQueries {
  private val Fmt = "yyyy-MM-dd HH:mm:ss"
  private val DuckFmt = "%Y-%m-%d %H:%M:%S"
  private val GapUs = 1800L * 1000000L

  /** The file source needs a DIRECTORY of files. A Spark-written table
    * is already one — stream it directly; the driver fixture is a
    * single parquet FILE, so expose it through a cached temp-dir
    * symlink (one per fixture file — repeated Verify+Bench runs in one
    * JVM must not accumulate dirs). */
  private[queries] def streamDir(dir: String, table: String): String = {
    val src = java.nio.file.Paths.get(dir, s"$table.parquet")
    if (java.nio.file.Files.isDirectory(src)) src.toString
    else FixtureCache.memo(s"stream_src_dir:$table", dir, table) {
      val d = java.nio.file.Files.createTempDirectory("graft-stream")
      // the JVM deletes in reverse registration order: the link first,
      // then its (by then empty) directory
      d.toFile.deleteOnExit()
      val link = d.resolve(s"$table.parquet")
      try java.nio.file.Files.createSymbolicLink(link, src)
      catch { case _: Exception => java.nio.file.Files.copy(src, link) }
      link.toFile.deleteOnExit()
      d.toString
    }
  }

  private[queries] def eventsStreamDir(dir: String): String = streamDir(dir, "events")

  /** Start `df` into a memory sink, drain it, and return the sink
    * table itself — NOT a driver-side collect (at 10× scale the
    * session sink holds ~1M rows; collecting and rebuilding a local
    * DataFrame was the one superlinear step in the whole streaming
    * path). The previous registration under the same name is dropped
    * on the next invocation, so repeated Verify+Bench runs hold at
    * most one sink table per query. */
  private def runToMemory(s: SparkSession, qname: String, df: DataFrame,
                          mode: String, awaitTimeout: Boolean = false): DataFrame = {
    s.streams.active.filter(q => Option(q.name).contains(qname)).foreach(_.stop())
    if (s.catalog.tableExists(qname)) s.catalog.dropTempView(qname)
    val q = df.writeStream.outputMode(mode).format("memory").queryName(qname).start()
    q.processAllAvailable()
    if (awaitTimeout) awaitNoDataBatch(q)
    q.stop()
    s.table(qname)
  }

  /** Event-time timeouts fire in the no-data micro-batch that runs
    * after the watermark advances past the last data batch;
    * processAllAvailable only waits for DATA, so queries whose output
    * depends on timeouts must wait for that batch explicitly. */
  private def awaitNoDataBatch(q: StreamingQuery, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline &&
           !q.recentProgress.exists(p => p.numInputRows == 0L)) {
      Thread.sleep(50)
      q.processAllAvailable()
    }
    // returning silently would emit a result missing every trailing
    // session and fail the oracle with nothing pointing at the cause
    if (!q.recentProgress.exists(p => p.numInputRows == 0L))
      throw new IllegalStateException(
        s"no-data micro-batch did not fire within ${timeoutMs} ms — event-time " +
          "timeouts never triggered (is spark.sql.streaming.noDataMicroBatches.enabled off?)")
  }

  def windowParity(s: SparkSession, dir: String): DataFrame = {
    val agg = StreamOps.windowedAgg(
      StreamOps.readEventsStream(s, eventsStreamDir(dir)))
    runToMemory(s, "stream_window_parity_sink", agg, "complete")
      .select(date_format(col("window_start"), Fmt).as("window_start"),
        col("event_type"), col("n"), round(col("sum_value"), 6).as("sum_value"))
      .orderBy("window_start", "event_type")
  }

  def sessionParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamOps.Event]
    val sess = StreamOps.sessionize(ev).toDF()
    runToMemory(s, "stream_session_sink", sess, "append", awaitTimeout = true)
      .select(col("user_id"),
        date_format(col("session_start"), Fmt).as("session_start"),
        date_format(col("session_end"), Fmt).as("session_end"),
        col("n_events"),
        // sum in cents: the fixture values are exact 2-dp, so the
        // running double sum is within 1e-9 of the true cent count
        round(col("sum_value") * 100).cast("long").as("sum_value_cents"))
      .orderBy("user_id", "session_start")
  }

  def joinPairs(s: SparkSession, dir: String): DataFrame = {
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
        col("event_id").as("s_id"))
      .withWatermark("s_ts", "25 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "25 hours")
    val joined = signups.join(purchases,
      expr("s_user = p_user AND p_ts > s_ts AND p_ts <= s_ts + INTERVAL 24 HOURS"))
      .select(col("s_user"), col("s_id"), col("p_id"))
    runToMemory(s, "stream_join_sink", joined, "append")
      .groupBy(col("s_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Streaming K-Means over the embeddings fixture, ONE micro-batch,
    * decay-free: the model update is then exactly one Lloyd step from
    * the shared first-k init, so the emitted centers match the batch
    * `kmeans_average` oracle cell-for-cell — streaming and batch
    * clustering must agree. (Multi-batch decayed behavior is covered
    * by StreamingSpec; it is order-dependent by design and so not
    * oracle-checkable.) */
  def kmeansParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qname = "stream_kmeans_parity_q"
    s.streams.active.filter(q => Option(q.name).contains(qname)).foreach(_.stop())
    val init = KMeansQueries.firstK(s, dir)
    val stream = s.readStream.schema("vec_id bigint, embedding array<float>")
      .parquet(streamDir(dir, "embeddings"))
      .select(graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
    val (q, model) = graft.streaming.StreamingKMeans.fitStream(
      stream, "v", init, decay = 1.0, queryName = qname)
    q.processAllAvailable()
    q.stop()
    val rows = model.centers.zip(model.weights).zipWithIndex.flatMap {
      case ((c, w), cid) if w > 0 =>
        c.zipWithIndex.map { case (x, d) =>
          (cid, d, BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      case _ => Array.empty[(Int, Int, Double)]
    }
    rows.toSeq.toDF("cluster_id", "dim", "coord").orderBy("cluster_id", "dim")
  }

  /** mapGroupsWithState (update mode) over the fixture stream: per-
    * user running totals. With the whole fixture in one micro-batch,
    * each user's final state row equals the batch per-user aggregate —
    * the oracle. Value sums fold in group-iterator order (arbitrary),
    * so they are emitted as cents: the ≤1e-9 float wobble of summing
    * ~exact 2-dp values cannot move a cent boundary. */
  def runningStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamOps.Event]
    val stats = StreamOps.runningUserStats(ev)
      .toDF("user_id", "n_events", "total_value")
    val sink = runToMemory(s, "stream_running_stats_sink", stats, "update")
    // update mode re-emits a user on every batch; keep the final state
    // (max n_events — counts are monotone per user)
    sink.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_value"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        round(col("m.total_value") * 100).cast("long").as("total_cents"))
      .orderBy("user_id")
  }

  /** The batch text pipeline running UNCHANGED on a document stream:
    * the same TextAnalysis.mixSample call (per-stratum admission) and
    * the same compiled repetition kernel, applied to a readStream
    * frame — stateless scan operators need no watermark/state and
    * compose with Structured Streaming for free; output equals the
    * batch computation row-for-row (the oracle). */
  def mixParity(s: SparkSession, dir: String): DataFrame = {
    val docs = s.readStream
      .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
      .parquet(streamDir(dir, "documents"))
    val admitted = graft.operators.TextAnalysis.mixSample(
      docs, "lang", "doc_id", TextQueries.MixRatesBps)
    val r = graft.plans.expressions.repetition_stats(col("text"))
    val out = admitted
      .select(col("doc_id"), col("lang"), r.as("r"))
      .select(col("doc_id"), col("lang"),
        col("r")(0).cast("int").as("n_words"),
        round((col("r")(0) - col("r")(1)).cast("double") / col("r")(0), 6)
          .as("dup_word_frac"))
    runToMemory(s, "stream_mix_sink", out, "append")
      .orderBy("doc_id")
  }

  /** Streaming multi-epoch admission — the ingest face of the batch
    * `pipeline_epoch_admission`: documents arrive as a stream, the
    * admission RATES are the batch-trained static frame (the
    * train-once/admit-forever pattern — stream-static broadcast
    * join, like the topic-serving twin's centers), each row explodes
    * its epochs statelessly, the multiplicative epoch hash filters
    * per-row, and the (epoch, source)-bounded report accumulates in
    * complete mode. Rides the batch oracle verbatim. */
  def admissionParity(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val rates0 = TextAnalysis.admissionRates(
      graft.io.Tables.documents(s, dir), "source", "text",
      PipelineQueries.EpochTargetDocs)
    // The TRAINED rates are the static dim of a stream-static join:
    // RDD-pinned (sources-bounded rows, the Quantiles ContextCleaner
    // pattern) so each micro-batch broadcasts the materialized rows.
    // Streaming plans run WITHOUT AQE, so the static subtree would
    // otherwise re-execute its corpus aggregate — with zero exchange
    // reuse across its internally repeated scans — on EVERY batch
    // (r18: this was the bulk of the sink's addBatch). The pin is
    // built per invocation, inside the timed region: train-once /
    // admit-forever made physical, not cross-run caching.
    val rates = s.createDataFrame(rates0.rdd.persist(), rates0.schema)
    val docs = s.readStream
      .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
      .parquet(streamDir(dir, "documents"))
    // Tokenize AFTER the admission filter (r18, same rewrite as the
    // batch admittedDocs): the per-batch corpus tokenize was the bulk
    // of addBatch; the admission test ([[TextAnalysis
    // .admittedEpochsCol]], shared with the batch twin) needs only
    // (doc_id, rate), so admitted docs alone pay the tokenizer.
    val out = docs
      .select(col("doc_id"), col("source"), col("text"))
      .join(broadcast(rates), "source")
      .withColumn("_es",
        TextAnalysis.admittedEpochsCol(PipelineQueries.MixEpochs))
      .filter(size(col("_es")) > 0)
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextOps.words(col("text"))).cast("long").as("n_toks"),
        col("rate_permille"), explode(col("_es")).as("epoch"))
      .groupBy("epoch", "source")
      .agg(min("rate_permille").as("rate_permille"),
        count(lit(1)).as("n_admitted"),
        sum("n_toks").as("admitted_tokens"))
    runToMemory(s, "stream_admission_sink", out, "complete")
      .orderBy("epoch", "source")
  }

  /** Stateful streaming anomaly detection: the bounded-ring
    * flatMapGroupsWithState twin of the batch
    * `events_anomaly_zscore` — same BIGINT test, same oracle. */
  def anomalyParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamOps.Event]
    val alerts = StreamOps.anomalyStream(ev)
      .toDF("user_id", "event_id", "ts", "cents", "n_prev", "s_prev")
    runToMemory(s, "stream_anomaly_sink", alerts, "append")
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), Fmt).as("ts"),
        col("cents"), col("n_prev"), col("s_prev"))
      .orderBy("user_id", "event_id")
  }

  def dedupDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    runToMemory(s, "stream_dedup_sink", ev, "append")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** Rolling WAU on a STREAM — the contribution decomposition of
    * [[graft.operators.Events.rollingActiveUsers]] composed from
    * native Structured Streaming state: dedup events to distinct
    * (user, epoch-day) (bounded state: user-days), explode each pair
    * to the 7 report days it touches (stateless), dedup again on
    * (user, report-day) so re-activity inside one window counts once
    * — CHAINED stateful dedups, the exact streaming face of the batch
    * plan's two DISTINCTs. The drained append sink holds the distinct
    * contribution set; day counts and the observed-day restriction
    * are day-cardinality-sized batch steps (the restriction frame
    * comes from the batch table, like `stream_static_join_parity`'s
    * dim). Parity contract: equals the batch operator's `wau` column
    * — the oracle is the same contribution CTE. A production
    * deployment bounds both dedup states with a `withWatermark`
    * before the first dedup (state ≤ users × (window + lateness)
    * days); the parity run replays a finite fixture, so it keeps the
    * whole set, like `stream_dedup_distinct`. */
  def wauParity(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
      .select(col("user_id"),
        expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $dayUs)) DIV $dayUs").as("d"))
      .dropDuplicates("user_id", "d")
      .select(col("user_id"),
        explode(sequence(col("d"), col("d") + 6)).as("day"))
      .dropDuplicates("user_id", "day")
    val sunk = runToMemory(s, "stream_wau_sink", ev, "append")
    val obs = graft.io.Tables.events(s, dir)
      .select(expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $dayUs)) DIV $dayUs")
        .as("day")).distinct()
    sunk.join(broadcast(obs), "day")
      .groupBy("day").agg(count(lit(1)).as("wau"))
      .orderBy("day")
  }

  /** Incremental aggregate maintenance driven by its intended engine:
    * a foreachBatch stream where every micro-batch contributes its
    * [[graft.operators.Incremental.partialState]] and the running
    * state table (group-cardinality-sized — collected and re-lifted
    * per batch so plans never chain across batches) is merged with
    * [[graft.operators.Incremental.mergeStates]]. The fixture arrives
    * as one batch here; the multi-batch trajectory (3 files ×
    * maxFilesPerTrigger=1 ≡ the flat aggregate) is StreamingSpec's
    * law. Oracle = the flat GROUP BY, same as `rel_incremental_agg` —
    * batch, delta-merge, and streaming must all land on the same
    * exact-decimal answer. */
  /** The core maintenance loop, shared with StreamingSpec's 3-batch
    * law (`maxFilesPerTrigger` splits a multi-file dir into real
    * successive micro-batches there). Returns the finalized state.
    * State here is the in-memory test-harness face; the PRODUCTION
    * face is [[graft.operators.Incremental.IdempotentStateStore]]
    * (disk snapshots + commit markers, exactly-once under
    * at-least-once redelivery — replay/crash law in StreamingSpec). */
  private[graft] def incrementalStateOf(s: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val keys = Seq("l_returnflag", "l_linestatus")
    val reader = maxFilesPerTrigger.foldLeft(s.readStream.schema(schema)) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    val li = reader.parquet(srcDir)
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_extendedprice").cast("decimal(38,2)").as("p"))
    @volatile var state: Option[(Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)] = None
    val q = li.writeStream.queryName("stream_incremental_q")
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val partial = graft.operators.Incremental.partialState(batch, keys, col("p"))
        val merged = state match {
          case None => partial
          case Some((rows, sc)) =>
            val prev = s.createDataFrame(java.util.Arrays.asList(rows: _*), sc)
            graft.operators.Incremental.mergeStates(Seq(prev, partial), keys)
        }
        state = Some((merged.collect(), merged.schema))
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val (rows, sc) = state.getOrElse((Array.empty[org.apache.spark.sql.Row], null))
    graft.operators.Incremental.finalizeState(
      s.createDataFrame(java.util.Arrays.asList(rows: _*), sc), keys)
  }

  /** Streaming correlation via MERGEABLE MOMENTS: each micro-batch
    * contributes its one-row exact-decimal moment frame
    * ([[StatsQueries.momentAgg]]); the running state — 10 numbers —
    * merges by column-wise addition ([[StatsQueries.mergeMoments]]:
    * decimal sums are associative, so the trajectory is
    * batching-independent); finalize converts each merged moment to
    * double ONCE and runs the shared corr expression. Oracle =
    * `rel_corr_matrix`'s verbatim — streaming and batch must land on
    * identical bits. The multi-batch law (3 real micro-batches ≡
    * flat) is StreamingSpec's. Scale: state is O(1) — the only thing
    * that ever crosses a batch boundary is 10 numbers. */
  private[graft] def corrStateOf(s: SparkSession, srcDir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = maxFilesPerTrigger.foldLeft(s.readStream.schema(schema)) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    val li = reader.parquet(srcDir).select(
      col("l_quantity").cast("long").as("q"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("p"),
      (col("l_discount").cast("decimal(18,2)") * 100).cast("long").as("d"))
    @volatile var state: Option[(Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)] = None
    val q = li.writeStream.queryName("stream_corr_q")
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val partial = StatsQueries.momentAgg(batch)
        val merged = state match {
          case None => partial
          case Some((rows, sc)) =>
            val prev = s.createDataFrame(java.util.Arrays.asList(rows: _*), sc)
            StatsQueries.mergeMoments(Seq(prev, partial))
        }
        state = Some((merged.collect(), merged.schema))
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val (rows, sc) = state.getOrElse((Array.empty[org.apache.spark.sql.Row], null))
    StatsQueries.corrFromMoments(
      s.createDataFrame(java.util.Arrays.asList(rows: _*), sc))
  }

  def corrParity(s: SparkSession, dir: String): DataFrame =
    corrStateOf(s, streamDir(dir, "lineitem"),
      graft.io.Tables.lineitem(s, dir).schema, None)

  def incrementalParity(s: SparkSession, dir: String): DataFrame =
    incrementalStateOf(s, streamDir(dir, "lineitem"),
        graft.io.Tables.lineitem(s, dir).schema, None)
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("sum_value") * 100).cast("long").as("sum_price_cents"), col("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Stream-STATIC dimension join — the enrichment pattern every
    * production stream runs (fact stream × broadcastable profile
    * dim). The dim is each user's epoch-week cohort computed once
    * from the batch table (static by definition); every micro-batch
    * broadcast-joins it and the complete-mode aggregate fills
    * (cohort_week, event_type) cells with exact-decimal value sums.
    * Parity contract: the result equals the flat batch recompute —
    * the DuckDB oracle. Scale shape: state = cells (cohorts×types),
    * the dim is |users| rows (broadcast like any profile dim; at
    * true 100 TB user counts the same plan works as a shuffle join —
    * Spark picks by size). */
  def staticJoinParity(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    // FLOOR-division week (pmod-subtract) — same engine-portable
    // arithmetic as Events.cohortRetention
    // NOT pinned like the admission twin's rates (r18): this dim is a
    // cheap numeric aggregate — its per-batch recompute measured flat
    // (addBatch 894 → 885 ms/batch pinned), so the plain frame stays.
    val dim = graft.io.Tables.events(s, dir)
      .select(col("user_id"),
        expr(s"(unix_micros(ts) - pmod(unix_micros(ts), $weekUs)) DIV $weekUs").as("week"))
      .groupBy("user_id").agg(min("week").as("cohort_week"))
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
    val agg = ev.join(broadcast(dim), Seq("user_id"))
      .groupBy("cohort_week", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(38,2)")).as("sv"))
    runToMemory(s, "stream_static_join_sink", agg, "complete")
      .select(col("cohort_week"), col("event_type"), col("n"),
        (col("sv") * 100).cast("long").as("sum_value_cents"))
      .orderBy("cohort_week", "event_type")
  }

  /** Streaming transition matrix — [[StreamOps.transitionsStream]]
    * chains per-user last-event state across micro-batches so no
    * consecutive pair is lost to batching; the drained pair sink then
    * reduces to the type²-bounded matrix with the SAME permille
    * arithmetic as the batch operator. Oracle = the batch
    * events_markov_transitions SQL verbatim. */
  def markovParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamOps.Event]
    val pairs = StreamOps.transitionsStream(ev)
      .toDF("user_id", "from_type", "to_type")
    runToMemory(s, "stream_markov_sink", pairs, "append")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      .withColumn("p_permille",
        expr("(1000 * n) DIV sum(n) OVER (PARTITION BY from_type)"))
      .select(col("from_type"), col("to_type"), col("n"), col("p_permille"))
      .orderBy("from_type", "to_type")
  }

  /** Streaming last-touch attribution — [[StreamOps.attributionStream]]
    * keeps one most-recent-touch tuple per user across micro-batches;
    * the drained (bucket, cents) sink reduces to the same 3-row
    * report as the batch operator. Oracle = events_attribution SQL
    * verbatim. */
  def attributionParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = StreamOps.readEventsStream(s, eventsStreamDir(dir))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StreamOps.Event]
    val rows = StreamOps.attributionStream(ev)
      .toDF("touch_type", "cents")
    runToMemory(s, "stream_attr_sink", rows, "append")
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_conversions"), sum("cents").as("sum_cents"))
      .orderBy("touch_type")
  }

  /** Topic-model SERVING on a document stream — the train-once,
    * classify-forever pattern: each incoming document builds its
    * hashed bag-of-words vector PER ROW (a stateless HOF expression:
    * no shuffle, no state, no watermark — the vector is a pure
    * function of the row) and assigns to the centers the batch
    * `text_topic_clusters` trained (driver literals compiled into the
    * argmin, the broadcast-model idiom). Output = per-doc cluster
    * assignment, equal to the batch assignment row-for-row (the
    * oracle replays train + assign via the shared topic CTEs). */
  def topicParity(s: SparkSession, dir: String): DataFrame = {
    val centers = TextQueries.topicCenters(s, dir)
    val docs = s.readStream
      .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
      .parquet(streamDir(dir, "documents"))
    // the SAME compiled O(tokens) kernel the batch docVectors scans
    // with — per-row, shuffle-free, stateless
    val vec = graft.plans.expressions.hashed_bow(col("text"),
      TextQueries.TopicBuckets)
    val out = docs.select(col("doc_id"),
      graft.plans.expressions.vec_argmin(vec, centers)("cluster_id")
        .cast("int").as("cluster_id"))
    runToMemory(s, "stream_topic_sink", out, "append").orderBy("doc_id")
  }

  /** Streaming ANN — ONLINE VECTOR RETRIEVAL against the persisted
    * IVF index, the serving form of `ann_ivf_topk`: query vectors
    * arrive as a stream, each row assigns its nProbe nearest cells
    * per-row against the broadcast k·d centroid literals (compiled
    * [[graft.plans.expressions.vec_sqdist]] — bit-equal to the batch
    * probe's JVM fold, spec-pinned), candidates come from a
    * stream-STATIC join against the disk-persisted cell layout (only
    * probed cells' rows join — the per-query candidate state is
    * nProbe-cell-bounded, never corpus-bounded), and top-k is a
    * complete-mode collect + deterministic array_sort on
    * (−cosine, id) — negation is IEEE-exact both ways, and streaming
    * forbids rank windows, so the sort IS the row_number twin. The
    * emitted rows ride `ann_ivf_topk`'s full build+probe DuckDB
    * oracle verbatim: same queries (vec_id < Q on the dense 0-based
    * fixture ids = the batch's ORDER BY LIMIT Q), same index, same
    * ranks, same rounded cosines. */
  def annServeParity(s: SparkSession, dir: String): DataFrame = {
    val idx = SimilarityQueries.ivfIndex(s, dir)
    val nProbe = SimilarityQueries.IvfNProbe
    val stream = s.readStream
      .schema("vec_id bigint, embedding array<float>, label int")
      .parquet(streamDir(dir, "embeddings"))
      .filter(col("vec_id") < SimilarityQueries.Q)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("qv"))
    val cellStructs = array(idx.centers.zipWithIndex.map { case (c, cid) =>
      struct(
        graft.plans.expressions.vec_sqdist(col("qv"), typedlit(c.toSeq)).as("d2"),
        lit(cid).as("cid"))
    }: _*)
    val probes = stream
      .withColumn("qn", sqrt(graft.plans.expressions.vec_dot(col("qv"), col("qv"))))
      .withColumn("cell", explode(transform(
        slice(array_sort(cellStructs), 1, nProbe), x => x.getField("cid"))))
    val joined = probes.join(idx.cells, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cosine",
        graft.plans.expressions.vec_dot(col("qv"), col("v")) /
          (col("qn") * sqrt(graft.plans.expressions.vec_dot(col("v"), col("v")))))
      .select("query_id", "id", "cosine")
    // NaN cosines (a zero-norm corpus vector — the audit gate pins the
    // fixture clean, but the twin must stay row-identical even off it):
    // the batch probe's `cosine DESC` rank treats NaN as GREATEST
    // (rank 1), while ascending array_sort on −cosine would order NaN
    // LAST; mapping NaN → −∞ in the sort key reproduces the batch
    // ordering (−∞ sorts first ascending), with the id tie-break
    // unchanged
    val sortKey = when(isnan(col("cosine")), lit(Double.NegativeInfinity))
      .otherwise(-col("cosine"))
    val agg = joined.groupBy("query_id")
      .agg(collect_list(struct(sortKey.as("nc"), col("id").as("nid"),
          col("cosine").as("c0")))
        .as("cand"))
    runToMemory(s, "stream_ann_sink", agg, "complete")
      .select(col("query_id"),
        posexplode(slice(array_sort(col("cand")), 1, SimilarityQueries.K))
          .as(Seq("p", "c")))
      .select(col("query_id"), col("c.nid").as("neighbor_id"),
        (col("p") + 1).cast("int").as("rank"),
        round(col("c.c0"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Streaming SEMANTIC-DEDUP INGEST — the serving form of
    * `dedup_semantic_probe` (18th streaming query): new vectors
    * arrive as a stream at an embedding store whose IVF index is
    * already built; each row re-derives its home cell PER ROW with
    * the compiled argmin against the broadcast centroid literals
    * (identical to the index's stored assignment — same centers,
    * same lowest-cid tie rule), candidates come from a stream-STATIC
    * join against the settled corpus rows of that one cell, and the
    * best partner is a complete-mode `min(struct(−cos, id))`
    * aggregate (streaming forbids rank windows; negation is
    * IEEE-exact, NaN → −∞ reproduces the batch `cos DESC` NaN-first
    * order — the stream_ann_parity idiom). Per-new-vector state is
    * ONE struct. Kept-with-empty-cell rows are restored by a
    * post-sink left join from the static new-id frame, so the twin
    * is row-identical to the batch query — and rides its DuckDB
    * oracle verbatim. */
  def semanticProbeParity(s: SparkSession, dir: String): DataFrame =
    semanticProbeParityWith(s, dir, SimilarityQueries.ivfIndex(s, dir))

  /** Streaming INDEX-DRIFT audit — the serving form of
    * `ann_index_drift` (19th streaming query, r13): the new batch
    * arrives as a stream at the same settled index, each row
    * re-derives its home cell PER ROW with the compiled argmin
    * against the broadcast centroid literals (identical to the
    * stored assignment — the semantic-probe twin's pinned rule), and
    * the per-cell landing counts accumulate in ONE complete-mode
    * count aggregate — the smallest state of any serve twin: ≤
    * nCells count rows, whatever the corpus. The report arithmetic
    * runs post-sink against the static settled occupancy through
    * [[graft.operators.Similarity.driftReport]] — the SAME code the
    * batch audit runs — so the twin is row-identical and rides the
    * batch DuckDB oracle verbatim. This is the monitor a streaming
    * ingest job keeps resident: the retrain flag flips mid-stream
    * the moment a batch's landing distribution leaves the settled
    * band. */
  /** STREAMING GRAPH-SEARCH SERVING — the 20th streaming query: the
    * serving half of the graph-ANN lifecycle as a RESIDENT stream.
    * Query vectors ARRIVE as a micro-batched stream at an embedding
    * store whose refined kNN graph and IVF index are already built;
    * each micro-batch runs the SAME composition the batch
    * `ann_graph_search` declares — nProbe = 1 coarse entry
    * ([[graft.operators.Similarity.probe]]) + the fixed
    * beam rounds ([[graft.operators.Similarity.graphSearch]]) — via
    * `foreachBatch` + the Q-bounded driver beam state (the
    * [[graft.streaming.StreamingKMeans]] idiom: an iterative driver
    * loop is a per-batch job, not a streaming plan; rank windows
    * never enter a streaming query). Because graph search is
    * PER-QUERY independent, the twin is batching-invariant EXACTLY —
    * not just in aggregate: any micro-batch split of the query set
    * produces row-identical results (StreamingSpec's 3-batch law) —
    * the property that makes it a deploy-anywhere serving stream.
    * Oracle = the batch search oracle verbatim; the streamed queries
    * (vec_id < Q, dense 0-based ids) ARE the batch's ORDER BY vec_id
    * LIMIT Q set. */
  def graphSearchParity(s: SparkSession, dir: String): DataFrame =
    graphSearchParityWith(s, dir, maxFilesPerTrigger = None)

  private[graft] def graphSearchParityWith(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int],
      srcDir: Option[String] = None): DataFrame = {
    val edges = SimilarityQueries.refinedEdges(s, dir)
    val idx = SimilarityQueries.ivfIndex(s, dir)
    val embs = graft.io.Tables.embeddings(s, dir)
    val reader = maxFilesPerTrigger.foldLeft(
      s.readStream.schema("vec_id bigint, embedding array<float>, label int")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    val stream = reader.parquet(srcDir.getOrElse(streamDir(dir, "embeddings")))
      .filter(col("vec_id") < SimilarityQueries.Q)
      .select(col("vec_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("qv"))
    val acc = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    val q = stream.writeStream.queryName("stream_graph_search_q")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val qs = batch.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        if (qs.nonEmpty) {
          val entries = graft.operators.Similarity.probe(idx, qs,
              SimilarityQueries.SearchBeam, nProbe = 1)
            .select(col("query_id"), col("neighbor_id").as("node"))
          val res = graft.operators.Similarity.graphSearch(edges, embs,
            "vec_id", "embedding", qs, entries, SimilarityQueries.K,
            SimilarityQueries.SearchBeam, SimilarityQueries.SearchRounds)
          val rows = res.collect()
          acc.synchronized { schema = res.schema; acc ++= rows }
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = acc.synchronized { acc.toArray }
    // no arriving queries → a well-typed empty result, not an NPE
    val outSchema =
      if (schema != null) schema
      else org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cosine",
          org.apache.spark.sql.types.DoubleType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** STREAMING GRAPH INSERT — the 21st streaming query: the ingest
    * stage of the graph-ANN lifecycle as a RESIDENT stream. NEW
    * vectors (`vec_id % 5 = 0`, the indexDrift arrival convention)
    * stream into a store whose settled-side index and refined graph
    * are already built; each micro-batch runs the batch
    * `ann_graph_insert` composition — settled-trained nProbe = 1
    * entry + beam rounds + top-GraphK links — via `foreachBatch` +
    * the bounded driver beam state (the [[graphSearchParityWith]]
    * idiom). Insertion is PER-ROW independent AND append-only
    * (forward edges only; reachability rides the undirected
    * navigation), so the twin is batching-invariant exactly and
    * never rewrites settled state — the property that lets the
    * ingest stream run beside the serving stream against the same
    * store. Oracle = the batch insert oracle verbatim. */
  def graphInsertParity(s: SparkSession, dir: String): DataFrame =
    graphInsertParityWith(s, dir, maxFilesPerTrigger = None)

  private[graft] def graphInsertParityWith(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int],
      srcDir: Option[String] = None): DataFrame = {
    val (idx, edges) = SimilarityQueries.settledGraph(s, dir)
    val settled = graft.io.Tables.embeddings(s, dir)
      .filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val reader = maxFilesPerTrigger.foldLeft(
      s.readStream.schema("vec_id bigint, embedding array<float>, label int")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    val stream = reader.parquet(srcDir.getOrElse(streamDir(dir, "embeddings")))
      .filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("qv"))
    val acc = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    val q = stream.writeStream.queryName("stream_graph_insert_q")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val qs = batch.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        if (qs.nonEmpty) {
          val entries = graft.operators.Similarity.probe(idx, qs,
              SimilarityQueries.SearchBeam, nProbe = 1)
            .select(col("query_id"), col("neighbor_id").as("node"))
          val res = graft.operators.Similarity.graphSearch(edges, settled,
            "vec_id", "embedding", qs, entries, SimilarityQueries.GraphK,
            SimilarityQueries.SearchBeam, SimilarityQueries.SearchRounds)
          val rows = res.collect()
          acc.synchronized { schema = res.schema; acc ++= rows }
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = acc.synchronized { acc.toArray }
    val outSchema =
      if (schema != null) schema
      else org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cosine",
          org.apache.spark.sql.types.DoubleType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
      .select(col("query_id").as("vec_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** STREAMING GRAPH DELETE — the delete stage of the lifecycle as a
    * RESIDENT stream (r16 verdict task 5): tombstone ids
    * (`vec_id % DeletedMod = 0`, the batch delete family's stratum)
    * arrive as micro-batches, and after EACH batch the serving
    * composition re-serves the declared Q queries with the
    * ACCUMULATED tombstone set excluded at the final ranked emission
    * only ([[graft.operators.Similarity.graphSearch]]'s `emitFilter`
    * — navigation untouched, tombstones keep routing: the
    * FreshDiskANN discipline) — serving FLIPS from the classic
    * answers to the tombstone-filtered ones as deletes land,
    * mid-stream, with no store rewrite. The drained final state is
    * row-identical to the batch `ann_graph_tombstone_search` (the
    * oracle, verbatim). The tombstone set is driver-held and bounded
    * by the maintain gate's delete-share threshold at scale (the
    * FreshDiskANN delete-list contract: compaction fires before the
    * backlog grows unbounded); the emission predicate compiles to a
    * broadcast hash-set membership test (`isInCollection` → InSet),
    * one O(1) check per k-bounded emission row. */
  def graphDeleteParity(s: SparkSession, dir: String): DataFrame =
    graphDeleteParityWith(s, dir, maxFilesPerTrigger = None)

  private[graft] def graphDeleteParityWith(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int],
      srcDir: Option[String] = None,
      onServe: Array[org.apache.spark.sql.Row] => Unit = _ => ()): DataFrame = {
    val idx = SimilarityQueries.ivfIndex(s, dir)
    val edges = SimilarityQueries.refinedEdges(s, dir)
    val embs = graft.io.Tables.embeddings(s, dir)
    val qs = embs.orderBy("vec_id").limit(SimilarityQueries.Q)
      .select(col("vec_id"),
        graft.functions.VectorOps.toDouble(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val entries = graft.operators.Similarity.probe(idx, qs,
        SimilarityQueries.SearchBeam, nProbe = 1)
      .select(col("query_id"), col("neighbor_id").as("node"))
    val reader = maxFilesPerTrigger.foldLeft(
      s.readStream.schema("vec_id bigint, embedding array<float>, label int")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    val stream = reader.parquet(srcDir.getOrElse(streamDir(dir, "embeddings")))
      .filter(pmod(col("vec_id"), lit(SimilarityQueries.DeletedMod)) === 0)
      .select(col("vec_id"))
    val tombstones = scala.collection.mutable.HashSet.empty[Long]
    val acc = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    @volatile var schema: org.apache.spark.sql.types.StructType = null
    val q = stream.writeStream.queryName("stream_graph_delete_q")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val arrived = batch.collect().map(_.getLong(0))
        if (arrived.nonEmpty) {
          tombstones ++= arrived
          val res = graft.operators.Similarity.graphSearch(edges, embs,
            "vec_id", "embedding", qs, entries, SimilarityQueries.K,
            SimilarityQueries.SearchBeam, SimilarityQueries.SearchRounds,
            emitFilter = !col("node").isInCollection(tombstones.toSeq))
          val rows = res.collect()
          acc.synchronized { schema = res.schema; acc.clear(); acc ++= rows }
          onServe(rows)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val rows = acc.synchronized { acc.toArray }
    val outSchema =
      if (schema != null) schema
      else org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cosine",
          org.apache.spark.sql.types.DoubleType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** STREAMING MAINTAIN GATE — the graph store's scheduled
    * maintenance decision as a RESIDENT job (r17; the
    * `stream_index_drift_parity` discipline applied to the graph
    * gate): the corpus streams in and the TWO backlog signals — the
    * `% InsertedMod` ingest share and the `% DeletedMod` tombstoned
    * share — accumulate as three driver-held counters across
    * micro-batches (integer adds, nothing corpus-sized). At drain
    * the gate evaluates exactly the batch `ann_graph_maintain`
    * decision from the STREAMED counts: fired → the published CRUD
    * store + survivor-retrained entry (both read back from the
    * content-addressed layouts — the resident job never rebuilds
    * what the batch pass published); hold → the settled store. One
    * row, row-identical to the batch gate (the oracle, verbatim). */
  def graphMaintainParity(s: SparkSession, dir: String): DataFrame =
    graphMaintainParityWith(s, dir, maxFilesPerTrigger = None)

  private[graft] def graphMaintainParityWith(s: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int],
      srcDir: Option[String] = None,
      onBatch: (Long, Long, Long) => Unit = (_, _, _) => ()): DataFrame = {
    import s.implicits._
    val reader = maxFilesPerTrigger.foldLeft(
      s.readStream.schema("vec_id bigint, embedding array<float>, label int")) {
      (r, n) => r.option("maxFilesPerTrigger", n)
    }
    val stream = reader.parquet(srcDir.getOrElse(streamDir(dir, "embeddings")))
      .select(col("vec_id"))
    var nTotal = 0L
    var nNew = 0L
    var nDel = 0L
    val q = stream.writeStream.queryName("stream_graph_maintain_q")
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val r = batch.agg(
          count(lit(1)),
          count(when(pmod(col("vec_id"),
            lit(SimilarityQueries.InsertedMod)) === 0, 1)),
          count(when(pmod(col("vec_id"),
            lit(SimilarityQueries.DeletedMod)) === 0, 1))).collect()(0)
        nTotal += r.getLong(0); nNew += r.getLong(1); nDel += r.getLong(2)
        onBatch(nTotal, nNew, nDel)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val thr = SimilarityQueries.MaintainNewSharePermille
    val newShare = 1000L * nNew / math.max(nTotal, 1L)
    val delShare = 1000L * nDel / math.max(nTotal, 1L)
    val fires = newShare >= thr || delShare >= thr
    val (action, nStore, nEntry) =
      if (fires)
        ("compact+retrain",
          SimilarityQueries.crudCompactResult(s, dir).count(),
          SimilarityQueries.remainingIdx(s, dir).cells.count())
      else
        ("noop", SimilarityQueries.settledGraph(s, dir)._2.count(),
          SimilarityQueries.settledGraph(s, dir)._1.cells.count())
    Seq((nTotal, nNew, newShare, nDel, delShare, thr, action, nStore, nEntry))
      .toDF("n_total", "n_new", "new_share_permille", "n_deleted",
        "delete_share_permille", "threshold_permille", "action",
        "n_store_edges", "n_entry_postings")
  }

  def indexDriftParity(s: SparkSession, dir: String): DataFrame = {
    val idx = SimilarityQueries.ivfIndex(s, dir)
    val settled = idx.cells.filter(pmod(col("id"), lit(5)) =!= 0)
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n_settled"))
    val stream = s.readStream
      .schema("vec_id bigint, embedding array<float>, label int")
      .parquet(streamDir(dir, "embeddings"))
      .filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(graft.functions.VectorOps.toDouble(col("embedding")).as("nv"))
    val cellsNew = stream.withColumn("cell",
        graft.plans.expressions.vec_argmin(col("nv"), idx.centers)("cluster_id")
          .cast("int"))
      .groupBy("cell").agg(count(lit(1)).as("n_new"))
    val sunk = runToMemory(s, "stream_idxdrift_sink", cellsNew, "complete")
    val per = settled.join(sunk, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_settled"), lit(0L)).as("n_settled"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    graft.operators.Similarity.driftReport(per,
      SimilarityQueries.DriftThresholdPermille)
  }

  /** The same streaming serve plan against a CALLER-SUPPLIED index —
    * how ScaleUp's `stream_semantic_probe_auto` row rehearses the
    * production auto-nCells law (r12 verdict task 6): the declared
    * query above pins the fixture index (nCells = 16, the oracle
    * replay); at scale the stream-static join runs against the
    * constant-occupancy index, so per-batch work stays
    * Σ_c m_new,c·m_corpus,c with occupancy-bounded cells. */
  private[graft] def semanticProbeParityWith(s: SparkSession, dir: String,
      idx: graft.operators.Similarity.IvfIndex): DataFrame = {
    val tau = DedupQueries.CosineThreshold
    val corpus = idx.cells.filter(pmod(col("id"), lit(5)) =!= 0)
      .select(col("cell"), col("id").as("corp_id"), col("v").as("cv"))
    val stream = s.readStream
      .schema("vec_id bigint, embedding array<float>, label int")
      .parquet(streamDir(dir, "embeddings"))
      .filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id").as("new_id"),
        graft.functions.VectorOps.toDouble(col("embedding")).as("nv"))
    val probes = stream.withColumn("cell",
      graft.plans.expressions.vec_argmin(col("nv"), idx.centers)("cluster_id")
        .cast("int"))
    val joined = probes.join(corpus, Seq("cell"))
      .withColumn("cos",
        graft.plans.expressions.vec_dot(col("nv"), col("cv")) /
          (sqrt(graft.plans.expressions.vec_dot(col("nv"), col("nv"))) *
           sqrt(graft.plans.expressions.vec_dot(col("cv"), col("cv")))))
    val sortKey = when(isnan(col("cos")), lit(Double.NegativeInfinity))
      .otherwise(-col("cos"))
    val agg = joined.groupBy("new_id")
      .agg(min(struct(sortKey.as("k"), col("corp_id").as("cid"),
        col("cos").as("c0"))).as("best"))
    val sunk = runToMemory(s, "stream_semprobe_sink", agg, "complete")
    idx.cells.filter(pmod(col("id"), lit(5)) === 0)
      .select(col("id").as("new_id"))
      .join(sunk, Seq("new_id"), "left")
      .select(col("new_id").as("vec_id"),
        when(col("best.c0") >= tau, lit("semantic_dup"))
          .otherwise(lit("kept")).as("verdict"),
        when(col("best.c0") >= tau, col("best.cid")).as("dup_of"),
        round(col("best.c0"), 6).as("best_cosine"))
      .orderBy("vec_id")
  }

  /** Streaming split manifest — the ingest face of
    * `pipeline_split_manifest`: documents arrive as a stream, each
    * row takes its train/val/test assignment from the same pure
    * multiplicative doc-id hash (stateless, zero-shuffle per row),
    * and the splits×langs report accumulates in complete mode. Rides
    * the batch oracle verbatim. */
  def splitParity(s: SparkSession, dir: String): DataFrame = {
    val docs = s.readStream
      .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
      .parquet(streamDir(dir, "documents"))
    val out = docs
      .select(PipelineQueries.splitOf(col("doc_id")).as("split"), col("lang"),
        size(graft.functions.TextOps.words(col("text"))).cast("long").as("n_toks"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    runToMemory(s, "stream_split_sink", out, "complete")
      .orderBy("split", "lang")
  }

  /** Streaming covariance — the DRIFT-MONITOR serving form of
    * `ann_covariance`: the same one-exchange cell aggregate
    * ([[graft.operators.Similarity.cellStats]]) as a stateful
    * streaming aggregation in complete mode. Decimal sums make the
    * accumulated state merge-order-proof, so after the fixture's
    * single micro-batch the emitted d² cells are CELL-FOR-CELL the
    * batch query's (and ride the same DuckDB oracle); in production
    * the same query tails the embedding ingest and every trigger
    * emits the current exact moments — no recompute-the-corpus job. */
  def covarianceParity(s: SparkSession, dir: String): DataFrame = {
    val embs = s.readStream
      .schema("vec_id bigint, embedding array<float>, label int")
      .parquet(streamDir(dir, "embeddings"))
      .select(graft.functions.VectorOps.toDouble(col("embedding")).as("v"))
    // the CovCellsAgg typed UDAF, not the batch explode plan: the
    // exploded stream measured 13 s/batch on the stateful path (vs
    // ~0.5 s batch); the object buffer keeps per-row work in JVM
    // loops and ships ONE d2-cell buffer per partition. The
    // repartition spreads the per-row d(d+1)/2 fixed-point work
    // across cores — the fixture arrives as ONE parquet split, which
    // serialized every conversion onto a single task (2.1 → ~0.4
    // s/batch); the exchange it adds is rows-sized and the merge
    // combines ≤ cores 17 KB buffers. Fixed-point adds are exact and
    // associative, so the emitted cells are partitioning-invariant.
    val agg = embs.repartition(graft.GraftSession.envCpus)
      .groupBy()
      .agg(graft.functions.CovCellsAgg.cov_cells(SimilarityQueries.Dim)(col("v"))
        .as("cells"))
    runToMemory(s, "stream_cov_sink", agg, "complete")
      .select(posexplode(col("cells")).as(Seq("_p", "c")))
      .select(col("c._1").as("i"), col("c._2").as("j"), col("c._3").as("n"),
        col("c._4").as("s_i"), col("c._5").as("s_j"), col("c._6").as("s_xy"))
      .orderBy("i", "j")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_ann_parity" -> (annServeParity _),
    "stream_graph_search_parity" -> (graphSearchParity _),
    "stream_graph_insert_parity" -> (graphInsertParity _),
    "stream_graph_delete_parity" -> (graphDeleteParity _),
    "stream_graph_maintain_parity" -> (graphMaintainParity _),
    "stream_semantic_probe_parity" -> (semanticProbeParity _),
    "stream_index_drift_parity" -> (indexDriftParity _),
    "stream_covariance_parity" -> (covarianceParity _),
    "stream_topic_parity" -> (topicParity _),
    "stream_attribution_parity" -> (attributionParity _),
    "stream_markov_parity" -> (markovParity _),
    "stream_wau_parity" -> (wauParity _),
    "stream_corr_parity" -> (corrParity _),
    "stream_static_join_parity" -> (staticJoinParity _),
    "stream_incremental_parity" -> (incrementalParity _),
    "stream_window_parity" -> (windowParity _),
    "stream_session_parity" -> (sessionParity _),
    "stream_join_pairs" -> (joinPairs _),
    "stream_dedup_distinct" -> (dedupDistinct _),
    "stream_anomaly_parity" -> (anomalyParity _),
    "stream_running_stats" -> (runningStats _),
    "stream_kmeans_parity" -> (kmeansParity _),
    "stream_mix_parity" -> (mixParity _),
    "stream_admission_parity" -> (admissionParity _),
    "stream_split_parity" -> (splitParity _))

  val oracles: Map[String, String] = Map(
    // the batch topic oracle's shared train+assign chain, read out
    // per document instead of as the k-bounded report
    // the batch IVF build+probe oracle verbatim: the streamed
    // queries (vec_id < Q, dense 0-based ids) ARE the batch's
    // ORDER BY vec_id LIMIT Q set
    "stream_ann_parity" ->
      SimilarityQueries.ivfOracleSql(s"LIMIT ${SimilarityQueries.Q}"),
    // the batch graph-search oracle verbatim: per-query independence
    // makes the foreachBatch twin row-identical to ann_graph_search
    // under ANY micro-batch split
    "stream_graph_search_parity" ->
      SimilarityQueries.oracles("ann_graph_search"),
    // the batch insert oracle verbatim: per-row independence +
    // append-only edges make the ingest twin row-identical to
    // ann_graph_insert under any micro-batch split
    "stream_graph_insert_parity" ->
      SimilarityQueries.oracles("ann_graph_insert"),
    // the batch tombstone-search oracle verbatim: the drained
    // tombstone set IS the DeletedMod cohort, and the emission-only
    // filter makes the final serve row-identical to the batch twin
    "stream_graph_delete_parity" ->
      SimilarityQueries.oracles("ann_graph_tombstone_search"),
    // the batch maintain-gate oracle verbatim: the streamed counters
    // sum to the corpus counts, so the resident gate's decision row
    // is identical to the batch gate's by construction
    "stream_graph_maintain_parity" ->
      SimilarityQueries.oracles("ann_graph_maintain"),
    // the batch ingest-dedup oracle verbatim: per-row re-derived cells
    // equal the index's stored assignment, so the stream twin is
    // row-identical to dedup_semantic_probe by construction
    "stream_semantic_probe_parity" ->
      DedupQueries.oracles("dedup_semantic_probe"),
    // the batch drift-audit oracle verbatim: the complete-mode
    // landing counts + static settled occupancy run through the SAME
    // driftReport arithmetic as the batch audit
    "stream_index_drift_parity" ->
      SimilarityQueries.oracles("ann_index_drift"),
    // the batch covariance oracle verbatim: accumulated decimal
    // streaming state must equal the batch cells exactly
    "stream_covariance_parity" -> SimilarityQueries.covarianceOracleSql,
    // the batch epoch-admission oracle verbatim: static rates + the
    // same multiplicative per-epoch hash, accumulated per micro-batch
    "stream_admission_parity" ->
      PipelineQueries.oracles("pipeline_epoch_admission"),
    // the batch split-manifest oracle verbatim (pure per-row hash)
    "stream_split_parity" ->
      PipelineQueries.oracles("pipeline_split_manifest"),
    "stream_topic_parity" -> (TextQueries.topicAsgCtes +
      """
        |SELECT vec_id AS doc_id, CAST(cid AS INTEGER) AS cluster_id
        |FROM asg ORDER BY 1""".stripMargin),
    // the batch anomaly oracle verbatim: streaming state + in-batch
    // sort must land on the identical BIGINT alert set
    "stream_anomaly_parity" -> EventsQueries.oracles("events_anomaly_zscore"),
    // the batch transition-matrix oracle verbatim: chained last-event
    // state must extract the identical consecutive-pair multiset
    "stream_markov_parity" -> EventsQueries.oracles("events_markov_transitions"),
    // the batch attribution oracle verbatim: one most-recent-touch
    // tuple per user must credit the identical bucket totals
    "stream_attribution_parity" -> EventsQueries.oracles("events_attribution"),
    // the batch corr oracle verbatim: merged micro-batch moments must
    // finalize to the identical 6-dp doubles
    "stream_corr_parity" -> StatsQueries.oracles("rel_corr_matrix"),
    // flat batch recompute of the stream-static enrichment: DuckDB //
    // floors, so no pmod dance is needed on this side
    "stream_static_join_parity" ->
      """WITH f AS (SELECT user_id,
        |  min(epoch_us(ts) // 604800000000) AS cohort_week
        |  FROM events GROUP BY 1)
        |SELECT f.cohort_week, e.event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(38,2))) * 100 AS BIGINT) AS sum_value_cents
        |FROM events e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // flat recompute — batch (rel_incremental_agg), delta-merge, and
    // the streamed state table must all equal it exactly
    // the batch contribution CTE verbatim (events_rolling_wau's wau
    // half) — streaming chained dedups must land on the same set
    "stream_wau_parity" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        |       FROM events),
        |obs AS (SELECT DISTINCT d AS day FROM ud),
        |contrib AS (SELECT DISTINCT u.user_id, u.d + g.o AS day
        |            FROM ud u, (SELECT unnest(generate_series(0, 6)) AS o) g)
        |SELECT c.day, COUNT(*) AS wau
        |FROM contrib c JOIN obs ON obs.day = c.day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_incremental_parity" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DECIMAL(24,2)) * 100 AS BIGINT) AS sum_price_cents,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_window_parity" ->
      s"""SELECT strftime(date_trunc('hour', ts), '$DuckFmt') AS window_start,
         |  event_type, COUNT(*) AS n,
         |  round(CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE), 6) AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // emission rule mirrored from flatMapGroupsWithState: non-trailing
    // sessions are closed in-stream by the next event; each user's
    // trailing session times out only if ceil_ms(end + gap) <
    // floor_ms(max event ts) (the final watermark, delay 0)
    "stream_session_parity" ->
      s"""WITH e AS (SELECT user_id, event_id, ts, value, epoch_us(ts) AS us FROM events),
         |w AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us FROM e),
         |n AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= $GapUs THEN 1 ELSE 0 END AS is_new FROM w),
         |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                                  ROWS UNBOUNDED PRECEDING) AS session_id FROM n),
         |g AS (SELECT user_id, session_id,
         |        strftime(min(ts), '$DuckFmt') AS session_start,
         |        strftime(max(ts), '$DuckFmt') AS session_end,
         |        max(us) AS end_us,
         |        COUNT(*) AS n_events,
         |        CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
         |      FROM s GROUP BY 1, 2),
         |r AS (SELECT g.*, row_number() OVER (PARTITION BY user_id ORDER BY session_id DESC) AS rn FROM g),
         |m AS (SELECT epoch_us(max(ts)) // 1000 AS wm_ms FROM events)
         |SELECT user_id, session_start, session_end, n_events, sum_value_cents
         |FROM r, m
         |WHERE rn > 1 OR (end_us + $GapUs + 999) // 1000 < wm_ms
         |ORDER BY user_id, session_start""".stripMargin,
    "stream_join_pairs" ->
      """SELECT s.user_id AS user_id, COUNT(*) AS n_pairs
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id
        | AND s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) > epoch_us(s.ts)
        | AND epoch_us(p.ts) - epoch_us(s.ts) <= 86400000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_dedup_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_running_stats" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_kmeans_parity" -> (KMeansQueries.baseCte +
      """SELECT cid AS cluster_id, dim,
        |  round(CAST(SUM(CAST(coord AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS coord
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // mix admission + repetition counters — the batch oracles of
    // text_mix_sample and text_repetition composed
    "stream_mix_parity" -> {
      import graft.operators.TextAnalysis.{SampleHashA, SampleHashP}
      val caseSql = "CASE " + TextQueries.MixRatesBps.toSeq.sortBy(_._1)
        .map { case (k, bps) => s"WHEN lang = '$k' THEN $bps" }
        .mkString(" ") + " ELSE 0 END"
      s"""WITH adm AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
         |  WHERE (((doc_id % $SampleHashP + $SampleHashP) % $SampleHashP)
         |         * $SampleHashA % $SampleHashP) % 10000 < $caseSql)
         |SELECT doc_id, lang, CAST(len(w) AS INTEGER) AS n_words,
         |  round(CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS dup_word_frac
         |FROM adm ORDER BY doc_id""".stripMargin
    })
}
