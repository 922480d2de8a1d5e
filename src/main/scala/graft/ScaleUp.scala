package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 10×-bench-scale validation harness: generates a SEEDED synthetic
  * fixture directory (~10× the sf0.1 row counts, same schemas for the
  * columns the timed queries touch) and times a subset of the declared
  * queries against it — the evidence table in BASELINE.md §"Scale-up
  * validation" comes from this run. Synthetic data is used ONLY here:
  * declared-query correctness always runs on the driver's fixtures.
  *
  * Usage: sbt "runMain graft.ScaleUp [outDir] [sfDirForDims]"
  */
object ScaleUp {
  val Day = 86400L

  def generate(spark: SparkSession, out: String, sfDir: String): Unit = {
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    // events: 1M rows, ns-as-long ts (the fixture's physical type)
    spark.range(0, 1000000L, 1, 32)
      .select(
        col("id").as("event_id"),
        ((lit(base) + (rand(1) * 30 * Day).cast("long")).cast("long") * 1000000000L +
          (rand(2) * 1000000L).cast("long") * 1000L).as("ts"),
        (rand(3) * 7500).cast("long").as("user_id"),
        element_at(array(lit("click"), lit("error"), lit("purchase"),
          lit("signup"), lit("view")), (rand(4) * 5).cast("int") + 1).as("event_type"),
        round(rand(5) * 560, 2).as("value"),
        concat(lit("{\"k\":"), (rand(6) * 100).cast("int").cast("string"), lit("}"))
          .as("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // customer: 150k rows over 25 nations / 5 segments
    spark.range(1, 150001L, 1, 32)
      .select(
        col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
        pmod(xxhash64(col("id")), lit(25)).cast("int").as("c_nationkey"),
        round(rand(7) * 9999.99 - 999.99, 2).as("c_acctbal"),
        element_at(array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
          lit("HOUSEHOLD"), lit("MACHINERY")), (rand(8) * 5).cast("int") + 1)
          .as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    // part: 200k rows over 25 brands
    spark.range(1, 200001L, 1, 32)
      .select(
        col("id").as("p_partkey"),
        concat(lit("part "), col("id").cast("string")).as("p_name"),
        concat(lit("Brand#"), (pmod(xxhash64(col("id"), lit(1)), lit(25)) + 11)
          .cast("string")).as("p_brand"),
        lit("STANDARD").as("p_type"),
        (pmod(xxhash64(col("id"), lit(2)), lit(50)) + 1).cast("int").as("p_size"),
        round(rand(9) * 1900 + 900, 2).as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    // lineitem: 6M rows, only the columns the timed queries touch
    val ship0 = java.time.Instant.parse("1995-01-01T00:00:00Z").getEpochSecond
    spark.range(0, 6000000L, 1, 32)
      .select(
        (col("id") / 4).cast("long").as("l_orderkey"),
        (pmod(xxhash64(col("id"), lit(9)), lit(200000)) + 1).as("l_partkey"),
        (pmod(xxhash64(col("id"), lit(16)), lit(10000)) + 1).as("l_suppkey"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (rand(10) * 3).cast("int") + 1).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")), (rand(11) * 2).cast("int") + 1)
          .as("l_linestatus"),
        ((rand(12) * 50).cast("int") + 1).cast("double").as("l_quantity"),
        round(rand(13) * 100000 + 900, 2).as("l_extendedprice"),
        (round(rand(14) * 10, 0) / 100).as("l_discount"),
        timestamp_seconds(lit(ship0) + (rand(15) * 1825 * Day).cast("long"))
          .as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // orders: 1.5M rows (matches l_orderkey = id/4), price skewed so
    // the bloom query's > 400k threshold keeps ~20% of orders
    spark.range(0, 1500000L, 1, 32)
      .select(
        col("id").as("o_orderkey"),
        (pmod(xxhash64(col("id"), lit(17)), lit(150000)) + 1).as("o_custkey"),
        round(rand(16) * 500000, 2).as("o_totalprice"),
        // r8: status/date/priority so the snapshot-diff / checksum /
        // merge family runs at 10× with the fixture's full orders shape
        element_at(array(lit("F"), lit("O"), lit("P")),
          (rand(17) * 3).cast("int") + 1).as("o_orderstatus"),
        timestamp_seconds(lit(ship0) + (rand(18) * 1825 * Day).cast("long"))
          .as("o_orderdate"),
        concat(lit("P"), (rand(19) * 5).cast("int").cast("string"))
          .as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    // supplier: 10k rows over 25 nations
    spark.range(1, 10001L, 1, 8)
      .select(
        col("id").as("s_suppkey"),
        concat(lit("Supplier#"), col("id").cast("string")).as("s_name"),
        pmod(xxhash64(col("id"), lit(3)), lit(25)).cast("int").as("s_nationkey"),
        // r8: acctbal (a few % negative, like the fixture) so the
        // Q2/Q16 family runs at 10× with the fixture's supplier shape
        round(rand(20) * 10999.99 - 999.99, 2).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // documents: 50k docs of 30-199 words from a fixed vocabulary
    val vocab = Seq("the", "of", "and", "to", "data", "spark", "query", "engine",
      "stream", "batch", "join", "window", "state", "shuffle", "scan", "filter",
      "agg", "sort", "hash", "broadcast", "der", "die", "und", "el", "la", "que",
      "le", "les", "des", "est", "model", "train", "token", "text", "corpus",
      "dedup", "sample", "vector", "index", "cluster")
    val vocabArr = array(vocab.map(lit): _*)
    spark.range(1, 50001L, 1, 32)
      .select(col("id").as("doc_id"),
        array_join(transform(
          sequence(lit(1), (pmod(xxhash64(col("id"), lit(4)), lit(170)) + 30).cast("int")),
          i => element_at(vocabArr,
            pmod(xxhash64(col("id"), i.cast("long")), lit(vocab.length)).cast("int") + 1)),
          " ").as("text"),
        element_at(array(lit("en"), lit("de"), lit("es"), lit("fr")),
          pmod(xxhash64(col("id"), lit(5)), lit(4)).cast("int") + 1).as("lang"),
        element_at(array(lit("web"), lit("books"), lit("code")),
          pmod(xxhash64(col("id"), lit(6)), lit(3)).cast("int") + 1).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // embeddings: 20k × 64 float vectors (10× the sf0.1 count), values
    // in [-1, 1] from the seeded hash — exercises the ANN family
    spark.range(0, 20000L, 1, 32)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => ((pmod(xxhash64(col("id"), i.cast("long"), lit(7)), lit(2001)) - 1000)
            / lit(1000.0)).cast("float")).as("embedding"),
        pmod(xxhash64(col("id"), lit(8)), lit(10)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // tiny dims: copy from the real fixture unchanged
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  val Timed: Seq[String] = Seq(
    "rel_range_join", "rel_grouping_sets", "rel_skew_salted_agg",
    "rel_q6_forecast", "rel_subquery_brand_avg", "rel_outer_join",
    "events_session", "events_window", "events_running_total",
    "text_vocab", "text_stratified_sample", "sql_word_shingles",
    "stream_window_parity", "stream_session_parity",
    "stream_join_pairs", "stream_dedup_distinct",
    // round 4: the re-planned TF-IDF (no vocab broadcast), the
    // zero-shuffle scan family, dedup/sketch surfaces, and the ANN
    // family over the 10× embeddings (IVF number = build + probe;
    // the exact n-gram join keeps its round-1 measurement)
    "text_tfidf_top_terms", "text_repetition", "text_mix_sample",
    "text_chunks", "text_sample_hashmod",
    "dedup_exact", "dedup_minhash", "dedup_decontam", "rel_kmv_distinct",
    "rel_quantiles", "ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_topk",
    // round 5: winnow pairs (the 40-word synthetic vocabulary makes
    // EVERY fingerprint corpus-hot, so the rare-fp cap drops all
    // posting lists — the row proves the join-work bound engages, and
    // the fp scan + frequency pass still process all 50 k docs) and
    // the exact-decimal 10-round Lloyd fit on 10× embeddings
    "dedup_winnow_pairs", "kmeans_fit_native",
    // round 5b: the two-level packing prefix sum over 50 k docs
    "text_pack",
    // round 6: the corpus-bigram-LM scorer (token-linear two-join
    // plan), the real-codec round-trip (zero-shuffle scan; 50 k
    // PNG encodes + decodes per run), the mergeable histogram
    // quantile sketch, and PQ over 20 k vectors (train+encode+rank)
    "text_bigram_lm_score", "text_lm_heldout_score", "mm_decode_roundtrip",
    "rel_quantiles_sketch", "ann_pq_topk", "ann_ivfpq_topk",
    // round 5c: heavy hitters (bounded-state MG + recount over 5M
    // tokens), bloom pruning against 10× orders, int8 ANN over 20k
    // vectors, the z-order tile agg, incremental state merge, and the
    // salted hot-key join (3 keys × 6M rows)
    "text_heavy_hitters", "rel_bloom_join", "ann_quant_topk",
    "rel_zorder_cells", "rel_incremental_agg", "rel_skew_salted_join",
    "rel_profile", "stream_incremental_parity",
    // round 5d: 10 unrolled integer-PageRank rounds over the 10×
    // trade network (edge distillation scans 6 M lineitems), and
    // cohort retention over 1 M events / 7.5 k users
    "graph_pagerank", "events_cohort_retention", "graph_triangles",
    "text_bigram_coverage",
    // round 6 late: forward as-of over 1 M events (same union+window
    // plan as the backward direction), SCD2 interval build (two
    // same-sort window stages, one exchange), and KMV set ops (the
    // merged-sketch ranks are parameter-bounded at any corpus size)
    "asof_next_purchase", "events_scd2_intervals", "rel_kmv_setops",
    // round 7/8 cohort: BM25 (single + query-table form), time-RANGE
    // frames and daily gap-fill over 1 M events, snapshot diff +
    // affine checksum over 1.5 M orders, the PQ probe-only path
    // (codes-only corpus read) and the brute∩LSH recall join
    "text_bm25_topk", "text_bm25_querytable", "events_range_frame",
    "events_gap_fill", "rel_snapshot_diff", "rel_table_checksum",
    "ann_pq_probe_only", "ann_recall_eval",
    // round 8 late: the co-located join (bucketed layout written once,
    // then a shuffle-free 6 M × 1.5 M join) and semantic dedup groups
    // (round 9: banded sign-LSH candidates + exact verify — the
    // fixture-pinned bits=8; see dedup_embedding_auto in TimedCustom
    // for the autoLshBits path that holds bucket occupancy constant)
    "rel_bucketed_join", "dedup_embedding_groups",
    // round 8 cohort 2: Q18 (6 M-row agg on the fact's own key — the
    // synthetic 4-line orders cap sum_qty below the HAVING bar, so the
    // timed cost is the real one: the full-fact aggregate), Q10's
    // quarter scan, the BIGINT anomaly window over 1 M events, the
    // funnel-free per-lang NTILE over 50 k docs, LSH radius search
    // (same candidates as lsh_topk, no per-query sort), perceptual
    // aHash groups (50 k real PNG encode+decode round-trips), and the
    // stateful streaming anomaly twin
    "rel_q18_big_orders", "rel_q10_returns", "events_anomaly_zscore",
    "text_quality_buckets", "ann_radius_search", "mm_ahash_groups",
    "stream_anomaly_parity",
    // round 8 cohort 6: the TPC-H completion rows whose predicates
    // are LIVE on the synthetic fixture — Q13's outer-join histogram,
    // Q21's single-window blame pass over 6 M lines, Q22's anti join,
    // Q7's pair-filtered 4-way join, Q2's 6 M-row (supp, part) unit-
    // cost agg + per-part min, Q11's scalar-HAVING, Q16's anti-join
    // distinct count. (Q8/Q9/Q17/Q19/Q20 filter on p_type/p_name/
    // p_brand values the synthetic part table doesn't carry — their
    // 10× rows would time an empty broadcast, not the operator.)
    // Plus the banded aHash pair join (50 k real codec hashes →
    // distinct-hash band join), frontier BFS on the 10× trade
    // network, and the exact-moment correlation scan.
    "rel_q13_cust_distribution", "rel_q21_waiting_blame",
    "rel_q22_sales_opportunity", "rel_q7_volume_shipping",
    "rel_q2_min_cost_supplier", "rel_q11_important_parts",
    "rel_q16_supplier_count", "mm_ahash_near_pairs", "graph_bfs_hops",
    "rel_corr_matrix",
    // round 8 cohort 4: prefix-filtered EXACT set-similarity join
    // (the lossless pruning path — prefix posting lists only),
    // deterministic label propagation (5 rounds over the trade
    // network), and the quality-aware canonical pick per dedup group
    "dedup_prefix_jaccard", "graph_label_prop", "dedup_canonical_pick",
    // round 8 cohort 5: Q14 broadcast-dim promo share, Q4 EXISTS
    // semi-join priority check, lead()-pass sequence match
    "rel_q14_promo", "rel_q4_priority", "events_sequence_match",
    // round 8 cohort 7: size-proportional systematic sampling (the
    // funnel-free two-level prefix sum over 50 k docs), the
    // pair-bounded Levenshtein confirm stage on winnow candidates,
    // the hash-bucketed epoch shuffle into shards, and the
    // length-bucketed batching report
    "text_pps_sample", "dedup_edit_verify", "text_shard_assign",
    "text_length_batching",
    // round 8 stragglers: Q12's returnflag-category lateness split is
    // live on the synthetic fixture (o_orderdate + l_shipdate), and
    // the streaming correlation parity exercises the mergeable-moment
    // state path over 1 M events
    "rel_q12_ship_lateness", "stream_corr_parity",
    // round 8 cohort 8: the equi-width cents histogram over 1.5 M
    // orders (bucket-count-sized exchange), the Zipf head report
    // over 5 M tokens (vocab-sized agg + bounded head window), and
    // the contribution-decomposition rolling WAU over 1 M events
    "rel_price_histogram", "text_zipf_coverage", "events_rolling_wau",
    // hybrid retrieval: both retrievers' full plans + the bounded
    // fusion join, and the streaming WAU's chained dedup states
    "ann_hybrid_rrf", "stream_wau_parity",
    // image clusters: the codec-heavy aHash frame (memoized), the
    // distinct-hash band join, then pair-graph-sized components
    "mm_ahash_clusters",
    // round 10 (r9 verdict task 7): cohort-15 cross-payload shared
    // frames — frame fingerprints per payload, then a fingerprint-
    // keyed dup-count exchange (shared-fps-only output)
    "mm_shared_frames", "mm_scene_changes",
    // round 8 cohort 10: the journey transition matrix and last-touch
    // attribution over 1 M events (one user_id window exchange each),
    // Dice collocations over 5 M tokens (bigram-count shuffle, then
    // minCount-pruned unigram joins), weighted Bellman-Ford on the
    // 10× trade network, and dot-product MIPS over 20 k vectors
    "events_markov_transitions", "events_attribution",
    "text_collocations", "graph_sssp_cost", "ann_mips_topk",
    // round 8 cohort 11: the funnel-free global NTILE over 1.5 M
    // orders (two-level rank + remainders-first buckets), the
    // chained-state streaming transition matrix, and visual k-NN over
    // 50 k codec-real mosaic embeddings (integer distances)
    "rel_decile_report", "stream_markov_parity", "mm_patch_knn",
    // round 8 cohort 12: bidirectional nearest as-of (one exchange,
    // two in-exchange sorts over 1 M events) and the langs²-bounded
    // language-ID confusion matrix over 50 k docs
    "asof_nearest_purchase", "text_lang_confusion",
    // round 8 cohort 13: window-4 skip-gram counts over 5 M tokens
    // (per-row pair HOFs, one pair-count exchange), the 3-step
    // deadline funnel over 1 M events (user-keyed chained mins), and
    // the chained-state streaming attribution twin
    "text_skipgram_counts", "events_funnel_depth",
    "stream_attribution_parity",
    // round 8 cohort 14: the shard manifest (hash shuffle + token
    // totals + order-independent checksum over 50 k docs)
    "pipeline_shard_manifest",
    // round 10 cohort 16: SemDeDup through the 20 k-vector IVF
    // quantizer (within-cell Σm² pairs + CC + keep rule), hashed
    // DSIR weights over 5 M tokens (bucket-bounded stats exchange +
    // one doc-keyed weight agg), and the ExactSubstr span report
    // (8-byte fp nominate → substring verify; the 40-word synthetic
    // vocabulary makes ~5-word grams recur, so the verify stage is
    // LIVE here, not empty)
    "dedup_semantic", "dedup_semantic_probe", "stream_semantic_probe_parity",
    "ann_knn_graph",
    "text_dsir_weights", "text_repeated_spans",
    // round 10 cohort 17: BPE training — one corpus token-count
    // exchange, then 10 vocab-bounded rounds with 1-row argmax
    // collects (the Lloyd hand-off) — and the encode twin (one
    // (lang, word) occurrence exchange + fused merge chain)
    "text_bpe_merges", "text_bpe_encode",
    // round 10 cohort 18: the per-source novelty curve — one
    // gram-keyed exchange over the map-side-distinct stream
    "text_novelty_curve",
    // round 11: the winnow-sampled span twin (selected positions only
    // reach the nominate exchange), the probe-form incremental dedup
    // (new-batch postings against the corpus index — no full pair
    // graph), and the r10-verdict-task-7 cohort 21-23 rows: the
    // token-budget manifest, the stateless streaming topic classifier
    // and the 1-row vector audit — all scan-shaped
    "text_repeated_spans_sampled", "dedup_incremental_probe",
    "pipeline_token_budget", "stream_topic_parity", "ann_vector_audit",
    // round 11 cohort 24: the moment pass (explode + map-side partial
    // agg), its streaming UDAF twin, online ANN serving, CCNet chunk
    // rewrite, temperature mixing — and margin mining. The EXACT
    // tiled cross kernel stays 10×-ONLY (timing an exact 100k × 100k
    // cross would rehearse a plan no one would run); the declared
    // IVF-candidate form (ann_margin_mining_ivf) also runs 10×-only
    // HERE — both-scales coverage is ann_margin_mining_ivf_auto in
    // TimedCustom, the production auto-nCells configuration (r12
    // ADVICE: this comment previously claimed the declared form rode
    // Timed100; it never did)
    "ann_covariance", "stream_covariance_parity", "stream_ann_parity",
    "dedup_chunk_rewrite", "pipeline_mix_weights", "ann_margin_mining",
    "ann_margin_mining_ivf",
    // r13: the margin recall eval; since r14 its exact side is the
    // SAMPLED linear ground truth (the full-corpus kernel is retired)
    // but the declared form still rides the pinned-nCells=16 IVF
    // mining side for its oracle replay, so it stays 10×-only here —
    // the production composition rehearses at both scales as
    // ann_margin_recall_auto in TimedCustom. The streaming drift twin
    // is nCells-bounded state
    "ann_margin_recall", "stream_index_drift_parity",
    // r13: the declared NN-descent graph is 10x-only like ann_knn_graph
    // (both seed graphs pin the oracle nCells=16, within-cell
    // quadratic at fixed cell count — measured 13.5x at 100x); the
    // production law rehearses as ann_knn_graph_refined_auto below.
    // r14: the 2-round form shares the pinned seed, so it is 10×-only
    // for the same reason; its production law is
    // ann_knn_graph_refined2_auto in TimedCustom
    "ann_knn_graph_refined", "ann_knn_graph_refined2",
    // r14 second wave: the declared graph-search family rides the
    // pinned refined edges (oracle nCells=16) so it is 10×-only here;
    // its production composition + the corpus-free serving split
    // rehearse at both scales as ann_graph_search_auto in
    // TimedCustom. The truncation eval is two Q-bounded heap kernels
    // over linear scans; the streaming twin re-runs the same bounded
    // search per micro-batch
    "ann_graph_search", "ann_graph_search_recall",
    "ann_graph_search_curve",
    // r15: the probe-only serving reboot and the entry-probe curve
    // ride the same pinned refined edges (oracle nCells=16), 10×-only
    // like the rest of the declared search family; the disk-resident
    // production lifecycle rehearses at both scales as
    // ann_graph_lifecycle_auto in TimedCustom
    "ann_graph_probe_only", "ann_graph_entry_curve",
    "ann_dim_truncate_recall", "stream_graph_search_parity",
    // r14: graph ingest — settled-side build + |new| bounded
    // searches, append-only edges out (pinned nCells=16 oracle);
    // the ingest stream twin re-runs the same bounded composition
    // per micro-batch
    "ann_graph_insert", "stream_graph_insert_parity",
    // r15: the compaction round (insert pipeline + one k-bounded
    // descent round over the reversed-insert union) and the n·k
    // pair-key structure audit — both ride the pinned-nCells
    // settled/full graphs, 10×-only like the rest of the family;
    // the per-round production law is ann_knn_graph_refined2_auto's
    "ann_graph_consolidate", "ann_graph_audit",
    // r15 third wave: the incremental-vs-rebuild serving gap —
    // bounded search over the merged graph + one exact side
    "ann_graph_consolidated_recall",
    // r16: the maintain gate (two counts + the published-store count
    // off the same chain), the gap-attribution pair (retrained entry /
    // second descent round — each one bounded serve + exact side over
    // the shared merged edges), and the degree-capped serve (one
    // window over the k-bounded undirected merge + the same serve) —
    // all ride the published consolidated artifact, 10×-only like the
    // rest of the pinned-nCells family
    "ann_graph_maintain", "ann_graph_retrained_recall",
    "ann_graph_consolidate2_recall", "ann_graph_capped_recall",
    // r16 second wave: the DELETE stage — tombstone-serve is the
    // classic bounded search + one emission predicate; the
    // delete-compaction is a k-bounded bridge self-join + one
    // descent round over the remaining corpus; the recall row is the
    // bounded serve + exact side
    "ann_graph_tombstone_search", "ann_graph_delete_compact",
    "ann_graph_deleted_recall",
    // r16: audio near-dup parity — fingerprint kernel is a zero-
    // shuffle pass over the frame-energy vectors; the banded join and
    // CC walk are distinct-fingerprint-bounded (the mm_ahash shapes)
    "mm_audio_near_pairs", "mm_audio_groups",
    // r12: the declared PCA hand-off — the covariance pass + a
    // d²-bounded driver power iteration
    "ann_pca_component", "ann_pca_project",
    // round 11 cohort 25: the exact hard-negative brute scan stays
    // 10×-only (like the exact margin kernel); since r12 the declared
    // IVF-probed form — the label filter riding the persisted index's
    // probe — rehearses at both scales in Timed100. The other three
    // are linear — source report shares the jaccardPairs memo, chunk
    // overlap is a stride-bounded explode, epoch admission is a pure
    // filter ×3
    "ann_hard_negatives", "ann_hard_negatives_ivf", "dedup_source_report",
    "text_chunks_overlap", "pipeline_epoch_admission",
    // round 11 cohort 26: exact kNN weak labeling stays 10×-only
    // (bruteforce shape); its IVF-probed form rehearses at both
    // scales since r12. The overlap audit joins only the
    // rate-bounded admitted stream; keywords add one (cid, token)
    // exchange on the memoized topic centers
    "ann_knn_classify", "ann_knn_classify_ivf", "pipeline_epoch_overlap",
    "text_topic_keywords",
    // round 11 cohort 27: the distinct-key full-outer audit (one key
    // exchange) and the stateless streaming admission twin (static
    // rates broadcast onto the stream, report complete-mode)
    "pipeline_integrity_audit", "stream_admission_parity",
    // round 11 cohort 28: the sample-representativeness audit — two
    // (source, bucket)-bounded aggregates + a cells-bounded join
    "pipeline_sample_drift",
    // round 11 cohort 29: the zero-shuffle split manifest and the
    // pair-memo-riding leakage audit; r12 adds the split-drift audit
    // (one scan into a splits×langs×buckets cell frame, then
    // cells-bounded share grids — closes the split-audit triangle)
    "pipeline_split_manifest", "dedup_split_leakage", "pipeline_split_drift",
    // round 11 cohort 30: the tau-tuning band report — same
    // inverted-index candidate machinery at the 0.5 floor
    "dedup_threshold_curve",
    // round 11 cohort 31: the one-scan stage-count dashboard (rides
    // the jaccard memo for its loser set)
    "pipeline_dedup_funnel",
    // round 11 cohort 32: the pre-salting key-load report — one
    // key exchange + TakeOrdered head over 750 k/7.5 M users
    "events_skew_report",
    // round 11 cohort 33: the FK audit at 6 M lines / 1.5 M orders —
    // distinct-reduced keys, one full-outer key exchange
    "rel_fk_audit",
    // round 11 cohort 34: the 17th streaming query — stateless
    // per-row split hash + splits x langs complete-mode report
    "stream_split_parity",
    // round 11 cohort 35: the radius-tuning histogram on the
    // memoized banded pair frame
    "mm_ahash_distance_hist")

  /** Rehearsal-only closures that are NOT declared queries: the
    * auto-parameter scale path of an operator whose declared form pins
    * fixture constants for oracle replay. `dedup_embedding_auto` runs
    * the banded embedding near-dup with [[graft.operators.Dedup
    * .autoLshBits]] (bits = ⌈log₂(n/8)⌉), the production banded
    * configuration — at 20 k vectors bits=12, at 200 k bits=15, so
    * mean bucket occupancy (and hence per-table candidate volume
    * Σm² ≈ 8n) stays LINEAR in the corpus. The fixture-pinned bits=8
    * does NOT melt at these sizes — the maxBucketSize=64 cap engages
    * first and drops over-full buckets WHOLE — but its recall
    * collapses toward zero as mean occupancy (~78 at 20 k, ~781 at
    * 200 k) passes the cap, so a pinned-bits run would mostly time
    * bucket generation over a near-empty candidate stage (r9 ADVICE).
    * autoLshBits is the configuration whose candidate stage stays
    * LIVE at every scale, which is what this row times. (The declared
    * `dedup_embedding_groups` in [[Timed100]] rehearses the OTHER
    * half since r10: [[graft.operators.Dedup.embeddingCosineAuto]]'s
    * size dispatch — exact tiled kernel at 20 k, banded above.) */
  /** One-shot auto-rehearsal wrapper: build the constant-occupancy
    * index, run the op, MATERIALIZE its output inside the timed
    * closure, then release the index's persisted corpus frame and the
    * output cache — without this, each timed call pinned a
    * corpus-sized cells frame (>100 MB at 100×) in executor storage
    * for the rest of the sweep, skewing every later row (r12 review).
    * The returned frame is a row-count stand-in: the heavy lineage is
    * already executed (and timed — the harness times the whole
    * closure + count), and counting the released lineage again would
    * re-run the entire pipeline inside the same timing. */
  private def autoIndexed(s: SparkSession, dir: String)(
      op: graft.operators.Similarity.IvfIndex => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val nCells = graft.operators.Similarity.autoNCells(e.count())
    val idx = graft.operators.Similarity.buildIndex(
      e, "vec_id", "embedding", nCells = nCells)
    val out = op(idx).persist()
    val n = out.count()
    idx.unpersist(); out.unpersist()
    s.range(n).toDF("row")
  }

  val TimedCustom: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "dedup_embedding_auto" -> ((s: SparkSession, dir: String) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Dedup.embeddingCosineLsh(e, "vec_id", "embedding",
        threshold = 0.35, nTables = 16,
        bits = graft.operators.Dedup.autoLshBits(e.count()), seed = 42L)
    }),
    // r12 (r11 verdict task 1): IVF-candidate margin mining in its
    // PRODUCTION configuration — nCells grows with the corpus so mean
    // cell occupancy (n/nCells ≈ 1250, the declared query's point at
    // 20 k) stays constant: within-cell work Σ m_x·m_y per cell is
    // then occupancy-bounded and TOTAL work ∝ nCells ∝ n — the linear
    // scale path (nCells=16 at 20 k, 160 at 200 k). The declared
    // `ann_margin_mining_ivf` pins nCells=16 for its oracle replay;
    // the timed build here is per-call (index build + mining, both
    // corpus-linear), so the ratio reflects the whole pipeline.
    "ann_margin_mining_ivf_auto" -> ((s: SparkSession, dir: String) =>
      autoIndexed(s, dir)(idx =>
        graft.operators.Similarity.marginKnnMiningIvf(idx,
          pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1,
          k = 4, nProbe = 4))),
    // r13 (r12 verdict task 1): the DECLARED margin surface's size
    // dispatch end to end — count probe, then the exact tiled kernel
    // at 20 k (10×) / the auto-nCells IVF composition at 200 k
    // (100×). The row above times the pure IVF production path at
    // both scales; this one times what a user calling
    // ann_margin_mining actually gets. Index handle kept via the
    // `index` hook for autoIndexed-style cache hygiene.
    "ann_margin_mining_dispatch" -> ((s: SparkSession, dir: String) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      var built: Option[graft.operators.Similarity.IvfIndex] = None
      val out = graft.operators.Similarity.marginKnnMiningAuto(
        e, "vec_id", "embedding",
        pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1,
        k = 4, nProbe = 4,
        index = Some { n =>
          val idx = graft.operators.Similarity.buildIndex(
            e, "vec_id", "embedding",
            nCells = graft.operators.Similarity.autoNCells(n))
          built = Some(idx)
          idx
        }).persist()
      val n = out.count()
      built.foreach(_.unpersist()); out.unpersist()
      s.range(n).toDF("row")
    }),
    // r12: both SemDeDup forms in their PRODUCTION configuration —
    // nCells ∝ corpus (constant ~1250 occupancy, the paper's k ∝ n
    // law), so Σm² within-cell work stays linear; the declared
    // queries pin nCells=16 for their oracle replays. Per-call index
    // build included at both scales.
    "dedup_semantic_probe_auto" -> ((s: SparkSession, dir: String) =>
      autoIndexed(s, dir)(idx =>
        graft.operators.Dedup.semanticProbeVerdicts(idx.cells,
          pmod(col("id"), lit(5)) === 0, threshold = 0.35))),
    "dedup_semantic_auto" -> ((s: SparkSession, dir: String) =>
      autoIndexed(s, dir)(idx =>
        graft.operators.Dedup.embeddingCosineWithin(
          idx.cells, "id", "v", "cell", threshold = 0.35))),
    // r13 (r12 verdict task 6): the STREAMING serve path of the
    // semantic probe under the same production law — the batch twin
    // has dedup_semantic_probe_auto above; this times the per-batch
    // stream-static join against the constant-occupancy index (160
    // cells at 100×), per-call index build included like its batch
    // row. The declared stream_semantic_probe_parity stays 10×-only
    // on the fixture-pinned nCells=16 for its oracle replay.
    "stream_semantic_probe_auto" -> ((s: SparkSession, dir: String) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = graft.operators.Similarity.buildIndex(e, "vec_id", "embedding",
        nCells = graft.operators.Similarity.autoNCells(e.count()))
      val out = graft.queries.StreamQueries
        .semanticProbeParityWith(s, dir, idx).persist()
      val n = out.count()
      idx.unpersist(); out.unpersist()
      s.range(n).toDF("row")
    }),
    // r12: the corpus kNN graph under the same constant-occupancy law
    // — Σm² work per cell stays occupancy-bounded, edges out stay
    // ≤ n·k. Renamed _percall in r13 when the auto law became the
    // DECLARED ann_knn_graph_auto query (r12 verdict task 5, timed in
    // Timed100 through its amortized disk-index path): this row keeps
    // timing the per-call build+graph composition (recorded as
    // ann_knn_graph_auto in the r12 BASELINE tables).
    "ann_knn_graph_auto_percall" -> ((s: SparkSession, dir: String) =>
      autoIndexed(s, dir)(idx =>
        graft.operators.Similarity.knnGraphWithin(idx.cells, k = 3))),
    // r13: the NN-descent round under the production law — BOTH seed
    // graphs (IVF cells + Lehmer buckets) at constant occupancy, so
    // each is Sigma m^2-bounded and the round's candidate volume is
    // n*(k^2+k); the declared form pins nCells=16 for its oracle and
    // stays 10x-only in Timed
    // r14 (r13 verdict task 1): the recall eval in its PRODUCTION
    // configuration — SAMPLED exact ground truth (two broadcast
    // linear scans + driver margin arithmetic, the declared query's
    // own exact side since r14) vs auto-nCells IVF mining, overlap
    // on the sample. The declared ann_margin_recall pins the IVF
    // side's nCells=16 for its oracle replay and stays 10×-only in
    // Timed; this row prices the whole linear composition.
    "ann_margin_recall_auto" -> ((s: SparkSession, dir: String) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val idx = graft.operators.Similarity.buildIndex(e, "vec_id", "embedding",
        nCells = graft.operators.Similarity.autoNCells(e.count()))
      val exact = graft.operators.Similarity.marginMiningSampledExact(
        e, "vec_id", "embedding",
        pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1,
        k = 4, sampleQ = 32).select(col("x_id"), col("y_id"))
      val ivf = graft.operators.Similarity.marginKnnMiningIvf(idx,
        pmod(col("id"), lit(2)) === 0, pmod(col("id"), lit(2)) === 1,
        k = 4, nProbe = 4).select(col("x_id"), col("y_id"))
      val out = ivf.join(broadcast(exact), Seq("x_id", "y_id")).persist()
      val n = out.count()
      idx.unpersist(); out.unpersist()
      s.range(n).toDF("row")
    }),
    "ann_knn_graph_refined_auto" -> ((s: SparkSession, dir: String) =>
      refinedAutoRounds(s, dir, rounds = 1)),
    // r14 (r13 verdict task 7): the multi-round driver loop under the
    // production law — each extra round is the same k-bounded edge
    // self-join (n·(k²+k) candidates), so the per-round marginal cost
    // should track the 1-round row; the declared 2-round form pins
    // nCells=16 for its oracle and stays 10×-only in Timed
    "ann_knn_graph_refined2_auto" -> ((s: SparkSession, dir: String) =>
      refinedAutoRounds(s, dir, rounds = 2)),
    // r14: graph-navigated search under the production law — the
    // auto-nCells refined graph (the refined_auto pipeline above)
    // plus the serving composition the declared ann_graph_search
    // pins at nCells=16: nProbe=1 entry probe + 3 undirected beam
    // rounds. The row's ratio is graph-build-dominated (corpus-
    // linear); the probe+search-only wall is printed separately — a
    // search reads corpus and edges once, then each round scores and
    // looks up only ≤ Q·beam·deg newly visited ids.
    "ann_graph_search_auto" -> ((s: SparkSession, dir: String) => {
      val (e, idx, seed) = autoSeedUnion(s, dir)
      val edges = graft.operators.Similarity.nnDescentRound(
        seed, e, "vec_id", "embedding", 3).persist()
      edges.count()
      val qv = e.orderBy("vec_id").limit(10)
        .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val t0 = System.nanoTime()
      val entries = graft.operators.Similarity.probe(idx, qv, 4, nProbe = 1)
        .select(col("query_id"), col("neighbor_id").as("node"))
      val res = graft.operators.Similarity.graphSearch(
        edges, e, "vec_id", "embedding", qv, entries, 5, 4, 3)
      val n = res.count()
      println(f"[scaleup] ann_graph_search_auto: probe+search only " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s (graph build excluded)")
      edges.unpersist(); idx.unpersist()
      s.range(n).toDF("row")
    }),
    // r15 (r14 verdict task 7): the graph lifecycle END TO END under
    // the production law, against the DISK layout — build (auto-nCells
    // settled index + both seed graphs) → refine (2 descent rounds) →
    // PERSIST to a content-addressed dir → INSERT a 10% held-out
    // batch through the chunked bulk path (bounded-Q driver chunks,
    // the declared ann_graph_insert's code) → SERVE a 10-query batch,
    // both against the disk-RESIDENT edges. The row's single number is
    // build-dominated by construction; the printed split is the law
    // being priced: ingest ≈ ms/vector flat in corpus size, serve
    // near-flat between 10× and 100×.
    "ann_graph_lifecycle_auto" -> ((s: SparkSession, dir: String) => {
      val Sim = graft.operators.Similarity
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val settled = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      val newBatch = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      val t0 = System.nanoTime()
      val nCells = Sim.autoNCells(settled.count())
      val idx = Sim.buildIndex(settled, "vec_id", "embedding", nCells = nCells)
      val (ra, rb) = Sim.sampleRankCoeffs(
        graft.queries.SimilarityQueries.GraphSeedSalt)
      val p = Sim.SampleRankP
      val bucketed = idx.cells.select(
        (pmod(pmod(col("id"), lit(p)) * lit(ra) + lit(rb), lit(p)) % lit(nCells))
          .cast("int").as("cell"),
        col("id"), col("v"))
      val seed = Sim.knnGraphWithin(idx.cells, 3)
        .union(Sim.knnGraphWithin(bucketed, 3))
      val refined = Sim.nnDescent(seed, settled, "vec_id", "embedding", 3, 2)
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft-lifecycle")
      // the rehearsal's temp graph dirs are per-invocation scratch —
      // released in the finally below even when a stage throws (r16
      // ADVICE: an exception mid-lifecycle must not leak them)
      try {
      val gDir = tmpRoot.resolve("g").toString
      Sim.writeGraph(refined, gDir)
      refined.unpersist()
      val edges = Sim.readGraph(s, gDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val nNew = newBatch.count()
      val inserted = Sim.graphSearchBulk(edges, settled, "vec_id", "embedding",
        newBatch, "vec_id", "embedding",
        chunk => Sim.probe(idx, chunk, 4, nProbe = 1)
          .select(col("query_id"), col("neighbor_id").as("node")),
        3, 4, 3)
      val nIns = inserted.count()
      val tIns = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val qv = settled.orderBy("vec_id").limit(10)
        .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val entries = Sim.probe(idx, qv, 4, nProbe = 1)
        .select(col("query_id"), col("neighbor_id").as("node"))
      val nServe = Sim.graphSearch(edges, settled, "vec_id", "embedding",
        qv, entries, 5, 4, 3).count()
      val tServe = (System.nanoTime() - t2) / 1e9
      // the compaction stage (r15): fold the ingested batch back into
      // a first-class graph — settled ∪ inserted ∪ REVERSED inserted,
      // one descent round over the full corpus (the declared
      // ann_graph_consolidate composition at the production law)
      val t3 = System.nanoTime()
      val unioned = edges.select(col("vec_id"), col("neighbor_id"))
        .union(inserted.select(col("query_id").as("vec_id"), col("neighbor_id")))
        .union(inserted.select(col("neighbor_id").as("vec_id"),
          col("query_id").as("neighbor_id")))
      val merged = Sim.nnDescentRound(unioned, e, "vec_id", "embedding", 3)
        .persist()
      val nMerged = merged.count()
      val tCons = (System.nanoTime() - t3) / 1e9
      // r16: the rest of the MEASURED maintenance policy — the gap
      // attribution showed the incremental-serve recall gap is pure
      // entry staleness (retrained entry 900/880/920 permille vs the
      // settled entry's 740/740/700; a second descent round and the
      // degree cap are both free), so the gate's action is
      // compact-and-RETRAIN: publish the merge to the store layout,
      // retrain the quantizer on the full corpus (sample-bounded
      // train + one assignment scan), and serve from the PUBLISHED
      // edges with the retrained entry.
      val t4 = System.nanoTime()
      val gcDir = tmpRoot.resolve("gc").toString
      Sim.writeGraph(merged, gcDir)
      merged.unpersist()
      val published = Sim.readGraph(s, gcDir)
      val tPub = (System.nanoTime() - t4) / 1e9
      val t5 = System.nanoTime()
      val idx2 = Sim.buildIndex(e, "vec_id", "embedding",
        nCells = Sim.autoNCells(e.count()))
      val tRetrain = (System.nanoTime() - t5) / 1e9
      val t6 = System.nanoTime()
      val entries2 = Sim.probe(idx2, qv, 4, nProbe = 1)
        .select(col("query_id"), col("neighbor_id").as("node"))
      val nServe2 = Sim.graphSearch(published, e, "vec_id", "embedding",
        qv, entries2, 5, 4, 3).count()
      val tServe2 = (System.nanoTime() - t6) / 1e9
      // r17 (r16 verdict task 6): the DELETE stages at the production
      // law — tombstone-serve between compactions (emission-only
      // filter on the published store, navigation untouched), the
      // bridge-splice delete-compaction over the survivors (k-bounded
      // in x out splice + one corpus-linear descent round) published
      // to the layout, and the post-delete serve (stale retrained
      // entry with compacted postings) from the repaired store
      val t7 = System.nanoTime()
      val nTomb = Sim.graphSearch(published, e, "vec_id", "embedding",
        qv, entries2, 5, 4, 3,
        emitFilter = pmod(col("node"), lit(7)) =!= 0).count()
      val tTomb = (System.nanoTime() - t7) / 1e9
      val t8 = System.nanoTime()
      val survivors = e.filter(pmod(col("vec_id"), lit(7)) =!= 0)
      val compacted = Sim.nnDescentRound(
        graft.queries.SimilarityQueries.tombstoneBridge(
          published.select(col("vec_id"), col("neighbor_id")), 7),
        survivors, "vec_id", "embedding", 3).persist()
      val nCompact = compacted.count()
      val tDelCompact = (System.nanoTime() - t8) / 1e9
      val t9 = System.nanoTime()
      val gdDir = tmpRoot.resolve("gd").toString
      Sim.writeGraph(compacted, gdDir)
      compacted.unpersist()
      val publishedD = Sim.readGraph(s, gdDir)
      val tPubD = (System.nanoTime() - t9) / 1e9
      val t10 = System.nanoTime()
      val qvS = survivors.orderBy("vec_id").limit(10)
        .select(col("vec_id"), graft.functions.VectorOps.toDouble(col("embedding")))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val idxD = idx2.copy(cells = idx2.cells
        .filter(pmod(col("id"), lit(7)) =!= 0))
      val entriesD = Sim.probe(idxD, qvS, 4, nProbe = 1)
        .select(col("query_id"), col("neighbor_id").as("node"))
      val nServeD = Sim.graphSearch(publishedD, survivors, "vec_id",
        "embedding", qvS, entriesD, 5, 4, 3).count()
      val tServeD = (System.nanoTime() - t10) / 1e9
      println(f"[scaleup] ann_graph_lifecycle_auto: build+refine2+persist " +
        f"$tBuild%.2f s, ingest ($nNew vectors -> $nIns edges) $tIns%.2f s " +
        f"(${tIns * 1000.0 / math.max(nNew, 1L)}%.2f ms/vector), " +
        f"serve (Q=10, $nServe rows) $tServe%.2f s, " +
        f"consolidate ($nMerged edges) $tCons%.2f s, " +
        f"publish $tPub%.2f s, retrain $tRetrain%.2f s, " +
        f"serve-published-retrained (Q=10, $nServe2 rows) $tServe2%.2f s, " +
        f"tombstone-serve (Q=10, $nTomb rows) $tTomb%.2f s, " +
        f"delete-compact ($nCompact edges) $tDelCompact%.2f s, " +
        f"publish-deleted $tPubD%.2f s, " +
        f"serve-deleted (Q=10, $nServeD rows) $tServeD%.2f s")
      idx.unpersist(); idx2.unpersist()
      s.range(nIns).toDF("row")
      } finally deleteTree(tmpRoot.toFile)
    }))

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) {
      // listFiles() returns null on an I/O race (dir vanished between
      // the isDirectory check and the list) — treat as already gone
      val children = f.listFiles()
      if (children != null) children.foreach(deleteTree)
    }
    f.delete()
    ()
  }

  /** Shared production-law seed construction (ONE copy — r14 review:
    * the pmod bucket formula and the autoNCells law must not fork
    * between the descent and graph-search rehearsals): auto-nCells
    * index + both seed graphs at the law's bucket count. Caller owns
    * `idx.unpersist`. */
  private def autoSeedUnion(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame,
         graft.operators.Similarity.IvfIndex,
         org.apache.spark.sql.DataFrame) = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
    val nCells = graft.operators.Similarity.autoNCells(e.count())
    val idx = graft.operators.Similarity.buildIndex(
      e, "vec_id", "embedding", nCells = nCells)
    val (ra, rb) = graft.operators.Similarity.sampleRankCoeffs(
      graft.queries.SimilarityQueries.GraphSeedSalt)
    val p = graft.operators.Similarity.SampleRankP
    val bucketed = idx.cells.select(
      (pmod(pmod(col("id"), lit(p)) * lit(ra) + lit(rb), lit(p)) % lit(nCells))
        .cast("int").as("cell"),
      col("id"), col("v"))
    val seed = graft.operators.Similarity.knnGraphWithin(idx.cells, 3)
      .union(graft.operators.Similarity.knnGraphWithin(bucketed, 3))
    (e, idx, seed)
  }

  /** Shared production-law NN-descent rehearsal body: the auto seed
    * union + `rounds` descent rounds via the driver loop. */
  private def refinedAutoRounds(s: SparkSession, dir: String,
                                rounds: Int): org.apache.spark.sql.DataFrame = {
    val (e, idx, seed) = autoSeedUnion(s, dir)
    val out = graft.operators.Similarity.nnDescent(
      seed, e, "vec_id", "embedding", 3, rounds)
    val n = out.count()
    idx.unpersist(); out.unpersist()
    s.range(n).toDF("row")
  }

  /** 100×-bench-scale fixture (round-6 rehearsal): ONLY the tables the
    * five heaviest shuffle producers touch — documents 500 k, lineitem
    * 60 M, events 10 M over 75 k users. The 10× generator's 40-word
    * vocabulary is deliberately NOT reused for documents: at 500 k docs
    * every 3-gram's posting list would be ~900 deep (the vocabulary is
    * closed, so collision density GROWS with corpus size — a property
    * real prose does not have), and the exact n-gram join's work is
    * Σf² — a semantic artifact of the toy vocabulary, not a plan
    * property. Here each word is drawn zipf-ishly (u³-skewed) from a
    * 5 000-word open-ended id space: distinct shingles grow with the
    * corpus, the hot head exercises the `maxShingleFreq` cap exactly
    * like prose boilerplate, and every 20th document is a byte-exact
    * copy of its predecessor so the pair join has real positives to
    * find. Seeded xxhash64 throughout — regeneration is bit-stable. */
  def generate100(spark: SparkSession, out: String, m: Int): Unit = {
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    // users scale WITH the corpus (more users, not longer histories):
    // per-user event counts — the session/as-of window sizes — are a
    // property of the product, not of how much data was collected
    spark.range(0, 1000000L * m, 1, 64)
      .select(
        col("id").as("event_id"),
        ((lit(base) + (rand(1) * 30 * Day).cast("long")).cast("long") * 1000000000L +
          (rand(2) * 1000000L).cast("long") * 1000L).as("ts"),
        (rand(3) * 7500 * m).cast("long").as("user_id"),
        element_at(array(lit("click"), lit("error"), lit("purchase"),
          lit("signup"), lit("view")), (rand(4) * 5).cast("int") + 1).as("event_type"),
        round(rand(5) * 560, 2).as("value"),
        concat(lit("{\"k\":"), (rand(6) * 100).cast("int").cast("string"), lit("}"))
          .as("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val ship0 = java.time.Instant.parse("1995-01-01T00:00:00Z").getEpochSecond
    spark.range(0, 6000000L * m, 1, 64)
      .select(
        // r8: join key so the co-located bucketed join rehearses at 100×
        (col("id") / 4).cast("long").as("l_orderkey"),
        // r8 cohort 6: supplier key so Q21's per-(order, supplier)
        // window pass rehearses at 100×
        (pmod(xxhash64(col("id"), lit(16)), lit(10000L * m)) + 1).as("l_suppkey"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (rand(10) * 3).cast("int") + 1).as("l_returnflag"),
        ((rand(12) * 50).cast("int") + 1).cast("double").as("l_quantity"),
        timestamp_seconds(lit(ship0) + (rand(15) * 1825 * Day).cast("long"))
          .as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // orders (r8): the bucketed-join partner — 1.5 M × m rows keyed to
    // match l_orderkey = id/4
    spark.range(0, 1500000L * m, 1, 64)
      .select(
        col("id").as("o_orderkey"),
        element_at(array(lit("F"), lit("O"), lit("P")),
          (rand(17) * 3).cast("int") + 1).as("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    // supplier (r8 cohort 6): Q21's name-lookup dim, scaled with the
    // lineitem supplier-key domain
    spark.range(1, 10000L * m + 1, 1, 8)
      .select(col("id").as("s_suppkey"),
        concat(lit("Supplier#"), col("id").cast("string")).as("s_name"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")
    // documents: every 20th doc clones its predecessor (the join's
    // ground-truth positives); word = "w<idx>" with idx = ⌊5000·u³⌋,
    // u seeded per (docEff, position) — zipf-ish head, open tail
    val docEff = when(pmod(col("id"), lit(20)) === 0 && col("id") > 1,
      col("id") - 1).otherwise(col("id"))
    spark.range(1, 50000L * m + 1, 1, 64)
      .select(col("id").as("doc_id"), docEff.as("_eff"))
      .select(col("doc_id"),
        array_join(transform(
          sequence(lit(1), (pmod(xxhash64(col("_eff"), lit(4)), lit(170)) + 30).cast("int")),
          i => concat(lit("w"), floor(lit(5000.0) *
            pow(pmod(xxhash64(col("_eff"), i.cast("long")), lit(1000000)).cast("double")
              / 1000000.0, 3.0)).cast("long").cast("string"))),
          " ").as("text"),
        element_at(array(lit("en"), lit("de"), lit("es"), lit("fr")),
          pmod(xxhash64(col("_eff"), lit(5)), lit(4)).cast("int") + 1).as("lang"),
        element_at(array(lit("web"), lit("books"), lit("code")),
          pmod(xxhash64(col("_eff"), lit(6)), lit(3)).cast("int") + 1).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    // embeddings (r9): 20 k × m vectors; every 20th is its
    // predecessor plus ±0.02 jitter (cosine ≈ 0.9998 — a true planted
    // near-dup the banded path must find), the rest seeded-uniform in
    // [-1, 1] — the rehearsal substrate for dedup_embedding_auto
    val vecEff = when(pmod(col("id"), lit(20)) === 0 && col("id") > 1,
      col("id") - 1).otherwise(col("id"))
    spark.range(1, 20000L * m + 1, 1, 64)
      .select(col("id").as("vec_id"), vecEff.as("_eff"))
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(64)),
          i => (((pmod(xxhash64(col("_eff"), i.cast("long"), lit(7)), lit(2001)) - 1000)
            / lit(1000.0)) +
            when(col("vec_id") =!= col("_eff"),
              (pmod(xxhash64(col("vec_id"), i.cast("long"), lit(9)), lit(41)) - 20)
                / lit(1000.0)).otherwise(lit(0.0))).cast("float")).as("embedding"),
        // r12: label (the 10× generator's formula) so the labeled IVF
        // probes — hard negatives, kNN weak labeling — rehearse at 100×
        pmod(xxhash64(col("vec_id"), lit(8)), lit(10)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** Generate (if absent) the two open-vocab fixtures and time each
    * [[Timed100]] query at both scales back-to-back; the printed
    * RATIO column is what BASELINE.md's 100× table records. */
  def run100(spark: SparkSession, out: String): Unit = {
    val out10 = out + "-base10"
    for ((dir, m) <- Seq((out10, 1), (out, 10))) {
      // guard on the NEWEST schema addition (embeddings.label, r12) so
      // a dir generated by an older harness version is refreshed
      val stale100 = !new java.io.File(s"$dir/orders.parquet").exists ||
        !new java.io.File(s"$dir/embeddings.parquet").exists ||
        (try !spark.read.parquet(s"$dir/lineitem.parquet")
          .schema.fieldNames.contains("l_suppkey") ||
          !spark.read.parquet(s"$dir/embeddings.parquet")
            .schema.fieldNames.contains("label")
        catch { case _: Throwable => true })
      if (stale100) {
        println(s"[scaleup] generating open-vocab ${m}0x fixture under $dir")
        generate100(spark, dir, m)
      }
    }
    try {
      spark.read.parquet(s"$out10/documents.parquet").groupBy("lang").count().count()
      spark.range(1000).selectExpr("sum(id)").count()
    } catch { case _: Throwable => () }
    warnIfFiltered()
    println(f"${"query"}%-26s ${"sec10x"}%8s ${"sec100x"}%9s ${"ratio"}%7s ${"rows100x"}%10s")
    def timeBoth(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      def t(dir: String): (Double, Long) = {
        val t0 = System.nanoTime()
        val rows = try fn(spark, dir).count()
          catch { case e: Throwable => println(s"$name FAILED: $e"); -1L }
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (s10, _) = t(out10)
      val (s100, rows) = t(out)
      println(f"$name%-26s $s10%8.2f $s100%9.2f ${s100 / s10}%7.2f $rows%10d")
    }
    Timed100.filter(scaleSelected).foreach { name =>
      SparkEntry.queries.get(name).foreach(fn => timeBoth(name, fn))
    }
    TimedCustom.filter(t => scaleSelected(t._1))
      .foreach { case (name, fn) => timeBoth(name, fn) }
  }

  /** The five heaviest shuffle producers of the declared surface
    * (BENCH_r05 plan audit), timed at BOTH 10× and 100× in one
    * session so the ratio is load-comparable. Linear-plan budget:
    * 100×/10× wall ≤ ~12 (10× data on ~fixed cores, plus sub-linear
    * stage overhead); a ratio well past that marks a super-linear
    * plan. */
  val Timed100: Seq[String] = Seq(
    "dedup_ngram_jaccard", "rel_skew_salted_join", "events_session",
    "asof_last_purchase", "text_vocab",
    // round 8: the new events window family over the 10 M-event 100×
    // fixture — RANGE frames, daily gap-fill and SCD2 all reuse one
    // user_id partitioning, so their ratios should track events_session
    "events_range_frame", "events_gap_fill", "events_scd2_intervals",
    // round 8 cohort 6: Q21's per-(order, supplier) max-shipdate agg
    // + single window pass at 60 M lines / 15 M orders
    "rel_q21_waiting_blame",
    // round 8 late: the co-located join at 60 M × 15 M — the bucketed
    // write is the one-time layout cost, the join itself exchanges
    // nothing on the keys at any scale
    "rel_bucketed_join",
    // round 8 cohort 7: the three docs-linear layout/sampling ops at
    // 500 k open-vocab docs — their two-level substrates must stay
    // funnel-free when the corpus, not the strata, is what grows
    "text_pps_sample", "text_shard_assign", "text_length_batching",
    // round 8 cohorts 10/13/14 at 100x: the token-linear pair tables
    // (window-4 skip-grams ~4x the bigram shuffle; Dice collocations)
    // over 500 k open-vocab docs, the one-exchange journey ops and
    // the deadline funnel over 10 M events / 750 k users, and the
    // manifest's shard-bounded checksum shuffle
    "text_skipgram_counts", "text_collocations",
    "events_markov_transitions", "events_attribution",
    "events_funnel_depth", "pipeline_shard_manifest",
    // round 10 (r9 verdict task 7): the 100× gaps — the langs²-bounded
    // confusion matrix over 5 M docs, the bidirectional nearest as-of
    // over 10 M events — and the declared embedding dedup, whose
    // embeddingCosineAuto dispatch this run rehearses END TO END:
    // exact tiled kernel at 20 k vectors (10×), banded autoLshBits
    // cascade + sparse-dispatched components at 200 k (100×)
    "text_lang_confusion", "asof_nearest_purchase",
    "dedup_embedding_groups",
    // round 10 cohort 16 at 100×: the two docs-linear text ops over
    // 500 k open-vocab docs — DSIR's exchanges stay bucket/doc-
    // bounded; repeated-spans DENSITY-DISPATCHES since r12 (r11
    // verdict task 2): the 10× corpus (115‰ winnow-repeat density)
    // runs the exact cascade, the dense 100× corpus (242‰) crosses
    // the 180‰ threshold and runs the winnow-sampled cascade — the
    // ratio must land inside the ≤12 budget where the exact default
    // measured 15×
    "text_dsir_weights", "text_repeated_spans", "text_bpe_merges",
    "text_bpe_encode", "text_novelty_curve",
    // round 10 cohorts 19/20: topic k-means over hashed doc vectors
    // (one (doc, bucket) exchange + k·d-bounded Lloyd rounds), the
    // incremental ingest verdicts (one digest-keyed window exchange;
    // the near pass shares the jaccardPairs memo the
    // dedup_ngram_jaccard row above has already built at each scale),
    // and the sources²-bounded overlap matrix on the novelty exchange
    "text_topic_clusters", "dedup_incremental", "text_source_overlap",
    "text_lm_heldout_score",
    // round 11: the sampled span twin at 100× — the dense-regime
    // relief (the exact row above carries the full 8 B/position
    // exchange; this one ~2/(w+1) of it), the probe-form incremental
    // verdicts, and the cohort 21-23 scan-shaped rows
    "text_repeated_spans_sampled", "dedup_incremental_probe",
    "pipeline_token_budget", "stream_topic_parity", "ann_vector_audit",
    // round 11 cohort 24 (the EXACT margin kernel is 10×-only — see
    // Timed; the declared IVF-candidate form pins the oracle's
    // nCells=16, whose Σm_xm_y within-cell work is quadratic at FIXED
    // cell count — its production configuration scales nCells with
    // the corpus, rehearsed by ann_margin_mining_ivf_auto in
    // TimedCustom at both scales)
    "ann_covariance", "stream_covariance_parity", "stream_ann_parity",
    "dedup_chunk_rewrite", "pipeline_mix_weights", "ann_pca_component",
    "ann_pca_project",
    // r13: top-2 deflation rides the covCells memo — after the
    // family's first touch its marginal cost is driver arithmetic
    "ann_pca_top2",
    // round 11 cohort 25 (hard negatives is 10×-only — see Timed):
    // the pair-graph-memoized source report, the stride-bounded
    // overlap chunker over 500 k open-vocab docs, and the
    // filter-shaped 3-epoch admission report
    "dedup_source_report", "text_chunks_overlap",
    "pipeline_epoch_admission",
    // r12 (r11 verdict task 5): the labeled IVF probes at both scales
    // — the query batch is Q-bounded, so probe work is
    // Q·(nProbe/nCells)·corpus: LINEAR at fixed nCells, unlike the
    // 10×-only exact brute scans these replace at scale (the timed
    // number includes the shared index build at each scale's first
    // touch; the ann family's other rows amortize it)
    "ann_hard_negatives_ivf", "ann_knn_classify_ivf",
    // round 11 cohort 26 (exact kNN classify is 10×-only — see Timed)
    "pipeline_epoch_overlap", "text_topic_keywords",
    // round 11 cohort 27-29
    "pipeline_integrity_audit", "stream_admission_parity",
    "pipeline_sample_drift", "pipeline_split_manifest",
    "pipeline_split_drift",
    "dedup_split_leakage", "dedup_threshold_curve",
    "pipeline_dedup_funnel", "events_skew_report", "rel_fk_audit",
    "stream_split_parity", "mm_ahash_distance_hist", "mm_scene_changes",
    // r14 second wave: the audio VAD front-end — frame stream is
    // bytes/frameLen rows, one payload-keyed partial/final agg
    "mm_audio_activity",
    // r15: the audio kNN — a zero-shuffle frame-energy extraction
    // pass + the Q*k bounded-heap kernel (the mm_patch_knn shape)
    "mm_audio_knn",
    // r16: the real-container WAV round-trip — a per-row encode+parse
    // kernel, zero shuffle, embarrassingly parallel like the PNG twin
    "mm_audio_roundtrip",
    // r13 (r12 verdict task 5): the DECLARED production-law kNN graph
    // — autoNCells floors to 16 at 10x (the fixture index), builds
    // the 160-cell content-addressed disk index at 100x; the index
    // drift audit (one cell-keyed partial-agg exchange, nCells rows —
    // scan-shaped at any corpus); and the retrain action (two
    // sample-bounded trains + two corpus-linear assignment scans)
    "ann_knn_graph_auto", "ann_index_drift", "ann_index_retrain",
    // r14: the drift-gated maintenance composition — the audit + an
    // nCells-bounded driver gate; its fixture action is noop, so the
    // row prices exactly what a scheduled no-drift day costs
    "ann_index_maintain",
    // r13: semantic eval decontamination — Q-bounded probes against
    // the amortized disk index, corpus work (nProbe/nCells)-pruned
    "dedup_semantic_decontam")
    // (the 18th streaming query, stream_semantic_probe_parity, is
    // 10×-only here like its batch twin's declared form: both pin the
    // oracle's nCells=16; since r13 BOTH production configurations
    // rehearse at both scales in TimedCustom —
    // dedup_semantic_probe_auto for the batch plan and
    // stream_semantic_probe_auto for the streaming serve path)

  /** Dev-only rehearsal subset (comma-separated name prefixes, like
    * Bench's SPARK_GRAFT_BENCH_ONLY): lets a NEW operator's scale row
    * be measured in minutes without re-timing the whole board. UNSET
    * for the recorded full sweeps. */
  private val scaleOnly = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
  private def scaleSelected(name: String): Boolean =
    scaleOnly.forall(_.exists(name.startsWith))
  /** A leaked filter must not masquerade as a full sweep (r11
    * ADVICE): every run with the filter active says so up front, and
    * the table header carries the marker a scraped artifact keeps. */
  private def warnIfFiltered(): Unit = scaleOnly.foreach { f =>
    println(s"[scaleup] WARNING: SPARK_GRAFT_SCALE_ONLY=${f.mkString(",")} " +
      "— this is a PARTIAL (FILTERED) rehearsal, not a recordable full sweep")
  }

  def main(args: Array[String]): Unit = {
    val mode100 = args.contains("100")
    val out = args.filterNot(_ == "100").headOption.getOrElse(
      if (mode100) "/tmp/graft-scale100" else "/tmp/graft-scale10")
    val sfDir = args.filterNot(_ == "100").lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (mode100) { run100(spark, out); spark.stop(); return }
    // guard on the NEWEST schema addition so a scale dir generated by
    // an older harness version (missing later tables/columns) is
    // refreshed, not reused
    val stale = !new java.io.File(s"$out/orders.parquet").exists ||
      (try !spark.read.parquet(s"$out/supplier.parquet")
        .schema.fieldNames.contains("s_acctbal")
      catch { case _: Throwable => true })
    if (stale) {
      println(s"[scaleup] generating synthetic 10x fixture under $out")
      generate(spark, out, sfDir)
    }
    // same JIT warmup rationale as graft.Bench: don't let the first
    // timed query absorb one-time codegen/reader compilation
    try {
      spark.read.parquet(s"$out/nation.parquet").groupBy("n_name").count().count()
      spark.range(1000).selectExpr("sum(id)").count()
    } catch { case _: Throwable => () }
    warnIfFiltered()
    println(f"${"query"}%-26s ${"sec"}%8s ${"rows"}%10s")
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = try fn(spark, out).count()
        catch { case e: Throwable => println(s"$name FAILED: $e"); -1L }
      println(f"$name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f $rows%10d")
    }
    Timed.filter(scaleSelected).foreach { name =>
      SparkEntry.queries.get(name).foreach(fn => timeOne(name, fn))
    }
    TimedCustom.filter(t => scaleSelected(t._1))
      .foreach { case (name, fn) => timeOne(name, fn) }
    spark.stop()
  }
}
