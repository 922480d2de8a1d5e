package graft

/** Shuffle-record CEILINGS for the bounded-output query classes
  * (r8/r9 verdict task: "red-bar assertions so a refactor can't
  * re-introduce a corpus-sized exchange"). Each query below has a
  * SEMANTIC shuffle bound that does not grow with the corpus —
  * bucket counts, label pairs, sketch cells, k·d partials — and the
  * measured graft.Metrics numbers at sf0.1 confirm it: the corpus
  * grows 100× from sf0.001 and these queries' shuffle records stay
  * within small multiples (while corpus-linear classes like
  * rel_profile's distinct-count partials grow right along with the
  * data — those are excluded because their exchange is semantically
  * forced, not a regression).
  *
  * The test executes each query at sf0.1 (the LARGEST fixture — at
  * sf0.01 several corpora are smaller than the ceilings, so a
  * corpus-sized regression would pass unnoticed) under a
  * task-metrics listener, through a noop sink so Catalyst cannot
  * prune the query's real compute (the graft.Metrics rationale), and
  * asserts total shuffle-write records stay under a ceiling set at
  * ~4× the measured value — headroom for partition-count and
  * partial-aggregation variance, still 1-2 orders of magnitude below
  * the smallest corpus the query scans.
  */
class ShuffleCeilingSpec extends SparkSpec {
  private val sf1 = "/root/testdata/sf0.1"

  // query -> (ceiling, semantic bound). Measured records at sf0.1
  // (8 cpus) in parentheses.
  private val ceilings: Seq[(String, Long, String)] = Seq(
    ("rel_price_histogram", 200L, "price-bucket cells x partials (20)"),
    ("text_lang_confusion", 200L, "langs^2 confusion cells (30)"),
    ("text_heavy_hitters", 500L, "MG summary k x partitions (93)"),
    ("text_zipf_coverage", 200L, "bounded head window + 3 coverage rows (32)"),
    ("rel_corr_matrix", 50L, "column-pair moment partials (3)"),
    ("rel_table_checksum", 50L, "per-group affine checksum partials (6)"),
    ("rel_quantiles_sketch", 30000L, "price-domain/width histogram cells (7633)"),
    ("pipeline_shard_manifest", 10000L, "shard x partition partials (2072)"),
    ("rel_zorder_cells", 33000L, "4096 z-tiles x2 exchanges (8192)"),
    ("text_bigram_coverage", 44000L, "closed-vocab bigram space (10931)"),
    ("kmeans_average", 6000L, "k*d centroid partials (1280)"),
    ("kmeans_accumulate", 6000L, "k*d accumulator partials (1280)"),
    ("text_collocations", 5000L, "minCount-pruned bigrams + top-k (962)"),
    // round 11 cohort: the keywords exchange is vocab x k cells (the
    // doc-keyed token-stream join this plan REPLACED would measure
    // ~1.9 M records here); admission ships only rate partials +
    // (epoch, source) report cells; kNN classify ships Q*k heap
    // partials + vote cells
    ("text_topic_keywords", 8000L, "vocab x k lift cells + rank window (1897)"),
    ("pipeline_epoch_admission", 1000L, "source partials + epoch x source report cells (162)"),
    ("ann_knn_classify", 500L, "Q*k heap partials + vote cells (80)"),
    ("pipeline_split_manifest", 200L, "splits x langs report cells (30)"),
    ("pipeline_sample_drift", 3000L, "source x length-bucket share cells x2 + rates (542)"),
    // r12 cohort (r11 verdict task 8): the moment pass ships only
    // d(d+1)/2 cells x partials; chunk rewrite's exchange is
    // chunk-digest-keyed (~5 chunks/doc, never bodies); the overlap
    // audit joins only the rate-bounded admitted stream; the distance
    // hist rides the banded pair frame; split drift is share cells;
    // the PCA query re-runs the covariance cells and hands d^2 rows
    // to the driver
    ("ann_covariance", 17000L, "d(d+1)/2 moment cells x partials (4160)"),
    ("dedup_chunk_rewrite", 100000L, "chunk-digest exchange + doc-bounded reassembly (25050)"),
    ("pipeline_epoch_overlap", 24000L, "rate-bounded admitted stream x epochs + pair cells (6008)"),
    ("mm_ahash_distance_hist", 30000L, "banded-pair frame + 3 hist cells (7429)"),
    ("pipeline_split_drift", 1000L, "splits x langs x length-bucket cells + share grids (163)"),
    ("ann_pca_component", 17000L, "the covariance cells again - driver gets d^2 rows (4224)"),
    // TWO-SCAN SHAPE PIN (r11 verdict task 3): the bucket-count
    // exchange is persisted and must be paid ONCE — the regression
    // this guards against (threshold + nominee branches each
    // recomputing the pair scan + exchange) would land at ~2x the
    // measured records, above this deliberately tight ceiling
    ("text_skipgram_counts", 2400L, "ONE distinct-pair-hash exchange + nominee recount (1234)"),
    // r12: the labeled IVF probes ship Q-bounded candidate partials;
    // IVF margin mining ships (|X|+|Y|)x(nProbe+1) tagged rows + k
    // partials per probed row — corpus-linear by design, never
    // pair-quadratic (the exact kernel this replaces at scale would
    // measure ~|X|x|Y| here)
    ("ann_hard_negatives_ivf", 1000L, "Q-bounded labeled probe partials (210)"),
    ("ann_knn_classify_ivf", 1000L, "Q-bounded probe partials + vote cells (234)"),
    ("ann_margin_mining_ivf", 120000L, "(|X|+|Y|)x(nProbe+1) tagged rows + kxnProbe partials (28256)"),
    // the ingest-shaped SemDeDup: new-batch rows into their home
    // cells + batch-sized best-partner window — never pair-sized
    ("dedup_semantic_probe", 6000L, "batch-bounded cell join + best-partner partials (1200)"),
    // r12 second wave: the kNN graph ships corpus rows into cells +
    // ≤ n·k edge partials (a pair-sized join would measure millions
    // here); PCA-apply ships only UDAF buffers + the d² hand-off and
    // scores in a zero-shuffle scan; scene changes shuffle the
    // bytes/stride frame stream once into the id window (frame-
    // linear, like the chunk rewrite); held-out LM counts are
    // train-vocab-bounded
    ("ann_knn_graph", 60000L, "corpus rows into cells + <= n*k edge partials (14000)"),
    // r13: the drift audit map-side-combines to <= nCells x partitions
    // stratum partials + the 1-row totals broadcast — a corpus-sized
    // exchange here would mean the partial agg was lost
    ("ann_index_drift", 200L, "nCells stratum partials + 1-row totals (33)"),
    // the retrain action: two trains (sample-bounded driver hand-off)
    // + two assignment scans whose per-cell counts partial-aggregate
    ("ann_index_retrain", 400L, "2 x nCells occupancy partials + totals (57)"),
    // the semantic decontam flags ride a Q-bounded broadcast probe
    // join + a flagged-rows-only best-match window
    ("dedup_semantic_decontam", 2000L, "Q-bounded probe partials + flagged-row window (156)"),
    // the declared auto-law graph rides the SAME fixture index here
    // (autoNCells floor = 16), so its bound is ann_knn_graph's
    ("ann_knn_graph_auto", 60000L, "corpus rows into cells + <= n*k edge partials (14000)"),
    // NN-descent round: two seed graphs + n*(k^2+k)-bounded candidate
    // distinct + two id-keyed vector joins + per-source rank
    ("ann_knn_graph_refined", 340000L, "2 seed graphs + n*k^2 candidate pairs (84096)"),
    // the auto-law form rides the same fixture index (floor = 16)
    ("ann_knn_graph_refined_auto", 340000L, "2 seed graphs + n*k^2 candidate pairs (84097)"),
    // round 2 writes ZERO records at fixture scale: the persisted
    // round-1 frame AQE-coalesces to one partition, which satisfies
    // every clustering requirement (distinct/window exchange-free,
    // p joins broadcast) — measured equal to one round; the at-scale
    // bound is one more n*(k^2+k) candidate stage per round
    ("ann_knn_graph_refined2", 340000L, "2 seed graphs + per-round n*k^2 candidates (84096)"),
    // first touch pays the shared refined-edges build (the 2-seed-
    // graph + n*k^2 descent stage above); the probe entry and the
    // beam rounds themselves are Q-bounded
    ("ann_graph_search", 340000L, "refined-edges build + Q-bounded probe/beam stages (78548)"),
    // rides the search memo: bruteforce Q*k*partitions partials +
    // the overlap-count partials
    ("ann_graph_search_recall", 400L, "exact-side partials + overlap counts (84)"),
    // first touch pays the settled-side build + refined edges (the
    // same 2-seed-graph + n*k^2 descent stage); the |new| searches
    // themselves are frontier/visited-bounded
    ("ann_graph_insert", 340000L, "settled graph build + bounded insert searches (77632)"),
    // rides the shared edges memo: |CurveBeams| bounded searches +
    // the exact-side partials
    ("ann_graph_search_curve", 4000L, "3 bounded searches + exact-side partials (713)"),
    // cold first touch pays the full-graph build (the same 2-seed +
    // n*k^2 descent stage as ann_graph_search); the disjoint batch's
    // probe/beam stages are Q-bounded (warm-disk: 261)
    ("ann_graph_probe_only", 340000L, "graph build + Q-bounded probe/beam stages (84357)"),
    // cold first touch pays the settled build + insert searches (the
    // ann_graph_insert stage) + ONE more n*(k^2+k) candidate round
    // over the reversed-insert union — the compaction law
    ("ann_graph_consolidate", 480000L, "settled build + insert + 1 descent round (115714)"),
    // cold first touch pays the consolidate pipeline; the serve +
    // exact sides are Q-bounded heap/beam stages
    ("ann_graph_consolidated_recall", 480000L, "consolidate pipeline + Q-bounded serve/exact (109977)"),
    // r16: the attribution family rides the consolidate chain — the
    // retrained entry adds the full-corpus index build's sample/assign
    // partials (116375), the second round adds one more k-bounded
    // descent (148428), the cap adds the undirected dedup + window
    // (171667). The maintain gate moved to the r17 crud chain below.
    ("ann_graph_retrained_recall", 480000L, "consolidate chain + retrained entry + serve (116375)"),
    ("ann_graph_consolidate2_recall", 600000L, "consolidate chain + 1 more descent round + serve (148428)"),
    ("ann_graph_capped_recall", 700000L, "consolidate chain + undirected dedup/cap window + serve (171667)"),
    // r16: audio near-dup — fingerprint pass is zero-shuffle; the
    // banded join and CC walk ship distinct-fingerprint-bounded rows
    ("mm_audio_near_pairs", 1000L, "distinct-fp bands + verified pairs (166)"),
    ("mm_audio_groups", 3000L, "pair frame + CC rounds + member counts (694)"),
    // r16 second wave: the delete stage — tombstone-serve is the
    // classic search cold build + one emission predicate (84357, the
    // probe_only cold shape); compact adds the k-bounded bridge join
    // + one remaining-corpus descent round; the recall adds the serve
    ("ann_graph_tombstone_search", 340000L, "refined build + Q-bounded tombstone serve (84357)"),
    ("ann_graph_delete_compact", 540000L, "refined build + bridge join + 1 descent round (132759)"),
    ("ann_graph_deleted_recall", 520000L, "compact pipeline + Q-bounded serve/exact (127877)"),
    // r17: the composed CRUD epoch — the dual-signal gate, its serve
    // row and the composition recall all ride ONE crud-compact chain
    // (consolidate union + bridge splice + 1 survivor descent round +
    // survivor-retrained entry build); the delete curve pays one
    // compact+serve chain per modulus over the shared refined build
    ("ann_graph_maintain", 570000L, "crud-compact chain + gate counts (141716)"),
    ("ann_graph_maintain_serve", 570000L, "crud chain + retrained entry + serve/exact (141974)"),
    ("ann_graph_crud_recall", 570000L, "crud chain + retrained entry + serve/exact (141973)"),
    ("ann_graph_delete_curve", 700000L, "refined build + 2 x (bridge + descent + serve) (171568)"),
    // r17: the decoded-path fingerprint's only exchange is the
    // id-keyed energy/fingerprint join — one row per payload; the
    // streaming delete twin pays the classic serve cold build + one
    // InSet emission predicate per micro-batch serve
    ("mm_audio_decoded_fp", 20000L, "id-keyed energy x fingerprint join rows (5001)"),
    ("stream_graph_delete_parity", 380000L, "refined build + per-batch tombstone serves (92389)"),
    ("ann_graph_crud_audit", 580000L, "crud chain + n*k pair-key self-join partials (143398)"),
    ("stream_graph_maintain_parity", 570000L, "crud chain + 3 integer counters per batch (141716)"),
    // rides the disk graph: one n*k edge self-join on the pair key +
    // two bounded aggregates; cold first touch pays the graph build
    ("ann_graph_audit", 340000L, "graph build + n*k pair-key self-join partials (86100)"),
    // one chain per EntryProbes count over the shared edges + the
    // exact side; cold first touch pays the graph build
    ("ann_graph_entry_curve", 340000L, "graph build + 3 bounded searches + exact side (84940)"),
    // the frame-energy extraction is a zero-shuffle payload pass;
    // only Q*k*partitions heap partials + the rank window move
    ("mm_audio_knn", 300L, "Q*k bounded-heap partials + rank window (51)"),
    // two bounded-heap rank kernels (Q*k*partitions partials each)
    // over the zero-shuffle projection scan + overlap counts
    ("ann_dim_truncate_recall", 9000L, "2 bounded-heap rank kernels + overlap counts (2107)"),
    // the maintenance surface runs the drift audit twice (the
    // nCells-bounded gate collect + the emitted frame)
    ("ann_index_maintain", 400L, "2 x (nCells stratum partials + totals) (66)"),
    // sampled exact ground truth (two one-job heap scans, Q*k*partitions
    // partials) + the IVF mining memo build + the overlap join
    ("ann_margin_recall", 120000L, "sampled-exact partials + IVF mining build + overlap (34108)"),
    ("ann_pca_project", 17000L, "CovCellsAgg buffers + d^2 hand-off, zero-shuffle scoring (4008)"),
    ("mm_scene_changes", 150000L, "bytes/stride frame stream into the id window (30699)"),
    // map-side combine collapses each payload's frames before the
    // exchange: <= one row per payload per partition moves
    ("mm_audio_activity", 40000L, "payload-keyed partial agg rows (10000)"),
    ("text_lm_heldout_score", 44000L, "train-vocab bigram/unigram counts + doc report (10962)"))

  test("bounded-output queries shuffle bounded records at sf0.1") {
    val offenders = ceilings.flatMap { case (name, ceiling, bound) =>
      val (_, tasks) = withTaskMetrics {
        SparkEntry.queries(name)(spark, sf1)
          .write.mode("overwrite").format("noop").save()
      }
      val recs = tasks.map(_.shuffleWriteMetrics.recordsWritten).sum
      if (recs > ceiling) Some(s"$name: $recs shuffle records > ceiling $ceiling ($bound)")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
