package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{FixtureCache, Tables}
import graft.operators.TextAnalysis

/** Declared text-analysis queries over `documents`. ALL are
  * DuckDB-oracle-checked — including the rolling-hash fingerprint,
  * whose fold is reproduced with list_reduce (identical chain: the
  * zero seed is absorbed by the first element in both engines), the
  * Gopher-style repetition signals, and both zero-shuffle admission
  * samplers (uniform hash-mod and per-stratum-rate mixing).
  */
object TextQueries {

  def tokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("n_chars"),
        round(col("avg_word_len"), 6).as("avg_word_len"))
      .orderBy("doc_id")

  def bpeTokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeTokenStats(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
        round(col("ws_per_bpe"), 6).as("ws_per_bpe"))
      .orderBy("doc_id")

  def quality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id")

  def langid(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("predicted_lang"), round(col("score"), 6).as("score"))
      .orderBy("doc_id")

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Coverage-based selection signal: every doc scored by DISTINCT-
    * bigram overlap with the en slice's 200 most document-frequent
    * bigrams — integer permille, hash-exact
    * ([[TextAnalysis.bigramCoverage]]). */
  def bigramCoverage(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramCoverage(Tables.documents(s, dir), "doc_id", "text",
        refFilter = col("lang") === "en", refK = 200)
      .orderBy("doc_id")

  /** Model-based quality scoring, integer-exact: the corpus bigram LM
    * scores every document's mean conditional bigram probability in
    * permille ([[TextAnalysis.bigramLmScore]]). */
  def bigramLm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Held-out LM scoring ([[TextAnalysis.bigramLmScoreHeldOut]], r12)
    * — the real CCNet shape: the reference bigram LM trains on the
    * trusted English stratum (the wiki-LM analogy; the same reference
    * filter `text_dsir_weights` targets) and scores EVERY document,
    * so scores measure similarity to the reference domain rather than
    * to the corpus's own average; OOV bigrams/heads score 0,
    * integer-exact. */
  def lmHeldOut(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.bigramLmScoreHeldOut(
        docs.filter(col("lang") === "en"), docs, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Per-language quality terciles (CCNet-style head/middle/tail):
    * bigram-LM score × predicted language × funnel-free exact NTILE. */
  def qualityBuckets(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityBuckets(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("lang", "bucket")

  def corpus(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusStats(Tables.documents(s, dir))
      .orderBy("lang", "source")

  /** Language-ID confusion matrix against the fixture's lang labels
    * (TextAnalysis.langConfusion): the filter-eval report, langs²
    * rows, diagonal permille = per-language recall. */
  def langConfusionQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langConfusion(Tables.documents(s, dir), "doc_id", "text", "lang")
      .orderBy("label_lang", "predicted_lang")

  /** Top-100 window-4 skip-gram pair counts
    * (TextAnalysis.skipgramCounts): the word2vec co-occurrence prep,
    * pair generation per-row (no token self-join). */
  def skipgramsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.skipgramCounts(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("rank")

  /** Top-50 Dice-scored collocations with ≥ 5 occurrences (see
    * TextAnalysis.collocations for why Dice, not PMI: log-free AND
    * overflow-free at any corpus size). */
  def collocationsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.collocations(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("rank")

  def vocab(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabulary(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(50)

  /** The extension-function SQL path end-to-end: the custom compiled
    * `word_shingles` Catalyst expression invoked FROM SQL (the same
    * registration `spark.sql.extensions=graft.plans.GraftExtensions`
    * performs at session build), oracle-checked against DuckDB's
    * distinct-trigram reconstruction. */
  def sqlShingles(s: SparkSession, dir: String): DataFrame = {
    graft.plans.expressions.register(s)
    Tables.documents(s, dir).createOrReplaceTempView("documents_v")
    s.sql(
      """SELECT doc_id, size(word_shingles(text, 3)) AS n_shingles
        |FROM documents_v ORDER BY doc_id""".stripMargin)
  }

  def tfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id", "rank")

  /** The scored (doc, token) BM25 frame over the fixture's 5-term
    * universe feeds BOTH declared bm25 queries (the batch query's
    * term sets are subsets of [[Bm25Terms]]) and its corpus pass —
    * explode + token-filtered tf aggregate — dominates each (r9
    * bench: the querytable reps re-paid it at 2-4 s). Memoized like
    * the dedup pair graphs; the cached frame is matched-occurrence-
    * sized (≤ 5·|docs| rows), never token-stream-sized. */
  private[queries] def bm25Scored(s: SparkSession, dir: String): DataFrame =
    FixtureCache.frame(s,
        s"bm25_scored:${Bm25Terms.mkString(",")}",
        dir, "documents") {
      TextAnalysis.bm25Scores(Tables.documents(s, dir), "doc_id",
        "text", _.filter(col("token").isin(Bm25Terms: _*)))
    }

  /** BM25 retrieval over the corpus for a fixed 5-term query (see
    * TextAnalysis.bm25TopK for the ln-free rational formulation that
    * makes the score cell-exact cross-engine). */
  def bm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopKFromScored(bm25Scored(s, dir), k = 50)
      .orderBy("rank")

  /** BM25 retrieval from a query-terms TABLE (r7 verdict task 8): a
    * 3-query batch — overlapping term sets — retrieved in ONE corpus
    * pass via [[TextAnalysis.bm25TopKPerQuery]]; composes with
    * pipeline stages that EMIT query frames, which a hardcoded `isin`
    * cannot. Oracle reuses the identical rational-arithmetic CTEs with
    * the query table inlined as VALUES. */
  def bm25QueryTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qt = Bm25QueryTable.toDF("query_id", "token")
    // every batch term set ⊆ Bm25Terms, so the memoized scored frame
    // covers the whole query table and only the per-query rank runs
    TextAnalysis.bm25TopKPerQueryFromScored(bm25Scored(s, dir), qt, k = 20)
      .orderBy("query_id", "rank")
  }

  def stratified(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stratifiedSample(
        Tables.documents(s, dir).select("doc_id", "lang"), "lang", "doc_id", 10)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  /** The zero-shuffle admission sampler (the 100 TB path): pure filter,
    * exact integer hash, oracle-checkable. */
  def sampleHashMod(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashModSample(
        Tables.documents(s, dir).select("doc_id", "lang"), "doc_id", 10)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  /** Gopher-style repetition-quality signals, zero-shuffle per-row
    * HOFs (TextAnalysis.repetitionStats). */
  def repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_words"),
        round(col("dup_word_frac"), 6).as("dup_word_frac"),
        col("n_bigrams"), col("max_bigram_freq"),
        round(col("dup_bigram_frac"), 6).as("dup_bigram_frac"))
      .orderBy("doc_id")

  /** The mixing-rate table for `text_mix_sample`: upsample the rare
    * languages, admit only 10% of the dominant one — the shape of a
    * real pretraining language-rebalancing pass. (Single source of
    * truth for BOTH the operator call and the oracle CASE chain.) */
  val MixRatesBps: Map[String, Int] =
    Map("en" -> 1000, "de" -> 5000, "es" -> 2500, "fr" -> 7500, "zh" -> 10000)

  /** Per-stratum-rate admission sampling (data mixing): zero-shuffle
    * scan filter at any corpus size. */
  def mixSample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.mixSample(
        Tables.documents(s, dir).select("doc_id", "lang"), "lang", "doc_id", MixRatesBps)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  /** Context-window chunking at 64 words — sequence-packing prep with
    * per-chunk exact fingerprints (zero-shuffle explode). */
  val ChunkWords = 64
  def chunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkStats(Tables.documents(s, dir), "doc_id", "text", ChunkWords)
      .orderBy("doc_id", "chunk_id")

  /** Overlapping RAG windows ([[TextAnalysis.chunksOverlap]]):
    * 32-word windows every 16 words (50% overlap). */
  val OverlapWindow = 32
  val OverlapStride = 16
  def chunksOverlapQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunksOverlap(Tables.documents(s, dir), "doc_id", "text",
        OverlapWindow, OverlapStride)
      .orderBy("doc_id", "chunk_id")

  /** Sequence packing at 256 tokens per context window, stratified by
    * language (GPT-style concat-and-split; a document straddling a
    * boundary emits one span per sequence it overlaps). */
  val PackBudget = 256
  def pack(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(Tables.documents(s, dir), "lang", "doc_id", "text",
        budget = PackBudget)
      .orderBy("lang", "seq_id", "doc_id")

  /** Winnowed local fingerprints (k=8 chars, window 16), compacted to
    * per-doc stats — selection set size, checksum and minimum — so
    * the declared output stays doc-sized while the full selection is
    * pinned exactly (sum + min + count over the sorted distinct set
    * determine regressions as reliably as the set itself). */
  val WinnowK = 8
  val WinnowW = 16
  def winnow(s: SparkSession, dir: String): DataFrame = {
    val wf = graft.plans.expressions.winnow_fingerprints(col("text"), WinnowK, WinnowW)
    Tables.documents(s, dir)
      .select(col("doc_id"), wf.as("s"))
      .select(col("doc_id"),
        size(col("s")).as("n_selected"),
        coalesce(aggregate(col("s"), lit(0L), (a, x) => a + x), lit(0L)).as("fp_sum"),
        coalesce(array_min(col("s")), lit(0L)).as("fp_min"))
      .orderBy("doc_id")
  }

  /** DSIR importance resampling, deterministic analogue
    * ([[TextAnalysis.dsirImportance]]): unigram+bigram occurrences
    * hashed into 4096 buckets, Laplace-smoothed target/raw rate
    * ratios in integer micros, and the top-200 documents by summed
    * ratio — target slice = the en documents (the same slice
    * text_bigram_coverage targets). */
  val DsirBuckets = 4096
  val DsirTopK = 200
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirImportance(Tables.documents(s, dir), "doc_id", "text",
      targetFilter = col("lang") === "en",
      buckets = DsirBuckets, topK = DsirTopK)

  /** Repeated-substring spans at 25 chars — since r12 the declared
    * query is the DENSITY-DISPATCHED form
    * ([[TextAnalysis.repeatedSpansAuto]], r11 verdict task 2): the
    * winnow-probe measures position-repeat density and runs the EXACT
    * cascade below 180‰ (every driver fixture: 93–120‰ measured — so
    * the oracle stays the exact all-substrings replay), the sampled
    * cascade above it (the dense 100× rehearsal corpus: 242‰).
    * Caching note (r12 ADVICE): on the DENSE branch the nominee frame
    * stays persisted (MEMORY_AND_DISK) to serve the returned lazy
    * plan — it is evictable but not explicitly unpersisted, the
    * repo's stated memo convention; repeated invocations replace it
    * under memory pressure rather than accumulate without bound. */
  val RepSpanGram = 25
  def repeatedSpansQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repeatedSpansAuto(Tables.documents(s, dir), "doc_id", "text",
      RepSpanGram, RepSpanWindow)

  /** The dense-regime sampled twin (r10 verdict task 5): winnow-
    * selected positions only reach the nominate exchange (~2/(w+1)
    * density); spans ≥ gramLen + window − 1 chars are guaranteed
    * detected ([[TextAnalysis.repeatedSpansSampled]]). */
  val RepSpanWindow = 8
  def repeatedSpansSampledQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repeatedSpansSampled(Tables.documents(s, dir), "doc_id",
      "text", RepSpanGram, RepSpanWindow)

  /** BPE tokenizer training ([[TextAnalysis.bpeLearnMerges]]): the
    * 10-round learned merge table over the corpus vocabulary. */
  val BpeMergeRounds = 10
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeLearnMerges(Tables.documents(s, dir), "doc_id", "text",
      BpeMergeRounds)

  /** BPE encode ([[TextAnalysis.bpeEncodeReport]]): the learned
    * merges applied back to the corpus — per-language subword
    * compression report. The merge pairs are driver-only, a
    * [[FixtureCache.memo]] entry: training runs once per fixture
    * file, encode reps pay only the apply chain. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = FixtureCache.memo(s"bpe_merges:r=$BpeMergeRounds", dir, "documents") {
      TextAnalysis.bpeLearnMerges(Tables.documents(s, dir), "doc_id", "text",
          BpeMergeRounds)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    }
    TextAnalysis.bpeEncodeReport(Tables.documents(s, dir), "lang", "text", merges)
  }

  val TopicBuckets = 32
  val TopicK = 8
  val TopicIters = 5

  /** Topic clustering ([[TextAnalysis.topicClusters]]): hashed
    * bag-of-words k-means through the proven exact-decimal Lloyd
    * trajectory; per-cluster size + dominant language. */
  /** Trained centers for the fixture (k·d driver doubles, a
    * [[FixtureCache.memo]] entry) — shared by the batch query and the
    * streaming parity twin. */
  private[graft] def topicCenters(s: SparkSession, dir: String): Array[Array[Double]] =
    FixtureCache.memo(s"topic_centers:b=$TopicBuckets:k=$TopicK:it=$TopicIters",
        dir, "documents") {
      TextAnalysis.trainTopicCenters(
        TextAnalysis.docVectors(Tables.documents(s, dir), "doc_id", "text",
          TopicBuckets), TopicK, TopicIters)
    }

  def topicClustersQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topicClusters(Tables.documents(s, dir), "doc_id", "lang",
      "text", TopicBuckets, TopicK, TopicIters,
      trained = Some(topicCenters(s, dir)))

  /** Topic keywords ([[TextAnalysis.topicKeywords]]): top-5 tokens
    * per cluster by integer lift, in-cluster count >= 5; reuses the
    * memoized fixture centers. */
  val KeywordMinCount = 5L
  val KeywordTopM = 5
  def topicKeywordsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topicKeywords(Tables.documents(s, dir), "doc_id", "text",
      TopicBuckets, TopicK, TopicIters, KeywordMinCount, KeywordTopM,
      trained = Some(topicCenters(s, dir)))

  /** Per-source 5-gram novelty curve ([[TextAnalysis.noveltyCurve]]):
    * the marginal-contribution report of the source blend. */
  val NoveltyGram = 5
  def noveltyCurveQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.noveltyCurve(Tables.documents(s, dir), "source", "text",
      NoveltyGram)

  /** Pairwise source 5-gram overlap matrix
    * ([[TextAnalysis.sourceOverlap]]): the cross-source leakage report
    * read next to the novelty curve. */
  def sourceOverlapQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sourceOverlap(Tables.documents(s, dir), "source", "text",
      NoveltyGram)

  /** PII redaction over a corpus with PLANTED addresses: every doc
    * gains a deterministic email + NANP phone derived from its id, so
    * the expected counts are known (≥1 each) and the scrub is
    * exercised on every row ([[TextAnalysis.piiScrub]]). Patterns are
    * interpolated from the same constants the operator compiles, and
    * stick to the Java∩RE2 regex subset. */
  def piiScrubQ(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" now.")).as("text"))
    TextAnalysis.piiScrub(planted, "doc_id", "text")
      .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
        col("n_phones").cast("long").as("n_phones"), col("scrubbed"))
      .orderBy("doc_id")
  }

  /** Boilerplate line removal over PLANTED multi-line docs: sentences
    * become lines and two universal footer lines are appended — those
    * cross the 30% document-frequency bar and must vanish, while
    * body lines survive in order
    * ([[TextAnalysis.removeBoilerplateLines]]). */
  def lineDedupQ(s: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(s, dir).select(col("doc_id"),
      concat(regexp_replace(col("text"), "\\. ", ".\n"),
        lit("\nSubscribe to our newsletter today\nAll rights reserved")).as("text"))
    TextAnalysis.removeBoilerplateLines(planted, "doc_id", "text", maxDocShare = 0.3)
      .orderBy("doc_id")
  }

  /** Systematic size-proportional sampling at one pick per 512 tokens,
    * stratified by language — inclusion probability exactly
    * proportional to document length ([[TextAnalysis.ppsSample]]); the
    * oracle replays the integer dart arithmetic over the plain
    * single-window prefix sum. */
  val PpsStep = 512
  def ppsSampleQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ppsSample(Tables.documents(s, dir), "lang", "doc_id", "text",
        step = PpsStep)
      .orderBy("lang", "doc_id")

  /** Deterministic epoch shuffle into 8 shards
    * ([[TextAnalysis.shardAssign]]): shard + dense pseudo-random
    * position from the exact multiplicative hash — the training-input
    * layout step, funnel-free via hash-bucketed two-level ranking. */
  val NumShards = 8
  def shardAssignQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.shardAssign(Tables.documents(s, dir), "doc_id", NumShards)
      .orderBy("shard", "pos")

  /** Length-bucketed batching report at width 32 / batch 16
    * ([[TextAnalysis.lengthBatching]]): per-(bucket, batch) padded
    * token waste in exact integer permille. */
  val LenBucketWidth = 32
  val LenBatchSize = 16
  def lengthBatchingQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthBatching(Tables.documents(s, dir), "doc_id", "text",
        bucketWidth = LenBucketWidth, batchSize = LenBatchSize)
      .orderBy("len_bucket", "batch_id")

  /** Vocabulary coverage curve at 500/900/990‰
    * ([[TextAnalysis.zipfCoverage]], head bound 4096): smallest
    * frequency-ranked head reaching each coverage threshold. */
  def zipfCoverageQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfCoverage(Tables.documents(s, dir), "text")
      .orderBy("threshold_permille")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_zipf_coverage" -> (zipfCoverageQ _),
    "text_shard_assign" -> (shardAssignQ _),
    "text_length_batching" -> (lengthBatchingQ _),
    "text_pps_sample" -> (ppsSampleQ _),
    "text_pii_scrub" -> (piiScrubQ _),
    "text_line_dedup" -> (lineDedupQ _),
    "text_winnow" -> (winnow _),
    "text_pack" -> (pack _),
    "text_chunks" -> (chunks _),
    "text_chunks_overlap" -> (chunksOverlapQ _),
    "text_repetition" -> (repetition _),
    "text_mix_sample" -> (mixSample _),
    "text_tokens" -> (tokens _),
    "text_tokens_bpe" -> (bpeTokens _),
    "text_quality" -> (quality _),
    "text_langid" -> (langid _),
    "text_lang_confusion" -> (langConfusionQ _),
    "text_fingerprint" -> (fingerprint _),
    "text_corpus_stats" -> (corpus _),
    "text_bigram_coverage" -> (bigramCoverage _),
    "text_dsir_weights" -> (dsirWeights _),
    "text_repeated_spans" -> (repeatedSpansQ _),
    "text_repeated_spans_sampled" -> (repeatedSpansSampledQ _),
    "text_bpe_merges" -> (bpeMerges _),
    "text_bpe_encode" -> (bpeEncode _),
    "text_novelty_curve" -> (noveltyCurveQ _),
    "text_source_overlap" -> (sourceOverlapQ _),
    "text_topic_clusters" -> (topicClustersQ _),
    "text_topic_keywords" -> (topicKeywordsQ _),
    "text_bigram_lm_score" -> (bigramLm _),
    "text_lm_heldout_score" -> (lmHeldOut _),
    "text_collocations" -> (collocationsQ _),
    "text_skipgram_counts" -> (skipgramsQ _),
    "text_quality_buckets" -> (qualityBuckets _),
    "text_vocab" -> (vocab _),
    "text_stratified_sample" -> (stratified _),
    "text_sample_hashmod" -> (sampleHashMod _),
    "text_tfidf_top_terms" -> (tfidf _),
    "text_bm25_topk" -> (bm25 _),
    "text_bm25_querytable" -> (bm25QueryTable _),
    "sql_word_shingles" -> (sqlShingles _))

  /** Query-term set for `text_bm25_topk` (mid-frequency fixture
    * vocabulary; shared verbatim by the oracle SQL). */
  private[queries] val Bm25Terms = Seq("hash", "join", "scan", "window", "vector")

  /** The 3-query batch for `text_bm25_querytable` — overlapping
    * subsets of [[Bm25Terms]], so shared (doc, token) scores are
    * exercised across queries; shared verbatim by the oracle VALUES. */
  private val Bm25QueryTable: Seq[(Int, String)] = Seq(
    1 -> "hash", 1 -> "join", 1 -> "scan",
    2 -> "window", 2 -> "vector",
    3 -> "hash", 3 -> "join", 3 -> "scan", 3 -> "window", 3 -> "vector")

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** The unrolled BPE-training CTE chain (v0..vR carrying the WORD
    * through every rewrite so the encode oracle can join occurrences
    * back; p1..pR are the per-round argmax pairs) — shared by the
    * `text_bpe_merges` and `text_bpe_encode` oracles. */
  private def bpeCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT string_split(pair, ' ')[1] AS a, string_split(pair, ' ')[2] AS b, cnt FROM (
         |  SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(s) - 1), i -> s[i] || ' ' || s[i+1])) AS pair, n
         |    FROM (SELECT string_split(syms, ' ') AS s, n FROM v${r - 1}))
         |  GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 1)),
         |v$r AS MATERIALIZED (
         |  SELECT v.w, list_reduce(string_split(v.syms, ' '),
         |      (acc, x) -> CASE WHEN (acc = p.a OR ends_with(acc, ' ' || p.a)) AND x = p.b
         |        THEN left(acc, length(acc) - length(p.a)) || p.a || p.b
         |        ELSE acc || ' ' || x END) AS syms, v.n
         |  FROM v${r - 1} v CROSS JOIN p$r p)""".stripMargin
    }.mkString(",\n", ",\n", "")
    s"""v0 AS MATERIALIZED (
       |  SELECT w, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS syms, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1, 2)$roundCtes""".stripMargin
  }

  /** See the `text_bpe_merges` comment in [[oracleSql]]. */
  private def bpeOracleSql(rounds: Int): String = {
    val unioned = (1 to rounds).map { r =>
      s"SELECT $r AS round, a AS lhs, b AS rhs, a || b AS merged, cnt AS pair_count FROM p$r"
    }.mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(rounds)}
       |SELECT CAST(round AS INTEGER) AS round, lhs, rhs, merged, pair_count
       |FROM ($unioned) ORDER BY round""".stripMargin
  }

  /** The encode oracle: the SAME training chain, then subword counts
    * ride (lang, word) occurrence counts back up to the per-language
    * compression report. */
  private def bpeEncodeOracleSql(rounds: Int): String =
    s"""WITH ${bpeCtes(rounds)},
       |enc AS (SELECT w, CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_bpe FROM v$rounds),
       |o AS (SELECT lang, w, COUNT(*) AS c FROM (
       |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1, 2),
       |j AS (SELECT o.lang, CAST(SUM(o.c) AS BIGINT) AS n_words,
       |      CAST(SUM(o.c * e.n_bpe) AS BIGINT) AS n_bpe_tokens
       |      FROM o JOIN enc e USING (w) GROUP BY 1),
       |d AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1)
       |SELECT j.lang, d.n_docs, j.n_words, j.n_bpe_tokens,
       |  CAST((1000 * j.n_bpe_tokens) // j.n_words AS BIGINT) AS bpe_per_kiloword
       |FROM j JOIN d ON d.lang = j.lang ORDER BY j.lang""".stripMargin

  private val langScoresSql: String =
    TextAnalysis.LangProfiles.map { case (lang, stop) =>
      s"""SELECT doc_id, '$lang' AS lang,
         |  CAST(len(list_filter(w, x -> x IN ${inList(stop)})) AS DOUBLE) / len(w) AS score
         |FROM t""".stripMargin
    }.mkString("\nUNION ALL\n")

  private val mixRateCaseSql: String =
    "CASE " + MixRatesBps.toSeq.sortBy(_._1)
      .map { case (k, bps) => s"WHEN lang = '$k' THEN $bps" }
      .mkString(" ") + " ELSE 0 END"


  /** Shared topic-model oracle CTEs: hashed bag-of-words vectors,
    * first-k init, the proven exact-decimal Lloyd chain, and the
    * final-center argmin assignment `asg(vec_id, cid)` — used by the
    * batch report AND the streaming parity twin. */
  private[queries] def topicAsgCtes: String =
    s"""WITH occ AS (SELECT doc_id,
       |  list_reduce(list_transform(generate_series(1, length(t)),
       |      i -> CAST(ascii(substr(t, i, 1)) AS BIGINT)),
       |    (a, b) -> (a * 31 + b) % ${graft.functions.TextOps.FingerprintMod}) % $TopicBuckets AS b
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
       |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM occ GROUP BY 1, 2),
       |grid AS (SELECT d.doc_id, g.i FROM (SELECT DISTINCT doc_id FROM documents) d,
       |         (SELECT unnest(generate_series(0, ${TopicBuckets - 1})) AS i) g),
       |cell AS (SELECT grid.doc_id, grid.i, CAST(coalesce(bc.c, 0) AS DOUBLE) AS x
       |         FROM grid LEFT JOIN bc ON bc.doc_id = grid.doc_id AND bc.b = grid.i),
       |pts AS MATERIALIZED (SELECT doc_id AS vec_id, list(x ORDER BY i) AS v FROM cell GROUP BY 1),
       |cent0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v
       |  FROM pts ORDER BY vec_id LIMIT $TopicK)""".stripMargin +
      KMeansQueries.lloydRoundsCte("pts", TopicBuckets, TopicIters, "") +
      s""",
         |df AS (SELECT p.vec_id, c.cid,
         |  list_sum(list_transform(generate_series(1, $TopicBuckets),
         |           i -> (p.v[i] - c.v[i]) * (p.v[i] - c.v[i]))) AS d2
         |  FROM pts p CROSS JOIN cent$TopicIters c),
         |af AS (SELECT vec_id, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM df),
         |asg AS (SELECT vec_id, cid FROM af WHERE rn = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    // the patterns interpolate from the operator's constants; DuckDB
    // regexp_replace needs the explicit 'g' flag to match Spark's
    // replace-all, and len() is BIGINT (Spark side casts size() up)
    "text_pii_scrub" ->
      s"""WITH planted AS (SELECT doc_id,
         |    text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
         |    '@example.com or +1-555-' ||
         |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '${TextAnalysis.EmailRe}', 0)) AS n_emails,
         |  len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}', 0)) AS n_phones,
         |  regexp_replace(regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS scrubbed
         |FROM planted ORDER BY doc_id""".stripMargin,
    // zipped parallel unnests give (line, pos); string_agg skips the
    // CASE's nulls and orders by pos; SUM cast to BIGINT (HUGEINT
    // guard); all-lines-removed docs coalesce to '' like array_join
    "text_line_dedup" ->
      """WITH planted AS (SELECT doc_id,
        |    replace(text, '. ', '.' || chr(10)) || chr(10) ||
        |    'Subscribe to our newsletter today' || chr(10) ||
        |    'All rights reserved' AS text
        |  FROM documents),
        |lines AS (SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(len(string_split(text, chr(10))))) AS pos
        |  FROM planted),
        |df AS (SELECT line, COUNT(*) AS line_docs
        |  FROM (SELECT DISTINCT doc_id, line FROM lines WHERE line <> '')
        |  GROUP BY 1),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_corpus FROM planted),
        |boiler AS (SELECT line FROM df, nd WHERE line_docs > n_corpus * 0.3)
        |SELECT l.doc_id, COUNT(*) AS n_lines,
        |  CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  COALESCE(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
        |    chr(10) ORDER BY l.pos), '') AS clean
        |FROM lines l LEFT JOIN boiler b ON l.line = b.line
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,
    // winnowing replayed in SQL: k-gram polynomial hashes (the
    // text_fingerprint fold over each substring), window minima via
    // list_min over list_slice, sorted distinct selection
    // the packing oracle is the PLAIN single-window prefix sum — the
    // two-level bucketing must be result-invisible (the salted-agg /
    // kmv / stratumRank contract)
    // same (count DESC, word) rank, same 4096-head bound, same
    // integer threshold test
    "text_zipf_coverage" ->
      """WITH wds AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |cnt AS (SELECT w, COUNT(*) AS c FROM wds WHERE length(w) > 0 GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
        |head AS (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 4096),
        |r AS (SELECT w, c,
        |        CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rnk,
        |        CAST(SUM(c) OVER (ORDER BY c DESC, w) AS BIGINT) AS cum
        |      FROM head),
        |x AS (SELECT t.t AS threshold_permille, r.rnk, r.cum, tot.total
        |      FROM r, tot, (VALUES (500), (900), (990)) AS t(t)
        |      WHERE r.cum * 1000 >= t.t * tot.total)
        |SELECT CAST(threshold_permille AS BIGINT) AS threshold_permille,
        |  CAST(min(rnk) AS BIGINT) AS n_words,
        |  CAST(min_by(cum, rnk) AS BIGINT) AS covered_tokens,
        |  CAST(max(total) AS BIGINT) AS total_tokens
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same multiplicative hash, then the naive per-shard
    // row_number the hash-bucketed two-level rank reproduces exactly
    "text_shard_assign" ->
      s"""WITH h AS (SELECT doc_id,
         |  ((doc_id % ${TextAnalysis.SampleHashP}) * ${TextAnalysis.SampleHashA})
         |    % ${TextAnalysis.SampleHashP} AS hh FROM documents),
         |s AS (SELECT doc_id, hh, CAST(hh % $NumShards AS BIGINT) AS shard FROM h)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS BIGINT) AS pos
         |FROM s ORDER BY shard, pos""".stripMargin,
    // naive single-window rank + grouped padding arithmetic
    "text_length_batching" ->
      s"""WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
         |       FROM documents),
         |b AS (SELECT doc_id, n_toks, n_toks // $LenBucketWidth AS len_bucket FROM t),
         |r AS (SELECT doc_id, n_toks, len_bucket,
         |        row_number() OVER (PARTITION BY len_bucket ORDER BY doc_id) AS r FROM b),
         |g AS (SELECT len_bucket, CAST((r - 1) // $LenBatchSize AS BIGINT) AS batch_id,
         |        COUNT(*) AS n_docs, max(n_toks) AS max_toks,
         |        CAST(SUM(n_toks) AS BIGINT) AS sum_toks
         |      FROM r GROUP BY 1, 2)
         |SELECT len_bucket, batch_id, n_docs, max_toks, sum_toks,
         |  CAST((1000 * (n_docs * max_toks - sum_toks))
         |    // greatest(n_docs * max_toks, 1) AS BIGINT) AS padding_permille
         |FROM g ORDER BY len_bucket, batch_id""".stripMargin,
    // the naive single-window formulation of the two-level span
    // substrate, then the same integer dart test (`//` = Spark DIV on
    // the non-negative spans)
    "text_pps_sample" ->
      s"""WITH t AS (SELECT lang, doc_id,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
         |c AS (SELECT lang, doc_id, tok,
         |        CAST(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS e FROM t)
         |SELECT lang, doc_id, tok AS n_toks,
         |  CAST((e // $PpsStep) - ((e - tok) // $PpsStep) AS BIGINT) AS n_picks
         |FROM c WHERE (e // $PpsStep) > ((e - tok) // $PpsStep)
         |ORDER BY lang, doc_id""".stripMargin,
    "text_pack" ->
      s"""WITH t AS (SELECT lang, doc_id,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
         |c AS (SELECT lang, doc_id, tok,
         |        CAST(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS e FROM t),
         |s AS (SELECT lang, doc_id, tok, e - tok AS st, e FROM c WHERE tok > 0),
         |x AS (SELECT lang, doc_id, st, e,
         |        unnest(generate_series(st // $PackBudget, (e - 1) // $PackBudget)) AS seq_id
         |      FROM s)
         |SELECT lang, seq_id, doc_id,
         |  CAST(greatest(st, seq_id * $PackBudget) - seq_id * $PackBudget AS BIGINT) AS seq_off,
         |  CAST(least(e, (seq_id + 1) * $PackBudget) - greatest(st, seq_id * $PackBudget) AS BIGINT) AS n_toks
         |FROM x ORDER BY 1, 2, 3""".stripMargin,
    "text_winnow" ->
      s"""WITH g AS (SELECT doc_id,
         |  list_transform(generate_series(1, length(text) - ${WinnowK - 1}),
         |    i -> list_reduce(list_transform(generate_series(i, i + ${WinnowK - 1}),
         |           j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
         |         (a, b) -> (a * 31 + b) % ${graft.functions.TextOps.FingerprintMod})) AS h
         |  FROM documents),
         |sel AS (SELECT doc_id,
         |  CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[]) ELSE
         |    list_sort(list_distinct(list_transform(
         |      generate_series(1, greatest(1, len(h) - ${WinnowW - 1})),
         |      i -> list_min(list_slice(h, i, least(i + ${WinnowW - 1}, len(h)))))))
         |  END AS s FROM g)
         |SELECT doc_id, CAST(len(s) AS INTEGER) AS n_selected,
         |  CAST(coalesce(list_sum(s), 0) AS BIGINT) AS fp_sum,
         |  CAST(coalesce(list_min(s), 0) AS BIGINT) AS fp_min
         |FROM sel ORDER BY doc_id""".stripMargin,
    // per-row chunk windows: list_slice is 1-based INCLUSIVE (Spark's
    // slice is (start, length)); the chunk fingerprint is the same
    // mod-P character fold as text_fingerprint
    "text_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |c AS (SELECT doc_id, w,
         |        unnest(generate_series(0, CAST((len(w) + ${ChunkWords - 1}) // $ChunkWords AS BIGINT) - 1)) AS chunk_id
         |      FROM t),
         |s AS (SELECT doc_id, chunk_id,
         |        least($ChunkWords, len(w) - chunk_id * $ChunkWords) AS n_words,
         |        array_to_string(list_slice(w, chunk_id * $ChunkWords + 1,
         |          least((chunk_id + 1) * $ChunkWords, len(w))), ' ') AS ct
         |      FROM c)
         |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
         |  CAST(n_words AS INTEGER) AS n_words,
         |  CASE WHEN length(ct) = 0 THEN 0 ELSE list_reduce(
         |    list_transform(generate_series(1, length(ct)),
         |                   i -> CAST(ascii(substr(ct, i, 1)) AS BIGINT)),
         |    (a, b) -> (a * 31 + b) % ${graft.functions.TextOps.FingerprintMod}) END AS chunk_fp
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    // the overlapping-window twin: start = chunk_id * stride, window
    // width OverlapWindow, nChunks = ceil(n / stride)
    "text_chunks_overlap" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |c AS (SELECT doc_id, w,
         |        unnest(generate_series(0, CAST((len(w) + ${OverlapStride - 1}) // $OverlapStride AS BIGINT) - 1)) AS chunk_id
         |      FROM t),
         |s AS (SELECT doc_id, chunk_id, chunk_id * $OverlapStride AS start_word,
         |        least($OverlapWindow, len(w) - chunk_id * $OverlapStride) AS n_words,
         |        array_to_string(list_slice(w, chunk_id * $OverlapStride + 1,
         |          least(chunk_id * $OverlapStride + $OverlapWindow, len(w))), ' ') AS ct
         |      FROM c)
         |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
         |  CAST(start_word AS INTEGER) AS start_word,
         |  CAST(n_words AS INTEGER) AS n_words,
         |  CASE WHEN length(ct) = 0 THEN 0 ELSE list_reduce(
         |    list_transform(generate_series(1, length(ct)),
         |                   i -> CAST(ascii(substr(ct, i, 1)) AS BIGINT)),
         |    (a, b) -> (a * 31 + b) % ${graft.functions.TextOps.FingerprintMod}) END AS chunk_fp
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    // the bigram MULTISET rebuilt by unnest + group-by (the oracle may
    // shuffle; the operator must not): counts exact, fractions one
    // double division each
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |                i -> w[i] || ' ' || w[i+1])) AS g FROM t),
        |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |ga AS (SELECT doc_id, SUM(c) AS total_bg, COUNT(*) AS distinct_bg,
        |         MAX(c) AS max_bg FROM gc GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(len(w) AS INTEGER) AS n_words,
        |  round(CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS dup_word_frac,
        |  CAST(coalesce(ga.total_bg, 0) AS INTEGER) AS n_bigrams,
        |  CAST(coalesce(ga.max_bg, 0) AS BIGINT) AS max_bigram_freq,
        |  round(CASE WHEN coalesce(ga.total_bg, 0) > 0
        |        THEN CAST(ga.total_bg - ga.distinct_bg AS DOUBLE) / ga.total_bg
        |        ELSE 0.0 END, 6) AS dup_bigram_frac
        |FROM t LEFT JOIN ga ON ga.doc_id = t.doc_id ORDER BY t.doc_id""".stripMargin,
    "text_mix_sample" ->
      s"""SELECT lang, doc_id FROM documents
         |WHERE (((doc_id % ${TextAnalysis.SampleHashP} + ${TextAnalysis.SampleHashP})
         |        % ${TextAnalysis.SampleHashP}) * ${TextAnalysis.SampleHashA}
         |       % ${TextAnalysis.SampleHashP}) % 10000 < $mixRateCaseSql
         |ORDER BY lang, doc_id""".stripMargin,
    "text_tokens" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |  CAST(len(w) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS INTEGER) AS n_distinct,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  round(CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w), 6) AS avg_word_len
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_tokens_bpe" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(w) AS INTEGER) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')) AS INTEGER) AS n_bpe_tokens,
         |  round(CAST(len(w) AS DOUBLE) /
         |        len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')), 6) AS ws_per_bpe
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
         |f AS (SELECT doc_id,
         |  CAST(len(w) AS INTEGER) AS n_tokens,
         |  CAST(len(list_filter(w, x -> x IN ${inList(TextAnalysis.EnStopwords)})) AS DOUBLE) / len(w) AS stop_ratio,
         |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
         |  CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) AS avg_len
         |FROM t)
         |SELECT doc_id, n_tokens, round(stop_ratio, 6) AS stop_ratio,
         |  round(punct_ratio, 6) AS punct_ratio,
         |  round(stop_ratio * 0.3 + (1.0 - punct_ratio) * 0.4 + least(avg_len / 10.0, 1.0) * 0.3, 6) AS score
         |FROM f ORDER BY doc_id""".stripMargin,
    // same ranked-vote CTE as text_langid, joined to the label and
    // reduced to the langs^2 matrix with integer row-permille
    "text_lang_confusion" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS ($langScoresSql),
         |r AS (SELECT doc_id, lang AS predicted_lang FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |  FROM s) WHERE rn = 1),
         |j AS (SELECT d.lang AS label_lang, r.predicted_lang,
         |        CAST(COUNT(*) AS BIGINT) AS n
         |      FROM r JOIN documents d USING (doc_id) GROUP BY 1, 2)
         |SELECT label_lang, predicted_lang, n,
         |  CAST((1000 * n) // (SUM(n) OVER (PARTITION BY label_lang)) AS BIGINT) AS row_permille
         |FROM j ORDER BY label_lang, predicted_lang""".stripMargin,
    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS ($langScoresSql),
         |r AS (SELECT doc_id, lang, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM s)
         |SELECT doc_id, lang AS predicted_lang, round(score, 6) AS score
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  CASE WHEN length(text) = 0 THEN 0
         |       ELSE list_reduce(
         |         list_transform(generate_series(1, length(text)),
         |                        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
         |         (a, b) -> (a * 31 + b) % ${graft.functions.TextOps.FingerprintMod})
         |  END AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    // distinct-per-doc bigrams (the shingle contract), so the ref
    // count is DOCUMENT frequency; top-200 under a total order
    // one generate_series per offset d in 1..4, unioned — the same
    // shifted-zip pair generation as the per-row Spark HOFs
    "text_skipgram_counts" ->
      """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
        |occ AS (
        |  SELECT unnest(list_transform(generate_series(1, len(w) - t.d),
        |           i -> w[i] || ' ' || w[i + t.d])) AS pair
        |  FROM d, (SELECT unnest(generate_series(1, 4)) AS d) t),
        |c AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM occ GROUP BY 1),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY n DESC, pair) AS INTEGER) AS rank,
        |        pair, n FROM c)
        |SELECT rank, pair, n FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,
    "text_collocations" ->
      """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
        |occ AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1])) AS bg FROM d),
        |c2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_bg FROM occ
        |       GROUP BY 1 HAVING COUNT(*) >= 5),
        |c1 AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_w FROM (
        |        SELECT unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY 1),
        |j AS (SELECT c2.bg, c2.n_bg, a.n_w AS n_w1, b.n_w AS n_w2,
        |        CAST((2000 * c2.n_bg) // (a.n_w + b.n_w) AS BIGINT) AS dice_permille
        |      FROM c2 JOIN c1 a ON a.t = string_split(c2.bg, ' ')[1]
        |              JOIN c1 b ON b.t = string_split(c2.bg, ' ')[2]),
        |r AS (SELECT CAST(row_number() OVER (
        |        ORDER BY dice_permille DESC, n_bg DESC, bg) AS INTEGER) AS rank,
        |        bg, n_bg, n_w1, n_w2, dice_permille FROM j)
        |SELECT rank, bg, n_bg, n_w1, n_w2, dice_permille
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,
    "text_bigram_coverage" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |b0 AS (SELECT DISTINCT doc_id, lang, s FROM (
        |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1])) AS s FROM d)),
        |ref AS (SELECT s FROM b0 WHERE lang = 'en'
        |        GROUP BY s ORDER BY COUNT(*) DESC, s LIMIT 200)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN s IN (SELECT s FROM ref) THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  CAST((1000 * SUM(CASE WHEN s IN (SELECT s FROM ref) THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS coverage_permille
        |FROM b0 GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // hashed bag-of-words k-means END TO END: dense vector assembly
    // (grid LEFT JOIN + list(x ORDER BY i)), first-k init, the SAME
    // exact-decimal Lloyd CTE generator the proven kmeans_fit_native
    // oracle uses, final-center argmin assignment (ties cid ASC), and
    // the k·langs report
    "text_topic_clusters" -> (topicAsgCtes +
      s""",
         |bl AS (SELECT asg.cid, d.lang, COUNT(*) AS n
         |       FROM asg JOIN documents d ON d.doc_id = asg.vec_id GROUP BY 1, 2),
         |tp AS (SELECT cid, lang, n,
         |       row_number() OVER (PARTITION BY cid ORDER BY n DESC, lang) AS rn FROM bl),
         |sz AS (SELECT cid, CAST(SUM(n) AS BIGINT) AS n_docs FROM bl GROUP BY 1)
         |SELECT CAST(sz.cid AS INTEGER) AS cluster_id, sz.n_docs,
         |  tp.lang AS top_lang, CAST(tp.n AS BIGINT) AS top_lang_docs
         |FROM sz JOIN tp ON tp.cid = sz.cid AND tp.rn = 1 ORDER BY 1""".stripMargin),
    // the shared topic CTEs + token-occurrence lift: within-cluster
    // rate over corpus rate in integer permille, rank (lift DESC,
    // token) per cluster, in-cluster count >= minCount
    "text_topic_keywords" -> (topicAsgCtes +
      s""",
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |ckt AS (SELECT asg.cid, tok.w, COUNT(*) AS c_kt
         |        FROM tok JOIN asg ON asg.vec_id = tok.doc_id GROUP BY 1, 2),
         |nk AS (SELECT cid, CAST(SUM(c_kt) AS BIGINT) AS n_k FROM ckt GROUP BY 1),
         |ctw AS (SELECT w, CAST(SUM(c_kt) AS BIGINT) AS c_t FROM ckt GROUP BY 1),
         |ttl AS (SELECT CAST(SUM(c_t) AS BIGINT) AS tt FROM ctw),
         |sc AS (SELECT ckt.cid, ckt.w, ckt.c_kt, ctw.c_t,
         |       CAST((ckt.c_kt * 1000 * ttl.tt) // (nk.n_k * ctw.c_t) AS BIGINT) AS lift_permille
         |       FROM ckt JOIN nk USING (cid) JOIN ctw USING (w) CROSS JOIN ttl
         |       WHERE ckt.c_kt >= ${KeywordMinCount}),
         |rk AS (SELECT cid, w, c_kt, c_t, lift_permille,
         |       row_number() OVER (PARTITION BY cid ORDER BY lift_permille DESC, w) AS rank
         |       FROM sc)
         |SELECT CAST(cid AS INTEGER) AS cluster_id, CAST(rank AS INTEGER) AS rank,
         |  w AS token, CAST(c_kt AS BIGINT) AS n_in_cluster,
         |  c_t AS n_in_corpus, lift_permille
         |FROM rk WHERE rank <= ${KeywordTopM} ORDER BY cluster_id, rank""".stripMargin),
    // distinct (source, 5-gram) set; first-source attribution by
    // min(source) — SET semantics, so the operator's per-doc distinct
    // shingles and the oracle's occurrence unnest agree after DISTINCT
    "text_novelty_curve" ->
      """WITH sg AS (SELECT DISTINCT source, s AS g FROM (
        |  SELECT source, unnest(list_transform(generate_series(1, len(w) - 4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
        |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
        |f AS (SELECT g, min(source) AS source FROM sg GROUP BY 1),
        |nv AS (SELECT source, COUNT(*) AS n_novel FROM f GROUP BY 1),
        |tt AS (SELECT source, COUNT(*) AS n_distinct_grams FROM sg GROUP BY 1)
        |SELECT tt.source, CAST(tt.n_distinct_grams AS BIGINT) AS n_distinct_grams,
        |  CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
        |  CAST((1000 * coalesce(nv.n_novel, 0)) // tt.n_distinct_grams AS BIGINT) AS novelty_permille,
        |  CAST(SUM(coalesce(nv.n_novel, 0)) OVER (ORDER BY tt.source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_distinct
        |FROM tt LEFT JOIN nv ON nv.source = tt.source ORDER BY tt.source""".stripMargin,
    // the novelty CTE's distinct (source, gram) stream; the oracle's
    // gram-keyed self-join is the pairwise formulation the Spark
    // operator deliberately avoids (per-gram source SET instead) —
    // equal because both count distinct shared grams per pair
    "text_source_overlap" ->
      """WITH sg AS (SELECT DISTINCT source, s AS g FROM (
        |  SELECT source, unnest(list_transform(generate_series(1, len(w) - 4),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS s
        |  FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
        |tot AS (SELECT source, COUNT(*) AS c FROM sg GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
        |      FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
        |SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST((1000 * n_shared) // ta.c AS BIGINT) AS shared_permille_a,
        |  CAST((1000 * n_shared) // tb.c AS BIGINT) AS shared_permille_b
        |FROM p JOIN tot ta ON ta.source = p.source_a
        |JOIN tot tb ON tb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    // BPE training replayed round by round — the kmeans_fit_native
    // unrolled-iteration precedent: v0 symbolizes the vocabulary
    // per-character; each round's CTE pair (pR, vR) picks the argmax
    // adjacent pair (count DESC, pair ASC) and rewrites every word
    // with the string-accumulator fold list_reduce — equivalent to
    // the compiled greedy kernel because a freshly merged a||b can
    // never equal a (b non-empty), so the trailing-token test IS the
    // scan-and-consume greedy walk. MATERIALIZED throughout: vR is
    // referenced by both pR+1 and vR+1.
    "text_bpe_merges" -> bpeOracleSql(BpeMergeRounds),
    // same training chain, then the per-language encode report
    "text_bpe_encode" -> bpeEncodeOracleSql(BpeMergeRounds),
    // hashed-feature DSIR: the SAME mod-P char fold as
    // text_fingerprint buckets every unigram+bigram occurrence; the
    // bucket score is floor(1e6·(u/v)) with the two Laplace rates and
    // the ratio in PINNED IEEE op order (two divisions, one multiply
    // — each correctly rounded, so the floor matches Spark bit-exact)
    "text_dsir_weights" ->
      s"""WITH d AS (SELECT doc_id, lang = 'en' AS is_t, string_split(text, ' ') AS w FROM documents),
         |occ AS (
         |  SELECT doc_id, is_t, unnest(w) AS f FROM d
         |  UNION ALL
         |  SELECT doc_id, is_t, unnest(list_transform(generate_series(1, len(w) - 1),
         |         i -> w[i] || ' ' || w[i+1])) AS f FROM d),
         |ob AS (SELECT doc_id, is_t,
         |  list_reduce(list_transform(generate_series(1, length(f)),
         |      i -> CAST(ascii(substr(f, i, 1)) AS BIGINT)),
         |    (a, b) -> (a * 31 + b) % ${graft.functions.TextOps.FingerprintMod}) % $DsirBuckets AS bucket FROM occ),
         |bs AS (SELECT bucket, COUNT(*) AS c_r,
         |       SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t FROM ob GROUP BY 1),
         |tot AS (SELECT SUM(c_r) AS n_r, SUM(c_t) AS n_t FROM bs),
         |bw AS (SELECT bucket, CAST(floor(1e6 * (
         |    ((c_t + 1)::DOUBLE / (n_t + $DsirBuckets)::DOUBLE) /
         |    ((c_r + 1)::DOUBLE / (n_r + $DsirBuckets)::DOUBLE))) AS BIGINT) AS s
         |  FROM bs CROSS JOIN tot),
         |dw AS (SELECT ob.doc_id, COUNT(*) AS n_features,
         |       CAST(SUM(bw.s) AS BIGINT) AS weight_micros
         |       FROM ob JOIN bw USING (bucket) GROUP BY 1),
         |r AS (SELECT CAST(row_number() OVER (ORDER BY weight_micros DESC, doc_id) AS INTEGER) AS rank,
         |      doc_id, n_features, weight_micros FROM dw)
         |SELECT rank, doc_id, n_features, weight_micros
         |FROM r WHERE rank <= $DsirTopK ORDER BY rank""".stripMargin,
    // all-substrings direct form — equals the operator's fp-nominate +
    // substring-verify cascade exactly (equal substrings hash equally,
    // so nomination has no false negatives; the verify recount is on
    // the substring itself)
    "text_repeated_spans" ->
      s"""WITH g AS (SELECT doc_id, i - 1 AS pos, substr(text, i, $RepSpanGram) AS sub
         |      FROM (SELECT doc_id, text,
         |            unnest(generate_series(1, length(text) - $RepSpanGram + 1)) AS i FROM documents)),
         |v AS (SELECT doc_id, pos FROM (
         |      SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY sub) AS c FROM g) WHERE c > 1),
         |i AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER w IS NULL
         |        OR pos > lag(pos) OVER w + $RepSpanGram THEN 1 ELSE 0 END AS nw
         |      FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |s AS (SELECT doc_id, pos, SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i),
         |sp AS (SELECT doc_id, island, MIN(pos) AS st, MAX(pos) + $RepSpanGram AS en,
         |       COUNT(*) AS ng FROM s GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(ng) AS BIGINT) AS n_rep_grams,
         |  CAST(COUNT(*) AS BIGINT) AS n_spans,
         |  CAST(SUM(en - st) AS BIGINT) AS covered_chars,
         |  CAST(MAX(en - st) AS BIGINT) AS max_span_chars
         |FROM sp GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // the sampled twin replayed literally: rolling gram hashes (the
    // text_winnow refold, k=25), window-min position selection (ALL
    // achieving positions per window — value rules), then the same
    // substring-verify + island cascade over SELECTED positions with
    // the widened gap k + w - 1
    "text_repeated_spans_sampled" ->
      s"""WITH g AS (SELECT doc_id, text,
         |  list_transform(generate_series(1, length(text) - ${RepSpanGram - 1}),
         |    i -> list_reduce(list_transform(generate_series(i, i + ${RepSpanGram - 1}),
         |           j -> CAST(ascii(substr(text, j, 1)) AS BIGINT)),
         |         (a, b) -> (a * 31 + b) % ${graft.functions.TextOps.FingerprintMod})) AS h
         |  FROM documents),
         |wn AS (SELECT doc_id, text, h,
         |       unnest(generate_series(1, greatest(1, len(h) - ${RepSpanWindow - 1}))) AS i
         |       FROM g WHERE len(h) > 0),
         |wm AS (SELECT doc_id, text, h, i,
         |       list_min(list_slice(h, i, least(i + ${RepSpanWindow - 1}, len(h)))) AS m FROM wn),
         |selp AS (SELECT DISTINCT doc_id, text, j FROM (
         |         SELECT doc_id, text, h, m,
         |                unnest(generate_series(i, least(i + ${RepSpanWindow - 1}, len(h)))) AS j FROM wm)
         |         WHERE h[j] = m),
         |cand AS (SELECT doc_id, j - 1 AS pos, substr(text, j, $RepSpanGram) AS sub FROM selp),
         |v AS (SELECT doc_id, pos FROM (
         |      SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY sub) AS c FROM cand) WHERE c > 1),
         |i2 AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER w IS NULL
         |        OR pos > lag(pos) OVER w + ${RepSpanGram + RepSpanWindow - 1} THEN 1 ELSE 0 END AS nw
         |      FROM v WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |s2 AS (SELECT doc_id, pos, SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM i2),
         |sp AS (SELECT doc_id, island, MIN(pos) AS st, MAX(pos) + $RepSpanGram AS en,
         |       COUNT(*) AS ng FROM s2 GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(ng) AS BIGINT) AS n_rep_grams,
         |  CAST(COUNT(*) AS BIGINT) AS n_spans,
         |  CAST(SUM(en - st) AS BIGINT) AS covered_chars,
         |  CAST(MAX(en - st) AS BIGINT) AS max_span_chars
         |FROM sp GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // ALL bigram occurrences (not the distinct-shingle contract) —
    // the LM counts multiplicity; every aggregate/DIV output CAST
    // (uncast SUM + // bind HUGEINT — the OracleTypesSpec ban)
    // the naive NTILE formulation — what the funnel-free two-level
    // rank + arithmetic bucket must reproduce exactly
    "text_quality_buckets" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |occ AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
         |          i -> w[i] || ' ' || w[i+1])) AS bg FROM d),
         |o2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM occ),
         |c2 AS (SELECT bg, COUNT(*) AS c_bg FROM o2 GROUP BY 1),
         |c1 AS (SELECT t, COUNT(*) AS c_w1 FROM (
         |        SELECT unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY 1),
         |sc AS (SELECT o.doc_id, (1000 * c2.c_bg) // c1.c_w1 AS p
         |       FROM o2 o JOIN c2 USING (bg) JOIN c1 ON c1.t = o.w1),
         |lm AS (SELECT doc_id, CAST(SUM(p) // COUNT(*) AS BIGINT) AS lm_score_permille
         |       FROM sc GROUP BY 1),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS ($langScoresSql),
         |lr AS (SELECT doc_id, lang, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM s),
         |j AS (SELECT lm.doc_id, lr.lang, lm.lm_score_permille
         |      FROM lm JOIN lr ON lr.doc_id = lm.doc_id AND lr.rn = 1),
         |b AS (SELECT lang, lm_score_permille,
         |  CAST(NTILE(3) OVER (PARTITION BY lang
         |    ORDER BY lm_score_permille, doc_id) AS BIGINT) AS bucket FROM j)
         |SELECT lang, bucket, COUNT(*) AS n_docs,
         |  MIN(lm_score_permille) AS min_permille,
         |  MAX(lm_score_permille) AS max_permille
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the in-corpus LM oracle with TRAIN counts restricted to the
    // English reference stratum, LEFT joins and 0-probability OOV —
    // the held-out scorer replayed
    "text_lm_heldout_score" ->
      """WITH tr AS (SELECT string_split(text, ' ') AS w FROM documents WHERE lang = 'en'),
        |tocc AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1])) AS bg FROM tr),
        |c2 AS (SELECT bg, COUNT(*) AS c_bg FROM tocc GROUP BY 1),
        |c1 AS (SELECT t, COUNT(*) AS c_w1 FROM (
        |        SELECT unnest(w) AS t FROM tr) GROUP BY 1),
        |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |occ AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1])) AS bg FROM d),
        |o2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM occ),
        |sc AS (SELECT o.doc_id,
        |       CASE WHEN c1.c_w1 IS NULL OR c1.c_w1 = 0 THEN 0
        |            ELSE (1000 * coalesce(c2.c_bg, 0)) // c1.c_w1 END AS p
        |       FROM o2 o LEFT JOIN c2 USING (bg) LEFT JOIN c1 ON c1.t = o.w1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(p) // COUNT(*) AS BIGINT) AS lm_score_permille
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "text_bigram_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |occ AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1])) AS bg FROM d),
        |o2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM occ),
        |c2 AS (SELECT bg, COUNT(*) AS c_bg FROM o2 GROUP BY 1),
        |c1 AS (SELECT t, COUNT(*) AS c_w1 FROM (
        |        SELECT unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY 1),
        |sc AS (SELECT o.doc_id, (1000 * c2.c_bg) // c1.c_w1 AS p
        |       FROM o2 o JOIN c2 USING (bg) JOIN c1 ON c1.t = o.w1)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(p) // COUNT(*) AS BIGINT) AS lm_score_permille
        |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "text_corpus_stats" ->
      """SELECT lang, source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_vocab" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
        |FROM w GROUP BY 1
        |ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin,
    "text_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang,
        |             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |           FROM documents)
        |SELECT lang, doc_id FROM r WHERE (rn - 1) % 10 = 0
        |ORDER BY lang, doc_id""".stripMargin,
    // (doc_id % P + P) % P mirrors Spark's pmod for NEGATIVE ids too —
    // DuckDB's % is sign-preserving, so the naive doc_id % P would
    // diverge from pmod on any corpus with negative ids.
    "text_sample_hashmod" ->
      s"""SELECT lang, doc_id FROM documents
         |WHERE (((doc_id % ${TextAnalysis.SampleHashP} + ${TextAnalysis.SampleHashP})
         |        % ${TextAnalysis.SampleHashP}) * ${TextAnalysis.SampleHashA}
         |       % ${TextAnalysis.SampleHashP}) % 10 = 0
         |ORDER BY lang, doc_id""".stripMargin,
    // tf·N/df (not ln): one correctly-rounded double division from
    // integer inputs — bit-identical across engines, unlike libm ln
    // the same ln-free rational BM25 as the Spark side: every operand
    // BIGINT, each factor one double division, per-term scores floored
    // to integer micros before the (exact, order-independent) doc sum
    "text_bm25_topk" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |              CAST(SUM(dl) AS BIGINT) AS sumdl FROM dl),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(w) AS token FROM tok)
         |       WHERE token IN ${inList(Bm25Terms)} GROUP BY 1, 2),
         |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id,
         |         CAST(FLOOR(
         |           (CAST(2 * (st.n - dfx.df) + 1 AS DOUBLE) / (2 * dfx.df + 1)) *
         |           (CAST(44 * tf.tf * st.sumdl AS DOUBLE) /
         |            (20 * tf.tf * st.sumdl + 6 * st.sumdl + 18 * dl.dl * st.n)) *
         |           1000000.0) AS BIGINT) AS score_micros
         |       FROM tf JOIN dfx ON tf.token = dfx.token
         |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
         |pd AS (SELECT doc_id, CAST(SUM(score_micros) AS BIGINT) AS bm25_micros,
         |              CAST(COUNT(*) AS BIGINT) AS n_terms
         |       FROM sc GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY bm25_micros DESC, doc_id) AS INTEGER) AS rank,
         |       doc_id, n_terms, bm25_micros
         |FROM pd ORDER BY bm25_micros DESC, doc_id LIMIT 50""".stripMargin,
    // per-query BM25: same rational CTEs as text_bm25_topk, the query
    // table inlined as VALUES, df corpus-wide (query-independent),
    // rank partitioned by query_id
    "text_bm25_querytable" -> {
      val qtRows = Bm25QueryTable
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
      s"""WITH qt(query_id, token) AS (SELECT * FROM (VALUES $qtRows)),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |              CAST(SUM(dl) AS BIGINT) AS sumdl FROM dl),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(w) AS token FROM tok)
         |       WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1, 2),
         |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.token,
         |         CAST(FLOOR(
         |           (CAST(2 * (st.n - dfx.df) + 1 AS DOUBLE) / (2 * dfx.df + 1)) *
         |           (CAST(44 * tf.tf * st.sumdl AS DOUBLE) /
         |            (20 * tf.tf * st.sumdl + 6 * st.sumdl + 18 * dl.dl * st.n)) *
         |           1000000.0) AS BIGINT) AS score_micros
         |       FROM tf JOIN dfx ON tf.token = dfx.token
         |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st),
         |pq AS (SELECT q.query_id, sc.doc_id,
         |              CAST(SUM(sc.score_micros) AS BIGINT) AS bm25_micros,
         |              CAST(COUNT(*) AS BIGINT) AS n_terms
         |       FROM sc JOIN qt q ON sc.token = q.token GROUP BY 1, 2),
         |r AS (SELECT CAST(query_id AS INTEGER) AS query_id,
         |        CAST(row_number() OVER (PARTITION BY query_id
         |             ORDER BY bm25_micros DESC, doc_id) AS INTEGER) AS rank,
         |        doc_id, n_terms, bm25_micros
         |      FROM pq)
         |SELECT query_id, rank, doc_id, n_terms, bm25_micros
         |FROM r WHERE rank <= 20 ORDER BY query_id, rank""".stripMargin
    },
    "text_tfidf_top_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.token, tf.tf,
        |        CAST(tf.tf * n.n AS DOUBLE) / dfx.df AS score
        |      FROM tf JOIN dfx ON tf.token = dfx.token CROSS JOIN n),
        |r AS (SELECT doc_id, token, tf, score,
        |        CAST(row_number() OVER (PARTITION BY doc_id
        |             ORDER BY score DESC, token) AS INTEGER) AS rank
        |      FROM s)
        |SELECT doc_id, rank, token, tf, round(score, 6) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "sql_word_shingles" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_distinct(list_transform(generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS INTEGER) AS n_shingles
        |FROM docs ORDER BY doc_id""".stripMargin)
}
