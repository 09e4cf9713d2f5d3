package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

/** In-memory scale exercise: synthesize a multi-split dataset 10-100x
  * sf0.1 under `target/scaledata`, then time the board's most expensive
  * queries against it once — the committed evidence behind SURVEY §8's
  * "would the plan survive a scale-up" claim (previously argued from
  * plan shape alone).
  *
  * Replication preserves key semantics instead of duplicating rows
  * verbatim: join/group keys shift per copy (key universes scale with
  * the data, per-key densities stay constant), document text gets a
  * per-copy suffix (copies become NEAR-duplicates — LSH banding does
  * real work instead of collapsing 100-sized exact-dup buckets), and
  * embeddings get a per-copy additive shift (top-k has no 100-way
  * ties). Scaled tables are written as 32-split parquet so scans
  * parallelize at the source like any real multi-file table.
  *
  * Usage: `sbt 'runMain graft.ScaleProbe'` — env knobs:
  * SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
  * (default 32), SPARK_GRAFT_SCALE_OUT (default target/scaledata),
  * SPARK_GRAFT_SCALE_QUERIES (comma list), SPARK_GRAFT_SCALE_REBUILD=1
  * to force a rebuild. JSON result line to target/scaleprobe.json.
  *
  * Run the full probe with `SPARK_DRIVER_MEM=24g`: the uncapped
  * dedup_near/dedup_clusters pair enumerates ~25M genuine pairs at the
  * adversarial 100x fixture and completes at the default 8g only via
  * the spill path (measured: 196 s at 24g, 245 s at 8g with
  * page-allocation retries — and the round-13 probe session died here
  * under external memory pressure, load 25+ on the host). A probe
  * failure now persists its exception class+message into the
  * artifact's `errors`, and a dead SparkContext sets `crashed: true`
  * and lists the unprobed queries in `skipped` instead of timing
  * failures against a dead session.
  */
object ScaleProbe {

  /** (table, copies): sized so every scaled table lands at 10-100x sf0.1
    * while the whole set stays cacheable in a 128 GiB local heap. */
  val factors: Seq[(String, Int)] = Seq(
    "lineitem" -> 10, "orders" -> 10, "events" -> 50,
    "documents" -> 100, "embeddings" -> 20)

  /** Small dims copied verbatim. */
  val verbatim: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part")

  val defaultQueries: Seq[String] = Seq(
    "profile_counts", "profile_moments", "cardinality", "merge_profiles",
    "drift_ks_exact", "viz_summary_report",
    "dedup_exact", "dedup_near", "dedup_clusters", "dedup_near_capped",
    "dedup_keep_best", "dedup_paragraphs_counts", "dedup_apply",
    "dedup_bloom", "dedup_bloom_sharded", "bm25_top_docs",
    "audio_stats", "corpus_shards", "video_frame_dhash",
    "corpus_shuffle", "text_entropy",
    "quality_classifier_score", "trigram_lm_score", "backoff_lm_score",
    "corpus_ngrams", "corpus_pipeline", "embedding_topk",
    "events_sessionize", "events_funnel", "sliding_window_profile",
    "semdedup_clustered", "semdedup_auto", "streaming_dedup",
    "streaming_dedup_store", "streaming_sessionize", "streaming_heavy_hitters",
    // round-14b audit/comparison families — lineitem x10, documents x100,
    // events x50 paths through each new module
    "referential_integrity", "benford_digits", "mad_outliers",
    "segment_quantiles", "corpus_diff", "containment_minhash",
    "embedding_class_separation", "streaming_ref_integrity",
    // round-14c: heap-cut class keywords over the 100x corpus
    // (cluster_safe_split is NOT probed separately: its scale path IS
    // dedup_clusters' probed clustering plus one bounded left join)
    "class_tfidf",
    // round-14d: trainable classifiers/regressors + compressed ANN +
    // skew preflight at 100x (pagerank_neardups is NOT probed via the
    // registry query — its uncapped pair graph is the output-bound
    // quadratic family; the Graph iterations are probed over capped
    // pairs in extraProbes)
    "nb_lang_score", "ols_doc_length", "key_skew_report",
    "embedding_sq8_topk", "bpe_pair_stats",
    "class_chi2_keywords", "calibration_report", "bpe_train_merges",
    // round-14e (dedup_cluster_histogram is NOT probed separately: its
    // scale path IS dedup_clusters' probed clustering plus a bounded
    // histogram rollup)
    "normalize_nfc", "l_diversity", "attribution_last_touch",
    "streaming_nb_score", "bpe_encode", "quantile_bins", "target_encoding",
    "join_cardinality", "robust_scale", "percent_ranks", "streaming_ann",
    // round-15: HTML extraction over the 100x corpus (page build +
    // block explode + per-doc window), fixed-point k-means (3
    // iterations x one histogram exchange over 20x embeddings),
    // native BPE encode (trains the same 3 merges, then the
    // reference-object encoder). The stump-training family
    // (tree_stump/tree_depth2/stump_confusion) is NOT probed through
    // the registry at 6M rows: that is past the documented nL²·nR < 2⁶³
    // exactness bound — which since round 16 fails LOUDLY
    // (multiplyExact) instead of wrapping silently — so the probe runs
    // the documented at-scale recipe in extraProbes
    // (train-on-exact-subsample, score-the-full-table)
    "html_extract_text", "kmeans_train", "bpe_encode_native",
    "html_extract_inline", "range_partition_plan",
    "kmeans_assign", "bpe_fertility", "ls_boost", "ls_boost_predict",
    "feature_correlations",
    // round-16: fast BPE training (one histogram pass + driver loop)
    // over 500k docs, tokenizer-true token costing + mixture budgeting,
    // the broadcast-join k-means assign route over 20x embeddings,
    // batched percent-ranks over 6M rows, exact ROC (bounded score
    // histogram) incl. the full boost-train->score->AUC closure, and
    // windowed co-occurrence + PMI over the 100x corpus.
    // spearman_corr is NOT probed at 6M rows — past its documented
    // n^3 < 2^63 range (ANSI would overflow LOUDLY); extraProbes runs
    // the documented recipe on an exact 1-in-3 subsample
    "bpe_train_fast", "token_counts_bpe", "mixture_weights_bpe",
    "kmeans_assign_join", "percent_ranks_multi",
    "roc_auc", "roc_curve", "segmented_roc_auc", "ls_boost_auc",
    "term_cooccurrence", "drift_rank_sum", "kendall_tau",
    "feature_mutual_info", "url_canonicalize",
    // round-16b: numeric-entity decode + the full extraction chain over
    // 500k pages (map-only native pass), categorical association
    // (bounded joint histograms over 15M orders / 500k docs), DSIR
    // importance weighting + selection over 500k docs (token histograms
    // + one token-keyed join), Markov transitions over 5M events (one
    // user-keyed window + bounded matrix), the EWMA/CUSUM chart (one
    // groupBy(series, day) collapse + driver fold), split-conformal
    // intervals over 500k docs (OLS aggregate + rank-table order
    // statistic + map-only interval column), and blocked fuzzy dedup
    // over the verbatim part table (the adversarial block shape is in
    // extraProbes' fuzzy_pairs_blocked)
    "html_numeric_entities", "cramers_v", "theils_u",
    "dsir_weights", "dsir_select", "markov_transitions", "markov_top_next",
    "ewma_cusum_chart", "conformal_intervals", "conformal_coverage",
    "fuzzy_pairs", "fuzzy_dedup_apply",
    "winsorize_summary", "streaming_conformal",
    // round-16c: privacy TVD (bounded joint over 1.5M orders),
    // deterministic Poisson bootstrap (one scan, 64-way map-side
    // collapse, shuffle bytes independent of rows — 6M lineitem), A/B
    // z-test (one aggregate over 5M events)
    "t_closeness", "bootstrap_mean_ci", "ab_proportion_test",
    "mondrian_conformal", "key_concentration", "ab_cuped", "cliffs_delta",
    "bootstrap_ab_diff", "contrastive_triplets", "pack_by_bpe_cost",
    "trend_test", "streaming_fuzzy_match",
    // round-17: multi-pass blocking (two block exchanges + pair-union
    // dedup), the CAPPED stream-static fuzzy linkage (the
    // bounded-fan-out production shape; the engineered-mega-block
    // variant is extraProbes' fuzzy_match_capped_megablock), and the
    // composed IVF-PQ index over 20x embeddings (two driver-trained
    // KB codebooks, one map-only encode pass, cell-keyed ADC join,
    // bounded rerank)
    "fuzzy_pairs_multi", "streaming_fuzzy_match_capped",
    "embedding_ivfpq",
    // round-17: byte-level BPE over the 100x corpus — training is the
    // same histogram-once + driver-loop shape on the byte-pretoken
    // histogram; encoding is one map-only native scan at symWidth 2;
    // fertility joins the trained per-word symbol counts back to the
    // pretoken stream; streaming IVF-PQ probes the checkpointed code
    // table per micro-batch via foreachBatch
    "bpe_train_bytes", "bpe_encode_bytes", "bpe_fertility_bytes",
    "streaming_ivfpq", "streaming_ivfpq_ingest",
    // round-17: WARC front door over 500k synthetic 3-record files —
    // map-only parse + explode, then the extraction chain; the gz
    // variant round-trips per-record gzip members through the
    // multi-member decoder first
    "warc_parse", "warc_extract_text", "warc_gz_roundtrip",
    // round-17: domain-blocklist filter — suffix explode + broadcast
    // equality semi-join, never LIKE-per-entry
    "url_domain_filter",
    // round-18: bounded-memory WARC file ingestion (500k records
    // written as real .warc.gz files, streamed back record-by-record
    // through the binaryFile walk), the HTTP header/body split
    // composed into extraction, the persisted-then-reloaded IVF-PQ
    // search, and the byte-mode pricing siblings (count/pack/mixture
    // over the byte vocabulary — same one-scan shapes as their
    // word-mode originals)
    "warc_file_scan", "warc_http_extract", "warc_http_dechunk",
    "warc_charset_decode", "warc_file_http_extract",
    "streaming_warc_file_scan", "crawl_curation_e2e",
    "html_meta_policy", "robots_url_filter", "ivfpq_persisted_search",
    "token_counts_bpe_bytes", "pack_by_bpe_cost_bytes",
    "mixture_weights_bpe_bytes",
    // round-19: content-coding decompression through the crawl front
    // door (500k gzip-coded + chunked-gzip + br records), BOM charset
    // precedence (500k UTF-16LE + BOM'd-UTF-8 records), the corpus
    // shard sink round trip (one shard exchange + bounded sort, write
    // + read-back digest verification over the 100x corpus), and the
    // whole crawl -> curation -> verified-training-shards arc
    "warc_content_encoding", "warc_charset_bom",
    "corpus_shard_sink", "crawl_to_corpus_shards", "robots_sitemaps")

  /** Adversarial SKEW probes beyond the replicated tables: synthetic
    * corpora aimed at the exact mega-key windows the round-13 de-skews
    * closed. Each returns a row count; what's measured is that the job
    * FINISHES in bounded time with the skewed key spread across tasks
    * (the window formulations these replaced would funnel every copy
    * into one task's sort). */
  def skewProbes(spark: SparkSession): Seq[(String, () => Long)] = Seq(
    // one boilerplate paragraph repeated 1e6 times (every doc carries
    // it) + 1e6 unique paragraphs: the boilerplate hash is a single
    // corpus-wide mega-key through the election
    "skew_paragraph_1m_copies" -> (() =>
      graft.pipeline.Dedup.paragraphDedupCounts(
        spark.range(1000000L).select(F.col("id"),
          F.concat(
            F.lit("shared license header boilerplate text\nunique body "),
            F.col("id").cast("string")).as("text")),
        "text", "id").count()),
    // 200k mutually-near-identical docs: every member lands in ONE
    // connected component (the star-edge design case), so the keeper
    // election sees a single mega-cluster key
    "skew_keepbest_one_cluster" -> (() =>
      graft.pipeline.Dedup.nearDupClustersKeepBest(
        spark.range(200000L).select(F.col("id"),
          F.concat(
            F.lit("the quick brown fox jumps over the lazy dog again and again tail "),
            (F.col("id") % 3).cast("string")).as("text"),
          (F.col("id") % 97).cast("double").as("score")),
        "text", "id", "score", numPerm = 16, bands = 8,
        threshold = 0.5, maxBucketSize = 500).count()),
    // 500k 64-bit signatures whose low 32 bits are CONSTANT across the
    // corpus (the letterboxed-image case): four of eight Hamming bands
    // are corpus-wide mega-buckets; capBuckets must thin them or the
    // band join is quadratic
    "skew_hashdups_const_bands" -> (() =>
      graft.pipeline.Dedup.hashNearDups(
        spark.range(500000L).select(F.col("id"),
          (F.shiftleft(F.xxhash64(F.col("id")), 32)
            .bitwiseOR(F.lit(0x5a5a5a5aL))).as("h")),
        "id", "h", maxHamming = 7, bands = 8, maxBucketSize = 1000).count()),
    // a 1M-leaf star: vertex 0 receives 1e6 in-edges — the hub key
    // through PageRank's dst-keyed exchange; map-side partial sums
    // must collapse it per partition or the hub serializes one task
    "skew_pagerank_hub" -> (() => {
      val edges = spark.range(1L, 1000001L)
        .select(F.lit(0L).as("a"), F.col("id").as("b"))
      val ranks = graft.pipeline.Graph.pageRank(edges, "a", "b", iters = 3)
      val hub = ranks.filter(F.col("id") === 0L)
        .select("rank").collect()(0).getLong(0)
      require(hub > 500000000000L, s"hub rank $hub should dominate")
      ranks.count()
    }),
    // native BPE ENCODER on pathological run-tokens: 200k distinct
    // 64-char single-character runs against a doubling merge chain —
    // each word needs 6 full merge passes (the per-word pass-count
    // worst case), padded with 500 unreachable merges to prove lookup
    // cost is independent of table size
    "skew_bpe_native_runs" -> (() => {
      val docs = spark.range(200000L).select(F.col("id"),
        F.concat(F.lit("a" * 64), F.lit(" tail"),
          F.col("id").cast("string")).as("text"))
      val chain = Seq.iterate("a", 6)(s => s + s).map(s => (s, s))
      val pad = (0 until 500).map(i => (s"zz$i", s"qq$i"))
      docs.select(F.explode(graft.pipeline.TextAnalysis
          .bpeSegmentNative(F.col("text"), chain ++ pad)).as("sym"))
        .groupBy("sym").count().count()
    }),
    // BPE on pathological run-tokens: 100k DISTINCT vocabulary words,
    // each starting with a 16-char single-character run (the
    // regexp_replace worst case — every position is a candidate
    // match); each merge pass must stay linear in total characters
    "skew_bpe_runs" -> (() => {
      val docs = spark.range(100000L).select(F.col("id"),
        F.concat(F.lit("aaaaaaaaaaaaaaaa"),
          F.col("id").cast("string")).as("text"))
      graft.pipeline.TextAnalysis.bpeTrainMerges(docs, "text", rounds = 3).count()
    })
  )

  /** Probes over the SCALED tables beyond the registered queries: the
    * sharded-Bloom production shape at 16 shards, probed through the
    * actual Structured Streaming path (stream-static shuffle join into
    * a noop sink). The plan pin covers shape; this covers wall-time at
    * 100x. Returns the shard-row count, asserted = 16 (every shard
    * materialized a bitset). */
  def extraProbes(spark: SparkSession, outDir: String): Seq[(String, () => Long)] = Seq(
    // fixed-point PageRank at 100x over the CAPPED near-dup pair graph
    // (the documented at-scale candidate path — the uncapped graph's
    // ~25M-pair output is the known quadratic family, measured under
    // dedup_near); what this times is 3 integer iterations of
    // exchange + join over a multi-million-edge list
    "pagerank_capped_pairs" -> (() => {
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
      val pairs = graft.pipeline.Dedup.minHashNearDups(
        docs, "text", "doc_id", numPerm = 64, bands = 32,
        threshold = 0.5, maxBucketSize = 64)
      graft.pipeline.Graph.pageRank(pairs, "a", "b", iters = 3).count()
    }),
    // span REMOVAL at 100x — probed through sum(n_cut) because count()
    // alone lets Catalyst eliminate the unique-key rebuild join (and
    // with it the whole gram pipeline): the r14 first run measured
    // 0.2 s of nothing
    "dedup_spans_apply_sum" -> (() => {
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
      graft.pipeline.Dedup.cutDuplicateSpans(docs, "text", "doc_id", n = 20)
        .agg(F.sum("n_cut")).collect()(0).getLong(0)
    }),
    // image/audio near-dup at 100x in the documented at-scale config:
    // 16-bit bands (buckets of n/65536) instead of the sf0.01 oracle's
    // exhaustive 8-bit bands, whose n^2/256 pair enumeration measured
    // ~8 CPU-minutes per modality at 1M signatures
    "dedup_images_scaled" -> (() => {
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
        .select(F.col("doc_id"))
      val fixture = docs.select((F.col("doc_id") * 2).as("img_id"),
          F.col("doc_id").as("base"), F.lit(0).as("shift"))
        .unionByName(docs.select((F.col("doc_id") * 2 + 1).as("img_id"),
          F.col("doc_id").as("base"), F.lit(1).as("shift")))
      val hashed = graft.pipeline.Multimodal.withDHash(
        graft.pipeline.Multimodal.syntheticBmpShifted(fixture, "base", "shift"), "img")
        .select("img_id", "dhash")
      graft.pipeline.Dedup.hashNearDups(hashed, "img_id", "dhash",
        maxHamming = 3, bands = 4, maxBucketSize = 5000).count()
    }),
    "dedup_audio_scaled" -> (() => {
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
        .select(F.col("doc_id"))
      val fixture = docs.select((F.col("doc_id") * 2).as("aud_id"),
          F.col("doc_id").as("base"), F.lit(0).as("shift"))
        .unionByName(docs.select((F.col("doc_id") * 2 + 1).as("aud_id"),
          F.col("doc_id").as("base"), F.lit(1).as("shift")))
      val hashed = graft.pipeline.Audio.withFingerprint(
        graft.pipeline.Audio.syntheticWav(fixture, "base", "shift"), "wav")
        .select("aud_id", "afp")
      graft.pipeline.Dedup.hashNearDups(hashed, "aud_id", "afp",
        maxHamming = 3, bands = 4, maxBucketSize = 5000).count()
    }),
    // winnowing matches at 100x in the at-scale config: df-cap 20 (the
    // 100-near-copy families exceed it, exactly the boilerplate class
    // the cap exists to drop) and xxhash64 instead of the oracle's md5
    "dedup_winnow_scaled" -> (() => {
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
      graft.pipeline.Dedup.winnowMatches(docs, "text", "doc_id",
        n = 4, window = 4, minShared = 2, maxDocFreq = 20,
        hash = F.xxhash64(_))
        .agg(F.count(F.lit(1)), F.sum("n_shared"))
        .collect()(0).getLong(0)
    }),
    "bloom_sharded16_stream" -> (() => {
      import graft.pipeline.Dedup
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
      // ~10 bits/key/shard at the 100x corpus: 2^19 bits x 16 shards
      val keyer = Dedup.BloomKeyer.xx(numShards = 16, numHashes = 4, numBits = 1 << 19)
      val bloom = Dedup
        .bloomBuildKeyed(docs.filter(F.col("doc_id") % 2 === 0), F.md5(F.col("text")), keyer)
        .persist()
      val shards = bloom.count()
      require(shards == 16, s"expected 16 shard bitsets, got $shards")
      val sdf = spark.readStream.schema(docs.schema)
        .parquet(graft.api.StandardQueries.streamableDir(s"$outDir/documents.parquet"))
        .select(F.col("doc_id"), F.md5(F.col("text")).as("ck"))
      val q = Dedup.bloomProbeKeyed(sdf, F.col("ck"), keyer, bloom)
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { q.stop(); bloom.unpersist() }
      shards
    }),
    // round-16: the stump family at 6M rows per the DOCUMENTED at-scale
    // recipe — 6M is past the nL²·nR < 2⁶³ criterion bound (the r15
    // probe ran the registry query here and the driver Long math
    // wrapped SILENTLY; since round 16 it throws via multiplyExact), so
    // training takes an EXACT deterministic 1-in-3 key subsample (~2M
    // rows, under the bound) while INFERENCE — which is bound-free and
    // map-only — still scores the full 6M-row table
    "tree_stump_sampled" -> (() => {
      val li = spark.read.parquet(s"$outDir/lineitem.parquet")
        .filter(F.pmod(F.col("l_orderkey"), F.lit(3)) === 0)
      graft.analysis.TreeSplit.stumpCandidates(
        li, "l_returnflag", probeTreeFeatures).count()
    }),
    "tree_depth2_sampled" -> (() => {
      val li = spark.read.parquet(s"$outDir/lineitem.parquet")
        .filter(F.pmod(F.col("l_orderkey"), F.lit(3)) === 0)
      graft.analysis.TreeSplit.depth2(
        li, "l_returnflag", probeTreeFeatures).count()
    }),
    "stump_confusion_full_score" -> (() => {
      val li = spark.read.parquet(s"$outDir/lineitem.parquet")
      val m = graft.analysis.TreeSplit.stumpModel(
        li.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) === 0),
        "l_returnflag", probeTreeFeatures)
      li.select(F.col("l_returnflag").as("label"),
          graft.analysis.TreeSplit.stumpPredictColumn(m, probeTreeFeatures).as("pred"))
        .groupBy("label", "pred").count().count()
    }),
    // round-16: a PRODUCTION-SIZE vocabulary train — the FULL 32768-merge
    // budget in ONE distributed histogram pass + the indexed driver
    // loop. The scaled documents corpus has a CLOSED ~200-word
    // vocabulary (it exhausts after 189 merges — measured), so the
    // budget is probed on an OPEN vocabulary: 1M distinct digit-words,
    // whose pair space supports the whole 32k sequence. The per-round
    // distributed trainer would need 32768 Spark jobs for this.
    "bpe_train_32k" -> (() => {
      val docs = spark.range(500000L).select(F.col("id"),
        F.concat(F.col("id").cast("string"), F.lit(" "),
          (F.col("id") * 7919L + 11L).cast("string")).as("text"))
      val n = graft.pipeline.TextAnalysis
        .bpeTrainMergesFast(docs, "text", rounds = 32768).count()
      require(n == 32768L, s"expected the full 32768-merge budget, got $n")
      n
    }),
    // round-16: salted join against a genuine mega-key — 5M fact rows
    // ALL carrying one join key (the pathological case where an
    // unsalted sort-merge join serializes every row through one task's
    // stream); salt 32 must spread it across tasks and finish bounded,
    // and the rollup must equal the replicated small side's fan-out
    "salted_join_hotkey" -> (() => {
      val big = spark.range(5000000L).select(F.lit(7L).as("k"), F.col("id").as("v"))
      val small = spark.range(4L).select(F.lit(7L).as("k"), F.col("id").as("tag"))
      val n = graft.pipeline.SkewJoin.saltedJoin(big, small, "k", saltFactor = 32)
        .count()
      require(n == 20000000L, s"expected 5M x 4 matches, got $n")
      n
    }),
    // round-16: rank-sum drift at 6M rows (bounded pooled histogram)
    "rank_sum_6m" -> (() => {
      val li = spark.read.parquet(s"$outDir/lineitem.parquet")
      graft.analysis.DriftExact.rankSumStats(li,
        Seq("l_quantity", "l_discount", "l_tax"),
        F.col("l_linestatus") === "O").count()
    }),
    // round-16: Spearman at 6M rows per its documented recipe — the
    // integer rank statistics need n^3 < 2^63, so rank on an exact
    // 1-in-3 key subsample (~2M rows; max rank variance (n^3-n)/3 keeps
    // the BIGINT sums in range)
    "spearman_sampled" -> (() => {
      val li = spark.read.parquet(s"$outDir/lineitem.parquet")
        .filter(F.pmod(F.col("l_orderkey"), F.lit(3)) === 0)
      graft.analysis.DataAudit.spearmanCorr(li, "l_quantity", "l_extendedprice")
        .count()
    }),
    "streaming_stump_full_score" -> (() => {
      val li = spark.read.parquet(s"$outDir/lineitem.parquet")
      val m = graft.analysis.TreeSplit.stumpModel(
        li.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) === 0),
        "l_returnflag", probeTreeFeatures)
      val sdf = spark.readStream.schema(li.schema)
        .parquet(graft.api.StandardQueries.streamableDir(s"$outDir/lineitem.parquet"))
      val counts = sdf.select(F.col("l_returnflag").as("label"),
          graft.analysis.TreeSplit.stumpPredictColumn(m, probeTreeFeatures).as("pred"))
        .groupBy("label", "pred").count()
      graft.streaming.Streams.toMemory(counts, "complete").count()
    }),
    // round-16b: blocked fuzzy dedup at an engineered block shape —
    // 200k strings in 50k blocks of exactly 4 mutually-1-edit members
    // (300k genuine pairs; Σ blockSize² stays linear in rows because
    // the block key carries the name, the production blocking
    // discipline). Measures that the quadratic never escapes a block.
    "fuzzy_pairs_blocked" -> (() => {
      val names = spark.range(200000L).select(F.col("id"),
        F.concat(F.lit("name"),
          F.lpad(F.pmod(F.col("id"), F.lit(50000L)).cast("string"), 5, "0"),
          F.lit("x"), (F.col("id") / 50000L).cast("long").cast("string")).as("s"))
      val n = graft.pipeline.FuzzyDedup
        .fuzzyPairs(names, "id", "s", maxDist = 1, prefixLen = 9).count()
      require(n == 300000L, s"expected 50k blocks x C(4,2) pairs, got $n")
      n
    }),
    // round-17: stream-static fuzzy linkage against an index with ONE
    // engineered mega-block — 100k index rows sharing a 9-char block
    // key (the Zipf-head case) next to 200k rows in 50k cool blocks of
    // 4; 50k probes aim at the mega-block and 50k at the cool blocks.
    // Uncapped, the mega-block alone joins 50k x 100k = 5e9 candidate
    // rows; with maxBlockSize the block is skipped map-side, so the
    // probe finishing in bounded time with exactly the 50k cool
    // matches IS the measurement.
    // round-19: ONE production-shaped WARC shard — a single multi-GB
    // multi-member .warc.gz (decompressed size past the 2 GiB JVM
    // array ceiling, the exact shape the record-streaming reader
    // exists for). The factory streams 3000 x ~1 MiB records through
    // per-record gzip members into one file; the walk must (a) parse
    // every record via the DIRECT iterator with a buffered-bytes
    // high-water mark ~ONE record, file size notwithstanding, and
    // (b) produce the same count through the Spark binaryFile path.
    "warc_single_huge_shard" -> (() => {
      val f = java.io.File.createTempFile("hugeshard", ".warc.gz")
      f.deleteOnExit()
      val nRecs = 3000
      val unit = "huge shard record body text segment | "
      val sb = new StringBuilder
      while (sb.length < (1 << 20)) sb.append(unit)
      val body = sb.toString // ~1 MiB per record, ASCII
      val out = new java.io.FileOutputStream(f)
      // close() (not finish()) each member stream: close ends the
      // native Deflater — finish-only would pile up 3000 un-ended
      // deflaters' native buffers inside a probe that exists to
      // measure memory boundedness. The shield keeps the shared file
      // stream open across members.
      val shield = new java.io.FilterOutputStream(out) {
        override def close(): Unit = flush()
      }
      var decompressed = 0L
      try {
        var i = 0
        while (i < nRecs) {
          val rec = ("WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Record-ID: <urn:huge:$i>\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n" + body + "\r\n\r\n")
            .getBytes("US-ASCII")
          decompressed += rec.length
          val gz = new java.util.zip.GZIPOutputStream(shield, 1 << 16)
          gz.write(rec); gz.close()
          i += 1
        }
      } finally out.close()
      require(decompressed > (2L << 30),
        s"shard must exceed the 2 GiB array ceiling, got $decompressed")
      // direct iterator walk: the memory-bound instrument at file scale
      val it = new graft.sources.WarcRecordIterator(
        graft.sources.WarcFiles.maybeGunzip(new java.io.FileInputStream(f)),
        f.getPath, 1L << 30)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      require(n == nRecs, s"direct walk parsed $n of $nRecs records")
      val highWater = it.maxBufferedBytes
      require(highWater < (2L << 20),
        s"buffered $highWater bytes — not record-bounded")
      require(highWater < decompressed / 1000,
        s"high-water $highWater vs $decompressed decompressed — leaked")
      // the distributed path over the same single file
      val viaSpark = graft.sources.WarcFiles.readRecords(spark, f.getPath).count()
      require(viaSpark == nRecs, s"Spark walk read $viaSpark of $nRecs")
      f.delete()
      n
    }),
    "fuzzy_match_capped_megablock" -> (() => {
      val cool = spark.range(200000L).select(F.col("id"),
        F.concat(F.lit("name"),
          F.lpad(F.pmod(F.col("id"), F.lit(50000L)).cast("string"), 5, "0"),
          F.lit("x"), (F.col("id") / 50000L).cast("long").cast("string")).as("s"))
      val hot = spark.range(200000L, 300000L).select(F.col("id"),
        F.concat(F.lit("megablock"), F.col("id").cast("string")).as("s"))
      val probes = spark.range(50000L)
        .select((F.col("id") + 1000000L).as("pid"),
          F.concat(F.lit("name"),
            F.lpad(F.col("id").cast("string"), 5, "0"), F.lit("y0")).as("ps"))
        .unionAll(spark.range(50000L).select((F.col("id") + 2000000L).as("pid"),
          F.concat(F.lit("megablock"), F.col("id").cast("string")).as("ps")))
      val n = graft.pipeline.FuzzyDedup.matchIndex(
        probes, "pid", "ps", cool.unionAll(hot), "id", "s",
        maxDist = 1, prefixLen = 9, maxBlockSize = Some(1000)).count()
      require(n == 50000L, s"expected 50k cool-block matches, got $n")
      n
    })
  )

  private def probeTreeFeatures: Seq[graft.analysis.TreeSplit.FeatureSpec] = Seq(
    graft.analysis.TreeSplit.FeatureSpec("l_quantity", F.col("l_quantity")),
    graft.analysis.TreeSplit.FeatureSpec("l_discount_c", F.round(F.col("l_discount") * 100)),
    graft.analysis.TreeSplit.FeatureSpec("l_tax_c", F.round(F.col("l_tax") * 100)))

  private[graft] def replicateForTest(df: DataFrame, table: String, copies: Int): DataFrame =
    replicate(df, table, copies)

  private def replicate(df: DataFrame, table: String, copies: Int): DataFrame = {
    val keyCols: Seq[String] = table match {
      case "lineitem"   => Seq("l_orderkey")
      case "orders"     => Seq("o_orderkey", "o_custkey")
      case "events"     => Seq("event_id", "user_id")
      case "documents"  => Seq("doc_id")
      case "embeddings" => Seq("vec_id")
      case _            => Seq.empty
    }
    // one scan: per-row explode of the copy index, then per-copy key
    // shifts by (max key + 1) so copies never collide
    val maxes = keyCols.map(k => k ->
      (df.agg(F.max(F.col(k))).collect()(0).getLong(0) + 1L)).toMap
    var out = df.withColumn("__copy",
      F.explode(F.sequence(F.lit(0), F.lit(copies - 1))))
    for (k <- keyCols)
      out = out.withColumn(k, F.col(k) + F.col("__copy") * F.lit(maxes(k)))
    if (table == "documents")
      // copy 0 keeps the original text; later copies append a short
      // suffix (high-Jaccard near-duplicates, not byte-exact ones)
      out = out.withColumn("text",
        F.when(F.col("__copy") === 0, F.col("text"))
          .otherwise(F.concat(F.col("text"), F.lit(" rep"),
            F.col("__copy").cast("string"))))
    if (table == "embeddings")
      out = out.withColumn("embedding",
        F.transform(F.col("embedding"),
          x => x + (F.pmod(F.col("__copy"), F.lit(7)) - F.lit(3)).cast("float") * F.lit(0.01f)))
    out.drop("__copy")
  }

  def buildScaled(spark: SparkSession, srcDir: String, outDir: String,
      splits: Int): Unit = {
    val fs = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(fs)
    for ((table, copies) <- factors) {
      val src = spark.read.parquet(s"$srcDir/$table.parquet")
      replicate(src, table, copies)
        .repartition(splits)
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[scale] $table x$copies written")
    }
    for (table <- verbatim)
      spark.read.parquet(s"$srcDir/$table.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "target/scaledata")
    val names = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").toSeq).getOrElse(defaultQueries)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // heap: set SPARK_DRIVER_MEM (build.sbt -Xmx) — local-mode Spark
      // ignores spark.driver.memory set after JVM start
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val marker = java.nio.file.Paths.get(outDir, "_BUILT")
    if (sys.env.contains("SPARK_GRAFT_SCALE_REBUILD") ||
        !java.nio.file.Files.exists(marker)) {
      buildScaled(spark, srcDir, outDir, cpus)
      java.nio.file.Files.writeString(marker, srcDir)
    }
    val loadBefore = PerfStamp.loadAvg()
    // per-probe errors are PERSISTED into the artifact (class + message,
    // not just a name to stderr): a crashed run must be readable as a
    // crashed run, never as N fast failures
    var failed = List.empty[(String, String, String)] // (probe, class, message)
    var skipped = List.empty[String]
    var crashed = false
    def d2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def jstr(s: String) =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def timed(name: String)(run: () => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      try run()
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.toString)
          .replaceAll("\\s+", " ").take(300)
        failed ::= ((name, e.getClass.getName, msg))
        // liveness check: a dead SparkContext means every later probe
        // would "fail" in milliseconds — flag it and stop probing
        if (spark.sparkContext.isStopped) crashed = true
        System.err.println(s"[scale] $name FAILED: ${e.getClass.getName}: $msg")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      println(s"[scale] ${name.padTo(28, ' ')} ${d2(dt)} s" +
        (if (crashed) "  (SESSION DEAD)" else ""))
      name -> dt
    }
    val probes: Seq[(String, () => Unit)] =
      names.map(n => n -> (() => { SparkEntry.queries(n)(spark, outDir).count(); () })) ++
        (if (sys.env.contains("SPARK_GRAFT_SCALE_NO_SKEW")) Seq.empty
         else (skewProbes(spark) ++ extraProbes(spark, outDir))
           .map { case (n, run) => n -> (() => { run(); () }) })
    var times = Vector.empty[(String, Double)]
    for ((n, run) <- probes) {
      if (crashed) skipped ::= n
      else times :+= timed(n)(run)
    }
    spark.stop()
    def jmap(m: Seq[(String, Double)]) =
      m.map { case (k, v) => jstr(k) + ":" + d2(v) }.mkString("{", ",", "}")
    val errs = failed.reverse.map { case (n, cls, msg) =>
      s"""{"query":${jstr(n)},"class":${jstr(cls)},"message":${jstr(msg)}}"""
    }.mkString("[", ",", "]")
    val skips = skipped.reverse.map(jstr).mkString("[", ",", "]")
    val load = PerfStamp.fields(loadBefore, PerfStamp.loadAvg())
    val json =
      s"""{"metric":"scale_total","value":${d2(times.map(_._2).sum)},"unit":"sec","src":"$srcDir","queries":${jmap(times)},"errors":$errs,"crashed":$crashed,"skipped":$skips,$load}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target", "scaleprobe.json"), json + "\n")
    catch { case _: Throwable => () }
    println(json)
  }
}
