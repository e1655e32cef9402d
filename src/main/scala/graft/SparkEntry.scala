package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Graph, Layout, Multimodal, Relational, Similarity, TextAnalysis, TimeSeries}
import graft.sources.ParquetSource
import graft.streaming.EventStream

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ beyond-reference
    * operators). Names map 1:1 to [[oracleSql]] keys.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_full_scan" -> (Relational.fullScan _),
    "s2_user_query" -> (Relational.userQuery _),
    "f1_partition_daily" -> (Relational.partitionDaily _),
    "f1_partition_monthly" -> (Relational.partitionMonthly _),
    "f1_partition_hourly" -> (Relational.partitionHourly _),
    "x1_range_split_union" -> (Relational.rangeSplitUnion _),
    "l1_limit_topk" -> (Relational.limitTopK _),
    "s4_minmax_bounds" -> (Relational.minMaxBounds _),
    "p4_type_projection" -> (Relational.typeProjection _),
    "a2_count" -> (Relational.countAll _),
    "q1_agg" -> (Relational.q1Agg _),
    "q3_join_agg" -> (Relational.q3JoinAgg _),
    "w1_window_topk" -> (Relational.windowTopK _),
    // same contract via the bounded-heap aggregate (map-side partial top-k)
    "q_grouped_topk" -> (Relational.groupedTopK _),
    "set_except" -> (Relational.setExcept _),
    "q_full_outer" -> (Relational.fullOuterJoin _),
    "q_unpivot" -> (Relational.unpivotMetrics _),
    "set_union" -> (Relational.setUnion _),
    "set_intersect_all" -> (Relational.setIntersectAll _),
    "set_except_all" -> (Relational.setExceptAll _),
    "events_hourly_agg" -> (Relational.eventsHourlyAgg _),
    "events_sessionize" -> ((s, d) => EventStream.sessionizeBatch(s, d)),
    // the NATIVE session_window operator (same state-store expression runs
    // in streaming) — distinct from the window-function chain above
    "events_session_window" -> ((s, d) => EventStream.sessionWindowBatch(s, d)),
    "events_interval_left_join" -> ((s, d) => EventStream.intervalLeftJoinBatch(s, d)),
    "text_token_count" -> (TextAnalysis.tokenCount _),
    "text_token_budget" -> ((s, d) => TextAnalysis.selectTokenBudget(s, d)),
    "text_quality" -> (TextAnalysis.qualityScore _),
    // Gopher rule battery: named per-rule flags + composed keep, all
    // thresholds in integer arithmetic (r9)
    "text_gopher_rules" -> (TextAnalysis.gopherRules _),
    // C4-style chain: gopher keep -> exact fp dedup -> langid -> rollup (r9)
    "pipeline_c4" -> (TextAnalysis.pipelineC4 _),
    // provenance dashboard keyed on the source column (r9)
    "text_source_stats" -> (TextAnalysis.sourceStats _),
    // per-source unigram KL from the corpus blend, micro-nat exact (r9)
    "text_domain_shift" -> (TextAnalysis.domainShift _),
    // apply the trained BPE table to every doc: per-doc token accounting
    // under a broadcast merge table bounded by the numMerges parameter (r9)
    "text_bpe_encode" -> ((s, d) => TextAnalysis.bpeEncode(s, d)),
    // distributed lossless round trip: rebuild every word from its tokens
    "text_bpe_encode_check" -> ((s, d) => TextAnalysis.bpeEncodeCheck(s, d)),
    // same encode through the persisted merge-table artifact (train once,
    // apply everywhere); spec pins store == direct bit-equal
    "text_bpe_encode_store" -> ((s, d) => {
      val store = java.nio.file.Files.createTempDirectory("graft-bpe-store").toString
      TextAnalysis.writeBpeModel(s, d, store)
      TextAnalysis.bpeEncodeViaStore(s, d, store)
    }),
    // first-fit-decreasing whole-document packing into capacity-token bins
    "text_pack_bins" -> ((s, d) => TextAnalysis.packBins(s, d)),
    // gate: zero overfilled bins + bin count within 2*LB+1 per chunk
    "text_pack_bins_check" -> ((s, d) => TextAnalysis.packBinsCheck(s, d)),
    "text_langid" -> (TextAnalysis.langId _),
    "text_fingerprint" -> (TextAnalysis.fingerprint _),
    "text_pii" -> (TextAnalysis.piiFilter _),
    "sample_split" -> (TextAnalysis.sampleSplit _),
    // r10: deterministic training shuffle + shard/position assignment
    "sample_shuffle_shards" -> ((s, d) => TextAnalysis.shuffleShards(s, d)),
    // r10: per-shard doc/token/byte manifest (shuffle ∘ token counting)
    "pipeline_shard_manifest" -> ((s, d) => TextAnalysis.shardManifest(s, d)),
    "text_decontaminate" -> ((s, d) => TextAnalysis.decontaminate(s, d)),
    "text_contamination_score" -> ((s, d) => TextAnalysis.contaminationScore(s, d)),
    // Bloom twin for the large-eval-set regime: fixed-size filter, map-side
    // probe, superset mark; no_oracle (DuckDB can't run the filter) — the
    // recall/FPR gate below is the oracle-checked pair
    "text_decontaminate_bloom" -> ((s, d) => TextAnalysis.decontaminateBloom(s, d)),
    "text_decontaminate_bloom_check" -> ((s, d) => TextAnalysis.decontaminateBloomCheck(s, d)),
    // CCNet-style corpus-self-trained bigram LM cross-entropy (micro-nats)
    "text_lm_xent" -> ((s, d) => TextAnalysis.lmCrossEntropy(s, d)),
    // top-K-successors pruned LM twin: model capped at (K+1)|contexts|
    // rows; pruned occurrences take the context's backoff cost (r9)
    "text_lm_xent_pruned" -> ((s, d) => TextAnalysis.lmCrossEntropyPruned(s, d)),
    // CCNet head/middle/tail perplexity terciles with value-atomic
    // boundaries; histogram-decomposed cum counts, map-only assign (r9)
    "pipeline_ppl_buckets" -> ((s, d) => TextAnalysis.pipelinePplBuckets(s, d)),
    // per-source CCNet-style calibrated keep rate off the same xent (r10)
    "text_quality_calibrated" -> ((s, d) => TextAnalysis.qualityCalibrated(s, d)),
    // delta gate: zero monotonicity violations + total delta <= 450 permille
    // (the sf fixture's successor fan-out is near-UNIFORM -- ~30/context --
    // the worst case for pruning; Zipfian real text sits far under this)
    "text_lm_xent_pruned_check" -> ((s, d) => TextAnalysis.lmCrossEntropyPrunedCheck(s, d)),
    // DSIR hashed-ngram importance weights toward the en slice (r8)
    "text_dsir" -> ((s, d) => TextAnalysis.dsirWeights(s, d)),
    // composed: weights -> heap top-200 -> per-lang rollup, one oracle (r8)
    "pipeline_dsir" -> ((s, d) => TextAnalysis.pipelineDsirSelect(s, d)),
    // distributed BPE tokenizer training: per-round argmax pair merge (r8)
    "text_bpe" -> ((s, d) => TextAnalysis.bpeMerges(s, d)),
    // gate: independent in-memory reference reproduces the merge table
    "text_bpe_check" -> ((s, d) => TextAnalysis.bpeCheck(s, d)),
    "text_pack_sequences" -> ((s, d) => TextAnalysis.packSequences(s, d)),
    "text_domain_mix" -> (TextAnalysis.domainMix _),
    "text_repetition" -> (TextAnalysis.repetition _),
    // C4-style corpus-level line (word-segment) dedup
    "text_line_dedup" -> ((s, d) => TextAnalysis.lineDedup(s, d)),
    // r13: the 100 TB twin — boiler-side shuffles key on the 60-bit
    // segment fingerprint, never segment text; shares the exact oracle
    "text_line_dedup_hashed" -> ((s, d) => TextAnalysis.lineDedupHashed(s, d)),
    // Lee-et-al sliding-window verbatim duplication fraction per doc (r7)
    "text_substring_dup" -> ((s, d) => TextAnalysis.substringDupScore(s, d)),
    // RAG chunking: overlapping fixed-size character windows per doc
    "text_chunk" -> ((s, d) => TextAnalysis.chunk(s, d)),
    // hashing-trick vectorization (sparse signed token counts per bucket)
    "text_hash_embedding" -> ((s, d) => TextAnalysis.hashEmbedding(s, d)),
    // the operators composed end to end under a single oracle
    "pipeline_summary" -> (TextAnalysis.pipelineSummary _),
    // round-4 chain: line dedup -> hashing-trick vectorization -> rollup
    "pipeline_vectorize" -> (TextAnalysis.pipelineVectorize _),
    "q_window_lead_lag" -> (Relational.eventLeadLag _),
    // time-based RANGE frame (trailing 1-hour per-user aggregates)
    "q_range_frame" -> (Relational.rangeFrameTrailing _),
    // hot-key guards for the window family: time-chunked rewrites that are
    // EXACT (they share their plain twins' oracles) with bounded per-task
    // partitions — see Relational.rangeFrameTrailingSkewSafe scaladoc
    "q_range_frame_skew" -> ((s, d) => Relational.rangeFrameTrailingSkewSafe(s, d)),
    "q_window_lead_lag_skew" -> ((s, d) => Relational.eventLeadLagSkewSafe(s, d)),
    "events_sessionize_skew" -> ((s, d) => EventStream.sessionizeSkewSafe(s, d)),
    "q_ntile" -> (Relational.ntileDeciles _),
    // r10: dense_rank/percent_rank/cume_dist in one window pass, plus the
    // value-histogram skew twin sharing the oracle verbatim
    "q_rank_family" -> ((s, d) => Relational.qRankFamily(s, d)),
    "q_rank_family_skew" -> ((s, d) => Relational.qRankFamilySkewSafe(s, d)),
    // low-cardinality ranked-window guards (round 7): exact histogram-
    // boundary rewrites sharing the plain forms' oracles — no window task
    // ever sorts a constant fraction of the table
    "q_ntile_skew" -> (Relational.ntileDecilesSkewSafe _),
    "q_percentile_disc_skew" -> (Relational.percentileDiscSkewSafe _),
    "text_domain_mix_scale" -> ((s, d) => TextAnalysis.domainMixScale(s, d)),
    "dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "dedup_minhash" -> ((s, d) => Dedup.minhashNearDups(s, d)),
    // EXACT prefix-filtering twin (AllPairs/PPJoin): same contract with no
    // probabilistic step — shares the minhash oracle verbatim (r9)
    "dedup_jaccard_exact" -> ((s, d) => Dedup.jaccardPrefixNearDups(s, d)),
    // routed through the O(log n) large-star/small-star CC (spec-proven
    // equal to the min-label BSP, which remains available as
    // Dedup.nearDupClusters)
    "dedup_clusters" -> ((s, d) => Dedup.nearDupClustersStar(s, d)),
    "dedup_exact_hash" -> (Dedup.exactByFingerprint _),
    // nightly snapshot diff: added/removed/changed via 16-byte fps (r7)
    "corpus_diff" -> (Dedup.corpusDiff _),
    // daily-increment dedup: new docs vs existing corpus, never corpus²
    "dedup_incremental" -> ((s, d) => Dedup.incrementalNearDups(s, d)),
    // same contract through a persisted parquet signature store round trip
    "dedup_incremental_store" -> ((s, d) => Dedup.incrementalNearDupsViaStore(s, d)),
    // end-to-end dedup: drop near-dups, keep min-id representative per group
    "dedup_canonical" -> ((s, d) => Dedup.canonicalDocs(s, d)),
    "dedup_canonical_best" -> ((s, d) => Dedup.canonicalDocsBest(s, d)),
    "dedup_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "dedup_embedding" -> ((s, d) => Dedup.embeddingNearDups(s, d)),
    // deterministic integer-micros k-means (map-only assignment; the
    // centroid update is the only shuffle, k·dim rows after partial agg)
    "cluster_kmeans" -> ((s, d) => Dedup.clusterKmeans(s, d)),
    // SemDeDup proper (arXiv:2303.09540): k-means cells bound the exact
    // cosine search — Σ n_c² ≈ n²/k pair work, k ∝ n ⇒ linear at scale
    "dedup_semdedup" -> ((s, d) => Dedup.semDeDup(s, d)),
    // SemDeDup: CC over the exact embedding near-dup graph
    "dedup_semantic_clusters" -> ((s, d) => Dedup.semanticClusters(s, d)),
    // one representative per semantic cluster + unique pass-through
    "dedup_semantic" -> ((s, d) => Dedup.semanticCanonical(s, d)),
    "ann_topk" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    // r10: semi-hard negative mining for contrastive training (banded
    // exact top-k — same bounded-heap plan as ann_topk)
    "ann_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    // r10 continuation: Artetxe-Schwenk ratio-margin bitext mining with
    // mutual-best acceptance over the mod-10 side split
    "ann_margin_mining" -> ((s, d) => Similarity.marginMining(s, d)),
    // r11: the 100 TB margin-mining path — IVF cell-equi-join candidates
    // instead of the exact all-pairs scored scan; gated by the agreement
    // check against the exact path (the ann_ivf/ann_ivf_check pattern)
    "ann_margin_mining_ivf" -> ((s, d) => Similarity.marginMiningIvf(s, d)),
    "ann_margin_mining_ivf_check" -> ((s, d) => Similarity.marginMiningIvfAgreement(s, d)),
    // r10: greedy farthest-point diversity coreset (+ its gate: radii
    // recomputed with independent arithmetic)
    "sample_coreset" -> ((s, d) => Similarity.kCenterCoreset(s, d)),
    "sample_coreset_check" -> ((s, d) => Similarity.kCenterCoresetCheck(s, d)),
    "ann_lsh" -> ((s, d) => Similarity.lshTopK(s, d)),
    "multimodal_meta" -> (Multimodal.binaryMeta _),
    "q_rollup" -> (Relational.rollupAgg _),
    "q_cube" -> (Relational.cubeAgg _),
    "q_percentile_disc" -> (Relational.percentileDisc _),
    "q_pivot" -> (Relational.pivotAgg _),
    "events_json_extract" -> (Relational.jsonExtractAgg _),
    // r9: the as-of catalog family defaults to the NATIVE AsOfJoinExec
    // (backward strict); the window form (Relational.asofLastPurchase)
    // and the time-chunked twin (asofLastPurchaseSkewSafe) remain as
    // bit-equal oracle twins, asserted in WindowSkewSpec
    "events_asof_purchase" -> (Relational.asofLastPurchaseNative _),
    // the native AsOfJoinExec (custom LogicalPlan + SparkStrategy +
    // SparkPlan): click -> first purchase at-or-after, streamed merge (r8)
    "events_asof_native" -> (Relational.asofNativeNextPurchase _),
    // same exec, backward scan rule: last purchase at-or-before (r8)
    "events_asof_native_backward" -> (Relational.asofNativeLastPurchase _),
    // the TOLERANCE clause: match only within 1 hour, else nulls (r9)
    "events_asof_tolerance" -> ((s, d) => Relational.asofNativeNextPurchaseTolerance(s, d)),
    // same native path under the hot-key fixture contract: the exec is
    // skew-proof by construction (one linear merge pass per partition)
    "events_asof_purchase_skew" -> (Relational.asofLastPurchaseNative _),
    // backward as-of against a reference-shaped workload: last-touch
    // attribution purchases->clicks with a synthesized hot user (r9)
    "events_attribution_lasttouch" -> (Relational.attributionLastTouch _),
    // cohort retention triangle: one user_id exchange builds cohort week +
    // calendar-bounded active-week set in the same aggregate (r9)
    "events_retention" -> (Relational.eventsRetention _),
    // record linkage: multi-probe blocking + integer agreement scoring +
    // per-record argmax resolution over a deterministic dirty feed (r9)
    "link_customers" -> (Relational.linkCustomers _),
    // median/MAD hourly-count anomaly monitor, calendar-bounded windows (r9)
    "events_anomaly_mad" -> (Relational.eventsAnomalyMad _),
    // per-user transition matrix with integer-permille conditionals (r9)
    "events_markov" -> (Relational.eventsMarkov _),
    // p01/p99 value-atomic clipping via the chunked value histogram (r9)
    "stats_winsorize" -> ((s, d) => Relational.statsWinsorize(s, d)),
    // SCD2 validity intervals via gaps-and-islands, one user_id exchange (r9)
    "events_scd2" -> (Relational.eventsScd2 _),
    // batch rollup states merged through a parquet store == full rescan (r9)
    "agg_incremental_merge" -> ((s, d) => Relational.incrementalAggMerge(s, d)),
    // min/max chunk-pruning simulation: natural vs z-order layout (r9)
    "layout_skipping" -> ((s, d) => Layout.skippingGain(s, d)),
    // declarative DQ constraints: one scan for row-local checks (r9)
    "dq_battery" -> (Relational.dqBattery _),
    // quasi-identifier group-size audit for publish gating (r9)
    "dq_kanonymity" -> ((s, d) => Relational.kAnonymity(s, d)),
    // staleness lag vs a pinned as-of instant, budget-gated (r9)
    "dq_freshness" -> ((s, d) => Relational.dqFreshness(s, d)),
    // RFM quintile segmentation, total-order deterministic ntiles (r9)
    "customer_rfm" -> (Relational.customerRfm _),
    // Lorenz curve: decile revenue concentration, triangular cumsum (r9)
    "orders_lorenz" -> (Relational.ordersLorenz _),
    // TPC-H Q16 shape: two-phase distinct, no Expand in the plan (r9)
    "q16_supplier_variety" -> (Relational.q16SupplierVariety _),
    // FastSS deletion-neighborhood fuzzy join, oracle = brute force (r9)
    "link_fuzzy_names" -> (Relational.fuzzyNameJoin _),
    // CDC compaction: latest per key via max-struct, no window sort (r9)
    "events_compact_latest" -> (Relational.eventsCompactLatest _),
    // BM25 retrieval scoring, exact rational k1/b in one int division (r9)
    "text_bm25" -> ((s, d) => TextAnalysis.bm25(s, d)),
    // calendar densify + exact integer lerp over hourly gaps (r9)
    "events_gapfill" -> (Relational.eventsGapfill _),
    // linear multi-touch attribution, exact micro-credit conservation (r9)
    "events_attribution_linear" -> ((s, d) => Relational.attributionLinear(s, d)),
    // step-function time-weighted average, integer cents x micros (r9)
    "events_twap" -> (Relational.eventsTwap _),
    // interval census: per-hour peak live sessions, two-level sweep (r9)
    "events_concurrency" -> (Relational.eventsConcurrency _),
    // top session paths: per-session type sequence -> heavy paths (r9)
    "events_top_paths" -> ((s, d) => Relational.eventsTopPaths(s, d)),
    // least-squares hourly-volume slope, explicit floor division (r9)
    "stats_trend" -> (Relational.statsTrend _),
    // NATIVE keyed interval join (custom exec #2): same-user prior-30min
    // density via the streamed sweep with a sliding buffer (r9)
    "events_range_join_native" -> (Relational.rangeJoinNative _),
    // TPC-H Q8 shape: 6-table tree, integer cents x percent revenue (r9)
    "q8_market_share" -> ((s, d) => Relational.q8MarketShare(s, d)),
    // TPC-H Q17 shape: decorrelated per-part avg, one reused exchange (r9)
    "q17_small_qty" -> ((s, d) => Relational.q17SmallQty(s, d)),
    // r10 TPC-H shape batch: the remaining classic plan shapes (see the
    // Relational section comment) — correlated min, EXISTS semi,
    // left-outer count histogram, max-of-agg, HAVING join-back,
    // EXISTS+NOT-EXISTS, scalar-avg + anti join
    "q2_min_cost_supplier" -> ((s, d) => Relational.q2MinCostSupplier(s, d)),
    // r10: one-pass integer-moment correlation matrix
    "stats_correlation" -> ((s, d) => Relational.statsCorrelation(s, d)),
    // r10: exact integer EWMA (sequential fold, bit-equal across engines)
    "events_ewma" -> ((s, d) => Relational.eventsEwma(s, d)),
    // r10 completion batch: with these, every TPC-H query shape (1-22,
    // partsupp-free adaptations where the fixture lacks the table) has a
    // bit-exact catalog row
    "q6_forecast_revenue" -> ((s, d) => Relational.q6ForecastRevenue(s, d)),
    "q7_nation_volume" -> ((s, d) => Relational.q7NationVolume(s, d)),
    "q9_profit_by_nation" -> ((s, d) => Relational.q9ProfitByNation(s, d)),
    "q10_returned_items" -> ((s, d) => Relational.q10ReturnedItems(s, d)),
    "q11_important_share" -> ((s, d) => Relational.q11ImportantShare(s, d)),
    "q12_shipmode_priority" -> ((s, d) => Relational.q12ShipmodePriority(s, d)),
    "q14_promo_share" -> ((s, d) => Relational.q14PromoShare(s, d)),
    "q19_discounted_revenue" -> ((s, d) => Relational.q19DiscountedRevenue(s, d)),
    "q20_excess_suppliers" -> ((s, d) => Relational.q20ExcessSuppliers(s, d)),
    "q4_priority_wait" -> ((s, d) => Relational.q4PriorityWait(s, d)),
    "q13_custdist" -> ((s, d) => Relational.q13CustDist(s, d)),
    "q15_top_supplier" -> ((s, d) => Relational.q15TopSupplier(s, d)),
    "q18_large_orders" -> ((s, d) => Relational.q18LargeOrders(s, d)),
    "q21_waiting_supplier" -> ((s, d) => Relational.q21WaitingSupplier(s, d)),
    "q22_global_sales" -> ((s, d) => Relational.q22GlobalSales(s, d)),
    // r10 continuation: time-series family over calendar-bounded hourly
    // counts (ACF, CUSUM changepoint, seasonality, OHLC, rolling median)
    "events_acf" -> ((s, d) => TimeSeries.eventsAcf(s, d)),
    "events_cusum" -> ((s, d) => TimeSeries.eventsCusum(s, d)),
    "events_seasonality" -> ((s, d) => TimeSeries.eventsSeasonality(s, d)),
    "events_ohlc" -> ((s, d) => TimeSeries.eventsOhlc(s, d)),
    "events_rolling_median" -> ((s, d) => TimeSeries.eventsRollingMedian(s, d)),
    // classical additive trend/seasonal/residual split, milli-exact (r10)
    "events_decompose" -> ((s, d) => TimeSeries.eventsDecompose(s, d)),
    // r10 continuation: data-quality audits (Benford first-digit screen,
    // l-diversity privacy gate)
    "dq_benford" -> ((s, d) => Relational.dqBenford(s, d)),
    "dq_ldiversity" -> ((s, d) => Relational.dqLdiversity(s, d)),
    // r10 continuation: wedge-enumerated resource-allocation link scores
    "graph_link_predict" -> ((s, d) => Graph.linkPredict(s, d)),
    // r13 hub-skew twin: suppliers collapsed mod 8 — every mid is a hub,
    // so the blocked (salted) wedge enumeration is the plan under load
    "graph_link_predict_skew" -> ((s, d) => Graph.linkPredictHubSkew(s, d)),
    // r10 continuation: synchronous deterministic LPA over the same
    // median-sparsified co-service graph
    "graph_lpa" -> ((s, d) => Graph.lpaCommunities(s, d)),
    // r10 continuation: positional inverted-index phrase probe and the
    // prefix-filtered exact containment join
    "text_phrase_search" -> ((s, d) => TextAnalysis.phraseSearch(s, d)),
    "text_containment" -> ((s, d) => TextAnalysis.containmentJoin(s, d)),
    // r10 continuation: MOSS winnowing fingerprints (per-doc summary +
    // the shared-hash overlap detector they exist for), distinct-n
    // corpus-diversity rollup
    "text_winnowing" -> ((s, d) => TextAnalysis.winnowing(s, d)),
    "text_winnowing_overlap" -> ((s, d) => TextAnalysis.winnowingOverlap(s, d)),
    "text_distinct_ngrams" -> ((s, d) => TextAnalysis.distinctNgrams(s, d)),
    // iterative graph family: fixed-iteration integer Pregel supersteps (r9)
    "graph_pagerank" -> ((s, d) => Graph.pageRank(s, d)),
    // hub-heavy degree-skew twin: suppliers collapsed mod 8 into super-nodes
    "graph_pagerank_skew" -> ((s, d) => Graph.pageRankHubSkew(s, d)),
    "graph_reach" -> ((s, d) => Graph.reachability(s, d)),
    "graph_components" -> ((s, d) => Graph.components(s, d)),
    // r12: min-label twin over the same hub graph — hot-key aggregation path
    "graph_components_skew" -> ((s, d) => Graph.componentsHubSkew(s, d)),
    // r10: oriented two-join triangle count over the supplier co-service
    // projection (strength-thresholded), exact clustering coefficient
    "graph_triangles" -> ((s, d) => Graph.triangles(s, d)),
    // r12: co-order pair aggregation with ≤C(8,2) white-hot keys
    "graph_triangles_skew" -> ((s, d) => Graph.trianglesHubSkew(s, d)),
    // a-priori-pruned frequent-pair mining, parameter-bounded space (r9)
    "text_cooccur" -> ((s, d) => TextAnalysis.cooccurrence(s, d)),
    // Efraimidis-Spirtakis weighted sampling, integer exponential clocks (r9)
    "sample_weighted" -> ((s, d) => TextAnalysis.sampleWeighted(s, d)),
    // 3-step funnel composed from TWO native as-of execs (r9)
    "events_funnel3_native" -> (Relational.eventsFunnel3Native _),
    // two-step funnel: first click -> first purchase at-or-after it (r7)
    "events_funnel" -> (Relational.eventsFunnel _),
    // time-chunked twin: hot-user window bounded by chunk volume
    "events_funnel_skew" -> ((s, d) => Relational.eventsFunnelSkewSafe(s, d)),
    // the funnel IS a forward as-of from the per-user first click - the
    // native exec answers it with one min-struct agg + streamed merge (r9)
    "events_funnel_native" -> (Relational.eventsFunnelNative _),
    "ann_ivf" -> ((s, d) => Similarity.ivfTopK(s, d)),
    "ann_pq" -> ((s, d) => Similarity.pqTopK(s, d)),
    // the FAISS IndexIVFPQ composition: coarse cells prune the scan, PQ
    // codes score inside probed cells, raw vectors only for the re-rank (r8)
    "ann_ivfpq" -> ((s, d) => Similarity.ivfPqTopK(s, d)),
    "q_semi_join" -> (Relational.semiJoin _),
    "q_anti_join" -> (Relational.antiJoin _),
    "q_scalar_subquery" -> (Relational.scalarSubquery _),
    "q_count_distinct" -> (Relational.countDistinctAgg _),
    "w2_running_sum" -> (Relational.runningSum _),
    "q5_multi_join" -> (Relational.q5MultiJoin _),
    "events_range_join" -> (Relational.rangeJoinDensity _),
    "q_grouping_sets" -> (Relational.groupingSets _),
    "set_intersect" -> (Relational.setIntersect _),
    "dedup_ngram" -> ((s, d) => Dedup.ngramNearDups(s, d)),
    "multimodal_frames" -> (Multimodal.frameSample _),
    "dedup_edit_distance" -> ((s, d) => Dedup.editDistancePairs(s, d)),
    "text_term_stats" -> (TextAnalysis.termStats _),
    // TF-IDF keyword extraction, micro-nat-quantized idf (r9)
    "text_tfidf" -> ((s, d) => TextAnalysis.tfIdfTop(s, d)),
    // Unicode NFC normalization (native graft_nfc) over planted
    // decomposed combining sequences (r9)
    "text_normalize" -> (TextAnalysis.normalizeText _),
    "embedding_centroid" -> (Similarity.labelCentroids _),
    // approximate → no SQL oracle; accuracy spec-checked in KllSpec
    "sketch_quantiles" -> (Relational.sketchQuantiles _),
    // approximate → no SQL oracle; accuracy spec-checked in FreqSpec AND
    // oracle-gated by the paired sketch_freq_check rows below
    "sketch_topk_terms" -> (TextAnalysis.topkTermsSketch _),
    // a green row == the freq sketch honored its no-false-negative and
    // error-bound guarantees on every heavy token (DuckDB recomputes the
    // exact counts and asserts the booleans TRUE)
    "sketch_freq_check" -> (TextAnalysis.freqSketchCheck _),
    // approximate → no SQL oracle; accuracy spec-checked in ThetaSpec
    "sketch_theta_overlap" -> (Relational.thetaOverlap _),
    // persisted-blob merge round trips: per-shard sketch blobs → parquet →
    // read back → merge → gate vs exact (the ann_ivf_store_check recipe
    // applied to sketches — the cross-day rollup a 100 TB pipeline runs)
    // exact integer Gram matrix via the bounded-buffer aggregate (r9)
    "embedding_gram" -> (Similarity.embeddingGram _),
    "sketch_hll_merge_check" -> (Relational.hllStoreMergeCheck _),
    "sketch_freq_merge_check" -> (Relational.freqStoreMergeCheck _),
    "sketch_kll_merge_check" -> (Relational.kllStoreMergeCheck _),
    "sketch_theta_merge_check" -> (Relational.thetaStoreMergeCheck _),
    "events_salted_join" -> (Relational.eventsSaltedJoin _),
    // Z-order (Morton) interleave for multi-dimensional data skipping
    "layout_zorder" -> (Layout.zorderQuery _),
    // Hilbert-curve layout key via the native codegen graft_hilbert; the
    // oracle replays the xy2d recurrence as a recursive CTE (r9)
    "layout_hilbert" -> (Layout.hilbertQuery _),
    // explicit runtime filter: broadcast bloom prune + exact semi-join
    "q_bloom_semi_join" -> (Relational.bloomSemiJoin _),
    // bloom no-false-negative / FPR gate (sketch_*_check pattern)
    "bloom_fpr_check" -> (Relational.bloomFprCheck _),
    // exact per-column profiling in one scan + one aggregate
    "stats_profile" -> (Relational.statsProfile _),
    // equi-width histogram, pure integer bucket arithmetic
    "stats_histogram" -> ((s, d) => Relational.statsHistogram(s, d)),
    // equi-DEPTH histogram via the value-histogram percentile recipe (r7)
    "stats_histogram_eqdepth" -> ((s, d) => Relational.statsHistogramEquiDepth(s, d)),
    // fixed-count per-language sample in portable-hash order
    "sample_stratified" -> ((s, d) => TextAnalysis.sampleStratified(s, d)),
    "sample_mixture" -> ((s, d) => TextAnalysis.sampleMixture(s, d)),
    // mC4-style temperature sampling: targets DERIVED from observed counts
    // (integer-exact T=2 flattening), filled in portable-hash order (r7)
    "sample_temperature" -> ((s, d) => TextAnalysis.sampleTemperature(s, d)),
    // the same sample via the bounded-heap aggregate (the 100 TB form)
    "sample_stratified_topk" -> ((s, d) => TextAnalysis.sampleStratifiedTopK(s, d)),
    // round-5 chain: quality filter -> stratified sample -> chunk -> rollup
    "pipeline_chunks" -> ((s, d) => TextAnalysis.pipelineChunks(s, d)),
    // round-7 chain: substring-dup filter -> temperature mix -> rollup
    "pipeline_curate" -> ((s, d) => TextAnalysis.pipelineCurate(s, d)),
    // stub decode/resize dataflow, but every output column is derivable
    // from the text bytes → hard oracle rows for the mapPartitions plumbing
    "multimodal_decode" -> (Multimodal.decodePipelineQuery _),
    "multimodal_resize" -> (Multimodal.resizeQuery _),
    // real JPEG/PNG/GIF header parsing round-tripped against planted
    // payloads, with corrupt rows proving the quarantine path
    "multimodal_headers" -> (Multimodal.plantedHeaderQuery _),
    // REAL audio feature extraction: WAV PCM bytes built per doc, int16
    // samples decoded back, exact integer features; torn files quarantine (r8)
    "mm_audio_pcm" -> (Multimodal.audioPcmQuery _),
    // REAL pixel decode: planted 9x8 BMPs parsed byte-by-byte back to
    // pixels, reduced to the 64-bit perceptual dHash; torn files -1 (r9)
    "mm_image_dhash" -> (Multimodal.imageDhashQuery _),
    // the PPM leg: planted P6 payloads (comment in header) decoded back
    // to pixels, reduced to channel sums + position-weighted checksum (r9)
    "mm_image_ppm" -> (Multimodal.imagePpmQuery _),
    // frame-level twin: fixed 32-sample windows -> per-frame energy rows
    "mm_audio_frames" -> ((s, d) => Multimodal.audioFrameQuery(s, d)),
    // REAL radix-2 FFT per frame; Parseval + DC fold the spectrum back to
    // integers the oracle derives from the planted samples (r9)
    "mm_audio_spectrum" -> ((s, d) => Multimodal.audioSpectrumQuery(s, d)),
    // a green row == proof that LSH ANN achieved recall 1.0 vs brute force
    "ann_recall" -> ((s, d) => Similarity.lshRecallTable(s, d)),
    // SQ8 scalar quantization: 1 byte/dim, min/max quantizer (r9)
    "ann_sq" -> ((s, d) => Similarity.sqTopK(s, d)),
    "ann_sq_check" -> ((s, d) => Similarity.sqRecallFloor(s, d)),
    "ann_sq_store_check" -> ((s, d) => Similarity.sqStoreRecallFloor(s, d)),
    "ann_ivf_check" -> ((s, d) => Similarity.ivfRecallFloor(s, d)),
    // r12: same floor over the hot-cell clustered twin corpus — one
    // quantizer cell carries ~90% of the vectors; skew degrades time only
    "ann_ivf_skew_check" -> ((s, d) => Similarity.ivfRecallFloorClustered(s, d)),
    // same floor through the PERSISTED index round trip (build -> parquet
    // -> read back -> query; bit-equal to the direct path by spec) (r7)
    "ann_ivf_store_check" -> ((s, d) => Similarity.ivfStoreRecallFloor(s, d)),
    // PQ gate: 8-byte codes + ADC + shortlist re-rank recovers >=5/10
    "ann_pq_check" -> ((s, d) => Similarity.pqRecallFloor(s, d)),
    // same floor through the persisted compressed index (codebooks + codes
    // parquet round trip; bit-equal to the direct path by spec) (r7)
    "ann_pq_store_check" -> ((s, d) => Similarity.pqStoreRecallFloor(s, d)),
    // IVF-PQ gate: >=3/10 true neighbors survive coarse pruning + 8-byte
    // quantization + shortlist (r8)
    "ann_ivfpq_check" -> ((s, d) => Similarity.ivfPqRecallFloor(s, d)),
    // same floor through the persisted composed index (centroids +
    // codebooks + 16-byte/vector coded corpus round trip) (r8)
    "ann_ivfpq_store_check" -> ((s, d) => Similarity.ivfPqStoreRecallFloor(s, d)),
    // r10: incremental index maintenance — build on 90%, append the newest
    // 10% with FROZEN quantizers, recall floor across the append seam
    "ann_ivfpq_append_check" -> ((s, d) => Similarity.ivfPqAppendRecallFloor(s, d)),
    // a green row == proof the sign-LSH embedding-dedup path (the 100 TB
    // route) recovers every planted near-dup pair the exact grid finds
    "dedup_embedding_lsh_check" -> ((s, d) => Dedup.embeddingLshRecall(s, d)),
    // scale-path semantic clusters: CC over sign-LSH pairs (no grid)
    "dedup_semantic_lsh" -> ((s, d) => Dedup.semanticClustersLsh(s, d)),
    // nightly-increment dedup for the EMBEDDING family: planted increment
    // vs corpus via sign-LSH buckets, new side broadcast (round 7)
    "dedup_embedding_incremental" -> ((s, d) => Dedup.embeddingIncrementalPlanted(s, d)),
    // same contract through the persisted parquet bucket-store round trip
    "dedup_embedding_incremental_store" ->
      ((s, d) => Dedup.embeddingIncrementalPlantedViaStore(s, d)),
    // approximate → no SQL oracle (engine-specific estimates); accuracy is
    // spec-checked against exact counts in HllSpec
    "sketch_distinct" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      ParquetSource.read(s, s"$d/lineitem.parquet").createOrReplaceTempView("graft_li")
      s.sql("SELECT l_returnflag, graft_hll_distinct(l_partkey) AS approx_parts, " +
        "graft_hll_distinct(l_orderkey) AS approx_orders FROM graft_li GROUP BY l_returnflag")
    }),
    // sketch ACCURACY as oracle rows (the ann_recall pattern): the booleans
    // are computed from sketch-vs-exact inside Spark; the DuckDB oracle
    // computes the exact values and asserts TRUE — a sketch drifting out of
    // bound hash-mismatches the driver row.
    "sketch_distinct_check" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      ParquetSource.read(s, s"$d/lineitem.parquet").createOrReplaceTempView("graft_li")
      s.sql(
        """WITH g AS (
          | SELECT l_returnflag,
          |  count(DISTINCT l_partkey) AS exact_parts,
          |  count(DISTINCT l_orderkey) AS exact_orders,
          |  graft_hll_distinct(l_partkey) AS est_parts,
          |  graft_hll_distinct(l_orderkey) AS est_orders
          | FROM graft_li GROUP BY l_returnflag)
          |SELECT l_returnflag,
          | CAST(exact_parts AS BIGINT) AS exact_parts,
          | CAST(exact_orders AS BIGINT) AS exact_orders,
          | abs(est_parts - exact_parts) <= 0.05 * exact_parts AS parts_within_5pct,
          | abs(est_orders - exact_orders) <= 0.05 * exact_orders AS orders_within_5pct
          |FROM g""".stripMargin)
    }),
    "sketch_theta_check" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      graft.operators.Relational.events(s, d).createOrReplaceTempView("graft_events")
      s.sql(
        """WITH sk AS (
          | SELECT event_type, graft_theta_sketch(user_id) AS sk
          | FROM graft_events GROUP BY event_type),
          |est AS (
          | SELECT a.event_type AS type_a, b.event_type AS type_b,
          |  graft_theta_intersect_est(a.sk, b.sk) AS est_both,
          |  graft_theta_union_est(a.sk, b.sk) AS est_either
          | FROM sk a JOIN sk b ON a.event_type < b.event_type),
          |du AS (SELECT DISTINCT event_type, user_id FROM graft_events),
          |cnt AS (SELECT event_type, count(*) AS n FROM du GROUP BY event_type),
          |ex AS (
          | SELECT x.event_type AS type_a, y.event_type AS type_b, count(*) AS exact_both
          | FROM du x JOIN du y ON x.user_id = y.user_id AND x.event_type < y.event_type
          | GROUP BY x.event_type, y.event_type)
          |SELECT e.type_a, e.type_b,
          | CAST(ex.exact_both AS BIGINT) AS exact_both,
          | CAST(ca.n + cb.n - ex.exact_both AS BIGINT) AS exact_either,
          | abs(e.est_both - ex.exact_both) <= 0.05 * ex.exact_both + 1.0 AS both_within_5pct,
          | abs(e.est_either - (ca.n + cb.n - ex.exact_both)) <= 0.05 * (ca.n + cb.n - ex.exact_both) + 1.0 AS either_within_5pct
          |FROM est e
          | JOIN ex ON e.type_a = ex.type_a AND e.type_b = ex.type_b
          | JOIN cnt ca ON ca.event_type = e.type_a
          | JOIN cnt cb ON cb.event_type = e.type_b""".stripMargin)
    }),
    "sketch_quantile_check" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      ParquetSource.read(s, s"$d/lineitem.parquet").createOrReplaceTempView("graft_li")
      s.sql(
        """WITH q AS (
          | SELECT l_returnflag,
          |  element_at(graft_kll_quantiles(l_quantity, array(0.5D)), 1) AS q50
          | FROM graft_li GROUP BY l_returnflag),
          |r AS (
          | SELECT l_returnflag, l_quantity,
          |  CAST(row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) AS BIGINT) AS rn,
          |  count(*) OVER (PARTITION BY l_returnflag) AS n
          | FROM graft_li),
          |b AS (
          | SELECT l_returnflag,
          |  max(CASE WHEN rn = CAST(ceil(n * 0.45) AS BIGINT) THEN l_quantity END) AS lo,
          |  max(CASE WHEN rn = CAST(ceil(n * 0.55) AS BIGINT) THEN l_quantity END) AS hi
          | FROM r GROUP BY l_returnflag)
          |SELECT q.l_returnflag, b.lo, b.hi,
          | q.q50 >= b.lo AND q.q50 <= b.hi AS q50_within_rank_bounds
          |FROM q JOIN b ON q.l_returnflag = b.l_returnflag""".stripMargin)
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — composed from the per-family catalog
    * objects under [[graft.catalog]] (round-11 split; families are
    * key-disjoint, asserted by OperatorsSpec). Keys absent here get the
    * driver's weaker rows-only check.
    */
  lazy val oracleSql: Map[String, String] =
    catalog.RelationalOracles.sql ++
    catalog.EventOracles.sql ++
    catalog.TextOracles.sql ++
    catalog.DedupOracles.sql ++
    catalog.AnnOracles.sql ++
    catalog.GraphOracles.sql ++
    catalog.MultimodalOracles.sql ++
    catalog.SketchOracles.sql
}
