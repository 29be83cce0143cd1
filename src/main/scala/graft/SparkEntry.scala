package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a pure `(SparkSession, sfDir) =>
  * DataFrame` builder; [[oracleSql]] carries the equivalent DuckDB SQL
  * (SURVEY.md Appendix A, validated) with `{dir}` as the scale-factor
  * directory placeholder — `Verify` resolves it to an absolute path
  * before dumping, so the emitted SQL is directly runnable.
  *
  * Determinism discipline (SURVEY §2.7 + Appendix B): every rounded
  * double column carries the Det epsilon nudge (`+1e-7` before
  * round-4, `+2e-5` before round-2) on BOTH sides, so round-half
  * boundary cases can never be decided differently by the two engines.
  * ListMap keeps declaration order stable for Verify/Bench output.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. curate_corpus exercises the most engine surface in one
    * plan: scan → md5 dedup window → quality expressions → hash
    * split → hash agg → sort.
    */
  def entry(spark: SparkSession): DataFrame =
    TextOps.curateCorpus(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    // §2.1 SLI/SLO analytics surface
    "sli_filter_project" -> (SliQueries.sliFilterProject _),
    "sli_minute_downsample" -> (SliQueries.sliMinuteDownsample _),
    "sli_weighted_avg" -> (SliQueries.sliWeightedAvg _),
    "slo_day_report" -> (SliQueries.sloDayReport _),
    "slo_breach_count" -> (SliQueries.sloBreachCount _),
    "slo_compliance_pct" -> (SliQueries.sloCompliancePct _),
    "sli_latest_per_user" -> (SliQueries.sliLatestPerUser _),
    "sli_rolling_7d" -> (SliQueries.sliRolling7d _),
    "sli_sessionize" -> (SliQueries.sliSessionize _),
    "slo_hourly_tumble" -> (SliQueries.sloHourlyTumble _),
    "error_budget_burn" -> (SliQueries.errorBudgetBurn _),
    // §2.2 relational / star-schema surface
    "rev_by_region" -> (RelationalQueries.revByRegion _),
    "top10_customers" -> (RelationalQueries.top10Customers _),
    "semi_join_urgent" -> (RelationalQueries.semiJoinUrgent _),
    "anti_join_no_p_orders" -> (RelationalQueries.antiJoinNoPOrders _),
    "outer_join_linecount" -> (RelationalQueries.outerJoinLinecount _),
    "range_join_shipwindow" -> (RelationalQueries.rangeJoinShipwindow _),
    "asof_prior_view" -> (RelationalQueries.asofPriorView _),
    "rollup_region_nation" -> (RelationalQueries.rollupRegionNation _),
    "cube_flag_status" -> (RelationalQueries.cubeFlagStatus _),
    "set_ops_customers" -> (RelationalQueries.setOpsCustomers _),
    "distinct_exact" -> (RelationalQueries.distinctExact _),
    "supplier_nation_rev" -> (RelationalQueries.supplierNationRev _),
    "rank_parts" -> (RelationalQueries.rankParts _),
    // §2.3 scalar-function surface
    "string_funcs" -> (ScalarQueries.stringFuncs _),
    "date_funcs" -> (ScalarQueries.dateFuncs _),
    "math_funcs" -> (ScalarQueries.mathFuncs _),
    "json_extract_agg" -> (ScalarQueries.jsonExtractAgg _),
    "percentile_value" -> (ScalarQueries.percentileValue _),
    "props_map_agg" -> (ScalarQueries.propsMapAgg _),
    "grouping_sets_mix" -> (ScalarQueries.groupingSetsMix _),
    "window_lag_delta" -> (ScalarQueries.windowLagDelta _),
    "moving_avg_rows" -> (ScalarQueries.movingAvgRows _),
    // §2.4 LLM-pipeline surface
    "topk_words" -> (LlmQueries.topkWords _),
    "dedup_docs" -> (LlmQueries.dedupDocs _),
    "near_dup_pairs" -> (LlmQueries.nearDupPairs _),
    "cosine_topk" -> (LlmQueries.cosineTopk _),
    "mmr_diverse_topk" -> (AnnOps.mmrDiverseTopk _),
    "text_stats" -> (LlmQueries.textStats _),
    // §2.5 scale-path extras (oracle where SQL-expressible, else
    // rows-only + dedicated spec asserting the probabilistic bound)
    "ngram_jaccard" -> (LlmQueries.ngramJaccard _),
    "emb_near_dup" -> (AnnOps.embNearDup _),
    "knn_join_exact" -> (AnnOps.knnJoinExact _),
    "media_bytes_stats" -> (MediaOps.mediaBytesStats _),
    "lang_id" -> (TextOps.langId _),
    "quality_score" -> (TextOps.qualityScore _),
    "token_count" -> (TextOps.tokenCount _),
    "seq_pack_buckets" -> (TextOps.seqPackBuckets _),
    "repetition_stats" -> (TextOps.repetitionStats _),
    "contamination_check" -> (TextOps.contaminationCheck _),
    "pii_scrub" -> (TextOps.piiScrub _),
    "doc_fingerprint" -> (TextOps.docFingerprint _),
    "hash_split" -> (TextOps.hashSplit _),
    "regex_token_profile" -> (TextOps.regexTokenProfile _),
    "curate_corpus" -> (TextOps.curateCorpus _),
    "distinct_hll" -> (DedupOps.distinctHll _),
    "segment_dedup" -> (DedupOps.segmentDedup _),
    "dedup_clusters" -> (GraphOps.dedupClusters _),
    "cluster_keep_best" -> (GraphOps.clusterKeepBest _),
    "semantic_dedup" -> (GraphOps.semanticDedup _),
    "bloom_prefilter_dedup" -> (BloomDedup.bloomPrefilterDedup _),
    "corpus_mix_sample" -> (TextOps.corpusMixSample _),
    // corpus-statistics curation lane (all full oracle): unigram-LM
    // perplexity-style scoring, per-source distribution drift,
    // percentile length trimming
    "unigram_logprob" -> (LlmQueries.unigramLogprob _),
    "token_kl_sources" -> (LlmQueries.tokenKlSources _),
    "length_trim_outliers" -> (TextOps.lengthTrimOutliers _),
    // SLI time-series additions (full oracle): EWMA smoothing,
    // rolling 7-day p95, value histogram
    "ewma_smooth" -> (SliQueries.ewmaSmooth _),
    "rolling_p95" -> (SliQueries.rollingP95 _),
    "hist_buckets" -> (ScalarQueries.histBuckets _),
    // statistics + calibration wave (all full oracle): OLS trend,
    // argmax aggregates, robust dispersion (MAD/IQR), bit/bool
    // aggregate planes, Zipf-exponent corpus quality, rank-based
    // cross-source score calibration
    "regr_value_trend" -> (SliQueries.regrValueTrend _),
    "minmax_by_day" -> (SliQueries.minmaxByDay _),
    "mad_robust" -> (ScalarQueries.madRobust _),
    "bitbool_aggs" -> (ScalarQueries.bitboolAggs _),
    "zipf_slope" -> (LlmQueries.zipfSlope _),
    "quantile_norm_chars" -> (TextOps.quantileNormChars _),
    // engagement/incident/co-occurrence wave (all full oracle):
    // exact trailing-7d distinct actives (HLL twin's ground truth),
    // gaps-and-islands breach streaks, market-basket pair counts
    "rolling_active_users" -> (SliQueries.rollingActiveUsers _),
    "breach_streaks" -> (SliQueries.breachStreaks _),
    "copurchase_pairs" -> (RelationalQueries.copurchasePairs _),
    // product/revenue analytics (both full oracle): time-bounded
    // ordered funnel via stacked running-min windows, Pareto/Gini
    // revenue-concentration report
    "funnel_steps" -> (SliQueries.funnelSteps _),
    "pareto_share" -> (RelationalQueries.paretoShare _),
    "pareto_share_prefix" -> (RelationalQueries.paretoSharePrefix _),
    // temporal/graph analytics wave (all full oracle): conversion
    // latency distribution, sweep-line session concurrency,
    // histogram-exact fulfillment percentiles, iterative PageRank
    "time_to_convert" -> (SliQueries.timeToConvert _),
    "peak_concurrency" -> (SliQueries.peakConcurrency _),
    "ship_latency" -> (RelationalQueries.shipLatency _),
    "copurchase_pagerank" -> (RelationalQueries.copurchasePagerank _),
    // growth/engagement reporting wave (all full oracle): retention
    // triangle, DAU acquisition split, weekday seasonality index,
    // repeat-purchase cadence
    "cohort_retention" -> (SliQueries.cohortRetention _),
    "new_vs_returning" -> (SliQueries.newVsReturning _),
    "seasonal_dow_index" -> (SliQueries.seasonalDowIndex _),
    "repeat_cadence" -> (RelationalQueries.repeatCadence _),
    // behavioral-sequence + experimentation wave (all full oracle):
    // Markov transition matrix, top session journeys, A/B
    // two-proportion z readout, lexical-diversity entropy profile
    "event_transitions" -> (SliQueries.eventTransitions _),
    "session_paths" -> (SliQueries.sessionPaths _),
    "ab_test_conversion" -> (SliQueries.abTestConversion _),
    "entropy_ttr" -> (LlmQueries.entropyTtr _),
    // ops/quality wave (all full oracle): blocked edit-distance
    // entity resolution, RFM segmentation, arrival-process profile,
    // per-column data-quality profile
    "fuzzy_name_pairs" -> (RelationalQueries.fuzzyNamePairs _),
    "rfm_segments" -> (RelationalQueries.rfmSegments _),
    "interarrival_stats" -> (SliQueries.interarrivalStats _),
    "dq_profile" -> (ScalarQueries.dqProfile _),
    // SLO lifecycle wave (all full oracle): budget-burn trend +
    // projection, alert flapping, seasonal trend/dow/residual split
    "burn_forecast" -> (SliQueries.burnForecast _),
    "flap_rate" -> (SliQueries.flapRate _),
    "seasonal_decompose" -> (SliQueries.seasonalDecompose _),
    // imputation/attribution/discrete-stats wave (all full oracle)
    "locf_impute" -> (SliQueries.locfImpute _),
    // r5: linear interpolation across masked gaps (LOCF's companion;
    // multi-day gaps ramp instead of plateauing; full oracle)
    "interp_impute" -> (SliQueries.interpImpute _),
    "purchase_attribution" -> (SliQueries.purchaseAttribution _),
    "quantile_disc_mode" -> (ScalarQueries.quantileDiscMode _),
    // pipeline-summary wave (all full oracle): curation yield
    // funnel, embedding-distribution health gate
    "curation_funnel" -> (TextOps.curationFunnel _),
    "emb_stats" -> (AnnOps.embStats _),
    // weighted/banded quantile wave (all full oracle)
    "weighted_median_price" -> (RelationalQueries.weightedMedianPrice _),
    "daily_percentile_bands" -> (SliQueries.dailyPercentileBands _),
    // cross-series dependence wave (all full oracle)
    "type_corr_matrix" -> (SliQueries.typeCorrMatrix _),
    "value_autocorr" -> (SliQueries.valueAutocorr _),
    // embedding-geometry + corpus-growth wave (all full oracle)
    "label_separation" -> (AnnOps.labelSeparation _),
    "vocab_growth" -> (LlmQueries.vocabGrowth _),
    // planning-diagnostics wave (full oracle): the skew profiler
    // that decides plain-shuffle vs AQE-split vs salted_join
    "skew_profile" -> (SkewOps.skewProfile _),
    // order-economics wave (all full oracle): the TPC-H Q6 shape,
    // daily open-order backlog sweep
    "revenue_discount_band" -> (RelationalQueries.revenueDiscountBand _),
    "orders_backlog" -> (RelationalQueries.ordersBacklog _),
    // concentration + availability wave (all full oracle)
    "supplier_hhi" -> (RelationalQueries.supplierHhi _),
    "max_gap_minutes" -> (SliQueries.maxGapMinutes _),
    "near_dup_minhash" -> (DedupOps.nearDupMinhash _),
    "simhash_dups" -> (DedupOps.simhashDups _),
    "source_overlap" -> (DedupOps.sourceOverlap _),
    "percentile_approx_value" -> (ScalarQueries.percentileApproxValue _),
    "ann_cosine_topk" -> (AnnOps.annCosineTopk _),
    "sketch_rollup" -> (SketchRollup.sketchRollup _),
    "srp_near_dup" -> (AnnOps.srpNearDup _),
    "salted_join" -> (SkewOps.saltedJoinQuery _),
    // r6: the hot-key-only salted join (measured 2.1x crossover in
    // BASELINE.md's round-6 skew addendum) through the same
    // oracle-hash gate (full oracle)
    "salted_hot_join" -> (SkewOps.saltedHotJoinQuery _),
    "ann_knn_join" -> (AnnOps.annKnnJoin _),
    "curate_corpus_neardup" -> (TextOps.curateCorpusNearDup _),
    "slo_report_maintained" -> (ReportMaintenance.sloReportMaintained _),
    "interval_join_views" -> (graft.streaming.StreamJoins.intervalJoinViews _),
    "burn_rate_alerts" -> (SliQueries.burnRateAlerts _),
    "zscore_anomaly" -> (SliQueries.zscoreAnomaly _),
    "heavy_hitters" -> (LlmQueries.heavyHitters _),
    "pivot_day_type" -> (RelationalQueries.pivotDayType _),
    "unpivot_type_stats" -> (RelationalQueries.unpivotTypeStats _),
    "stratified_sample" -> (TextOps.stratifiedSample _),
    // rows-only (GK sketch internals have no DuckDB mirror; rank
    // bound asserted in QuantileSketchSpec)
    "quantile_sketch_rollup" -> (QuantileRollup.quantileSketchRollup _),
    "gap_fill_minutes" -> (SliQueries.gapFillMinutes _),
    "weekly_retention" -> (SliQueries.weeklyRetention _),
    "ntile_quartiles" -> (ScalarQueries.ntileQuartiles _),
    "tfidf_top_terms" -> (LlmQueries.tfidfTopTerms _),
    "above_brand_avg" -> (RelationalQueries.aboveBrandAvg _),
    "range_frame_daily" -> (RelationalQueries.rangeFrameDaily _),
    // rows-only (approximate shortlist; recall/compression bounds in
    // PqSpec) — the memory-bound ANN path: PQ codes + exact re-rank
    "pq_topk" -> (PqIndex.pqTopkQuery _),
    // rows-only (IvfPqSpec) — IVF partition pruning × PQ narrow scan
    "ivfpq_topk" -> (IvfPq.ivfpqTopk _),
    // recursive CTE (full oracle): non-linear budget recurrence
    "budget_carryover" -> (SliQueries.budgetCarryover _),
    // r6: the same carryover recurrence as ONE clamp-monoid window
    // scan — recursion depth leaves the job count (full oracle: the
    // identical recursive CTE, so the hash gate proves the swap)
    "budget_carryover_scan" -> (SliQueries.budgetCarryoverScan _),
    // Spark 4 VARIANT path + SQL-defined functions (both full oracle)
    "props_variant_stats" -> (ScalarQueries.propsVariantStats _),
    "sql_udf_slo" -> (ScalarQueries.sqlUdfSlo _),
    // HOF array surface + ANSI-safe try_* arithmetic (both full oracle)
    "array_funcs" -> (TextOps.arrayFuncs _),
    "try_funcs" -> (ScalarQueries.tryFuncs _),
    // rows-only (MediaSpec: hash laws + pigeonhole recall) —
    // perceptual-hash media near-dup, output-linear
    "phash_dups" -> (MediaOps.phashDups _),
    // statistical-moment aggregates (full oracle, population-def parity)
    "dist_moments" -> (ScalarQueries.distMoments _),
    // ordered string aggregation (Spark 4 listagg, full oracle)
    "listagg_sources" -> (ScalarQueries.listaggSources _),
    // LATERAL correlated subquery + aggregate FILTER clause (full oracle)
    "lateral_topn" -> (RelationalQueries.lateralTopn _),
    "filtered_aggs" -> (RelationalQueries.filteredAggs _),
    // r5: the documented 100 TB sketch swaps, wired as variants
    // (rows-only — approximate by design; ScaleVariantSpec pins each
    // against its exact oracle-backed twin)
    "dq_profile_hll" -> (ScaleVariants.dqProfileHll _),
    "rolling_active_users_sketch" -> (ScaleVariants.rollingActiveUsersSketch _),
    "mad_robust_gk" -> (ScaleVariants.madRobustGk _),
    // r5: filtered ANN (predicate + vector) — rows-only; recall floor
    // vs the exact filtered brute force + pushdown pins in
    // AnnFilteredSpec
    "ann_filtered_topk" -> (AnnOps.annFilteredTopk _),
    // r5: lexical retrieval lane (BM25, full oracle) beside the
    // vector lanes — hybrid-retrieval surface for curation pipelines
    "bm25_search" -> (LlmQueries.bm25Search _),
    // r5: hybrid retrieval — Reciprocal Rank Fusion of the BM25
    // lexical lane and the dense cosine lane (full oracle)
    "hybrid_rrf" -> (LlmQueries.hybridRrf _),
    // r5: duplicate-text fraction at 8-gram shingle grain (Lee et
    // al. 2021's substring-dedup diagnostic; full oracle)
    "dup_ngram_coverage" -> (TextOps.dupNgramCoverage _),
    // r5: directed containment |A∩B|/|A| — the near-superset
    // relation Jaccard misses (subsumed-doc detection; full oracle)
    "containment_pairs" -> (LlmQueries.containmentPairs _),
    "containment_lsh" -> (DedupOps.containmentLsh _),
    // r5: χ² discriminative terms per language — feature selection
    // for source/quality classifiers (full oracle)
    "chi2_terms" -> (LlmQueries.chi2Terms _),
    // r5: PMI collocation mining — phrase candidates beyond chance
    // co-occurrence (full oracle)
    "bigram_pmi" -> (LlmQueries.bigramPmi _),
    // r5: market-basket association rules — confidence + lift over
    // order baskets (full oracle)
    "lift_rules" -> (RelationalQueries.liftRules _),
    // r5: corpus-scale LSH cluster closure (rows-only; precision /
    // recall vs the exact bounded closure pinned in LshClusterSpec)
    "lsh_dedup_clusters" -> (GraphOps.lshDedupClusters _),
    // r5: deterministic Lloyd k-means over embeddings — grid-rounded
    // iterations replayed by the oracle's unrolled CTEs (full oracle)
    "kmeans_assign" -> (ClusterOps.kmeansAssign _),
    // r5: degree-ordered triangle census of the co-purchase graph
    // (full oracle via the orientation-independent id-ordered count)
    "triangle_parts" -> (GraphOps.triangleParts _),
    // r5: CUSUM drift detection via the reflection identity — the
    // sustained-shift member of the anomaly family (full oracle)
    "cusum_changepoint" -> (SliQueries.cusumChangepoint _),
    // r5: DSIR importance weights for targeted corpus mixing (full
    // oracle)
    "dsir_weights" -> (LlmQueries.dsirWeights _),
    // r5: percent_rank/cume_dist premium-tail extraction (full
    // oracle)
    "price_position" -> (RelationalQueries.pricePosition _),
    // r5: TPC-H Q21 shape — doubly-correlated EXISTS/NOT EXISTS as
    // co-partitioned semi+anti joins (full oracle)
    "blame_supplier" -> (RelationalQueries.blameSupplier _),
    // r5: log2-binned degree distribution of the co-purchase graph,
    // exact integer bucketing (full oracle)
    "degree_dist" -> (RelationalQueries.degreeDist _),
    // r5: Tukey-fence robust outlier screen, fences on the r4 grid
    // (full oracle)
    "iqr_outliers" -> (SliQueries.iqrOutliers _),
    // r5: TPC-H Q22 shape — scalar-subquery filter + anti join on a
    // date-sliced fact (full oracle)
    "idle_rich_customers" -> (RelationalQueries.idleRichCustomers _),
    // r5: novelty-decay curve at 8-gram shingle grain — the
    // incremental-dedup policy instrument (full oracle)
    "shingle_novelty" -> (TextOps.shingleNovelty _),
    // r5: top-10 most-similar source pairs by token-vector cosine —
    // exact redundancy twin of source_overlap's MinHash estimate
    // (full oracle)
    "source_cosine_pairs" -> (LlmQueries.sourceCosinePairs _),
    // r5: Gini inequality summary completing the concentration
    // family (pareto curve, HHI) via the ranked-sum identity (full
    // oracle)
    "revenue_gini_by_segment" -> (RelationalQueries.revenueGiniBySegment _),
    // r5: Newman degree-assortativity of the co-purchase graph —
    // the third graph-structure diagnostic beside degree_dist and
    // triangle_parts (full oracle)
    "degree_assortativity" -> (GraphOps.degreeAssortativity _),
    // r5: character-distribution entropy per lang — the encoding-
    // health signal token stats can't see (full oracle)
    "char_entropy" -> (TextOps.charEntropy _),
    // r6: TPC-H Q10 shape — returned-item revenue by customer, agg
    // BEFORE the dim joins (full oracle)
    "returned_revenue" -> (RelationalQueries.returnedRevenue _),
    // r6: TPC-H Q17 decorrelation shape — correlated per-part avg
    // threshold, one partkey partitioning end-to-end (full oracle)
    "small_qty_revenue" -> (RelationalQueries.smallQtyRevenue _),
    // r6: TPC-H Q18 shape — group-HAVING qty rollup, 20-row result
    // broadcast AT the customer dimension (full oracle)
    "bulk_orders" -> (RelationalQueries.bulkOrders _),
    // r6: TPC-H Q15 shape — max-revenue supplier over a shipdate
    // window via single-row broadcast max (full oracle)
    "top_supplier_window" -> (RelationalQueries.topSupplierWindow _),
    // r6: TPC-H Q14 shape — PROMO revenue share per ship month,
    // conditional share in one agg (full oracle)
    "promo_share_monthly" -> (RelationalQueries.promoShareMonthly _),
    // r6: TPC-H Q8 shape — national market share inside a regional
    // market, two dim chains off one fact row (full oracle)
    "nation_market_share" -> (RelationalQueries.nationMarketShare _),
    // r6: Population Stability Index of the per-type value
    // distribution between month halves — the drift monitor (full
    // oracle)
    "psi_drift" -> (SliQueries.psiDrift _),
    // r6: token-length survival curve (CCDF at power-of-2
    // thresholds) per lang — the seq-len budget instrument (full
    // oracle)
    "length_survival" -> (TextOps.lengthSurvival _),
    // r6: TPC-H Q2 shape — correlated per-part min price decorrelated
    // onto one partkey partitioning (full oracle)
    "cheapest_supplier" -> (RelationalQueries.cheapestSupplier _),
    // r6: TPC-H Q7 shape — bilateral nation trade volume, dim-side
    // nation filters before any fact touch (full oracle)
    "nation_trade_volume" -> (RelationalQueries.nationTradeVolume _),
    // r6: TPC-H Q11 shape — group-HAVING against a broadcast global
    // scalar threshold (full oracle)
    "major_parts" -> (RelationalQueries.majorParts _),
    // r6: TPC-H Q16 shape — count-distinct suppliers with a NOT-IN
    // exclusion anti-joined on the collapsed grain (full oracle)
    "supplier_variety" -> (RelationalQueries.supplierVariety _),
    // r6: TPC-H Q20 shape — nested correlated-threshold dominance
    // filter, two-level rollup on one partkey partitioning (full
    // oracle)
    "dominant_suppliers" -> (RelationalQueries.dominantSuppliers _),
    // r6: near-dup pairs crossing the hash_split boundary — the
    // in-corpus split-contamination check (full oracle)
    "split_leakage" -> (TextOps.splitLeakage _),
    // r6: Efraimidis–Spirakis deterministic weighted sampling without
    // replacement, content-hash uniforms (full oracle)
    "weighted_sample" -> (TextOps.weightedSample _),
    // r6: 3-core of the co-purchase graph — synchronous peel to
    // fixpoint, oracle replays the peel unrolled (full oracle)
    "kcore_parts" -> (GraphOps.kcoreParts _),
    // r6: Holt level+trend smoothing as a DISTRIBUTED affine-monoid
    // scan (Blelloch parallel recurrence; full recursive-CTE oracle)
    "holt_smooth" -> (RecurrenceOps.holtSmooth _),
    // r6: link prediction — top-10 non-adjacent pairs by common
    // neighbors, wedge-join candidates only (full oracle)
    "common_neighbor_recs" -> (GraphOps.commonNeighborRecs _),
    "common_neighbor_recs_capped" ->
      ((s: SparkSession, d: String) => GraphOps.commonNeighborRecsCapped(s, d)),
    // r6: BFS hop-distance histogram from the top-degree hub —
    // frontier expansion, unrolled Bellman-Ford oracle (full oracle)
    "hub_distance" -> (GraphOps.hubDistance _),
    // r6: Pareto frontier of the part catalog via price-grain cummax;
    // oracle keeps the quadratic NOT EXISTS form (full oracle)
    "skyline_parts" -> (RelationalQueries.skylineParts _),
    "skyline_parts_2p" -> (RelationalQueries.skylineParts2p _),
    // r6: leading-digit distribution vs Benford's law — the
    // fabricated-amounts DQ screen (full oracle)
    "benford_digits" -> (ScalarQueries.benfordDigits _),
    // r6: per-source bigram-LM log-probability — the sequence-aware
    // quality gate unigram_logprob can't express (full oracle)
    "bigram_logprob" -> (LlmQueries.bigramLogprob _),
    "bigram_logprob_pruned" -> (LlmQueries.bigramLogprobPruned _),
    // r6: Holt one-step-forecast residual anomalies — the recurrence
    // plane's detector consumer, residuals row-local via the
    // invertible update (full oracle)
    "holt_anomaly" -> (RecurrenceOps.holtAnomaly _),
    // r6: running-peak drawdown per type in ingestion order — the
    // max-monoid prefix scan (PrefixOps.prefixMaxBy) at raw-event
    // grain (full oracle)
    "value_drawdown" -> (SliQueries.valueDrawdown _),
    // r6: Kaplan-Meier view->purchase survival with right-censoring —
    // the unbiased companion to time_to_convert (full oracle)
    "survival_conversion" -> (SliQueries.survivalConversion _),
    // r6: tie-corrected Mann-Whitney U on value distributions — the
    // nonparametric A/B companion, value-domain histogram ranks
    // (full oracle)
    "mwu_value_test" -> (ScalarQueries.mwuValueTest _),
    // r6: entity resolution — fuzzy-name pair edges closed into
    // connected components, one row per multi-name entity (full
    // oracle)
    "name_entity_clusters" -> (RelationalQueries.nameEntityClusters _),
    // r6: weighted isotonic regression of return rate on discount via
    // the minimax PAVA identity — pure relational algebra, no
    // iteration (full oracle)
    "isotonic_return_rate" -> (RelationalQueries.isotonicReturnRate _),
    // r6: Theil-Sen robust trend (median of pairwise slopes) — the
    // outlier-proof twin of regr_value_trend (full oracle)
    "theilsen_trend" -> (SliQueries.theilsenTrend _),
    "theilsen_trend_sampled" ->
      ((s: SparkSession, d: String) => SliQueries.theilsenTrendSampled(s, d)),
    // r6: two-sample Kolmogorov-Smirnov on value distributions — the
    // shape-test companion to mwu_value_test (full oracle)
    "ks_value_test" -> (ScalarQueries.ksValueTest _),
    // r7: one-way ANOVA F — the k-group parametric omnibus test from
    // per-type sufficient statistics (full oracle)
    "anova_value_test" -> (ScalarQueries.anovaValueTest _),
    // r7: tie-corrected Kruskal-Wallis H — the k-group rank test on
    // the value-domain histogram plane (full oracle)
    "kruskal_value_test" -> (ScalarQueries.kruskalValueTest _),
    // r7: Spearman rank correlation (hour-of-day vs value) over the
    // bounded (hour, value) cell grid (full oracle)
    "spearman_value_hour" -> (ScalarQueries.spearmanValueHour _),
    // r7: DFT periodogram at the first six daily harmonics over the
    // minute-of-day rollup — spectral seasonality (full oracle)
    "dft_periodogram" -> (SliQueries.dftPeriodogram _),
    // r7: exact-dup cluster-size distribution — the dedup run report
    // (full oracle)
    "dup_cluster_sizes" -> (LlmQueries.dupClusterSizes _),
    // r7: int8 scalar-quantization reconstruction error by label
    // (full oracle)
    "emb_quantize_error" -> (AnnOps.embQuantizeError _),
    // r7: truncated-dimension recall@10 at d/4 and d/2 — the
    // Matryoshka dimension-reduction evaluation (full oracle)
    "matryoshka_recall" -> (AnnOps.matryoshkaRecall _),
    // r7: label-match P@10 / MRR@10 of exact cosine ranking per
    // query-label class (full oracle)
    "knn_label_eval" -> (AnnOps.knnLabelEval _),
    // r7: top-20 adjacent char pairs — the first BPE merge iteration's
    // statistic (full oracle)
    "bpe_merge_candidates" -> (TextOps.bpeMergeCandidates _),
    // r7: local clustering coefficient by degree bucket (full oracle)
    "clustering_coeff" -> (GraphOps.clusteringCoeff _),
    // r7: split-conformal 90% prediction intervals per type — exact
    // order statistic on the score-domain histogram (full oracle)
    "conformal_interval" -> (ScalarQueries.conformalInterval _),
    // r7: Poisson-bootstrap CI for the mean — 32 content-hash
    // resamples, bit-identical cross-engine (full oracle)
    "bootstrap_ci_mean" -> (ScalarQueries.bootstrapCiMean _),
    // r7: Hill tail-index of the degree distribution (full oracle)
    "hill_tail_index" -> (GraphOps.hillTailIndex _),
    // r7: SCD type-2 version history build from the event stream
    // (full oracle)
    "scd2_versions" -> (SliQueries.scd2Versions _),
    // r7: nightly-ingest incremental dedup against the store on a
    // bag-of-words fingerprint (full oracle)
    "incremental_dedup" -> (TextOps.incrementalDedup _),
    // r7: drift attribution — top token movers between two corpus
    // snapshots by smoothed log-frequency-ratio (full oracle)
    "token_drift_movers" -> (LlmQueries.tokenDriftMovers _),
    // r7: distribution-free median CI via binomial order statistics
    // (full oracle)
    "median_ci_binomial" -> (ScalarQueries.medianCiBinomial _),
    // r7: 5%-trimmed and winsorized means from rank-range overlaps on
    // the histogram plane (full oracle)
    "trimmed_mean" -> (ScalarQueries.trimmedMean _),
    // r7: nDCG@10 with label-match relevance per query-label class —
    // the position-weighted ranking metric (full oracle)
    "ndcg_label_eval" -> (AnnOps.ndcgLabelEval _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables (`{dir}` = sf directory, resolved by
    * Verify). Omit for non-SQL-expressible ops.
    */
  /** kcore_parts oracle: the identical ≥2-support edge build, then
    * the SAME synchronous peel unrolled to a fixed 14 rounds (the
    * kmeans_assign unrolled-CTE-replay discipline) — KcoreSpec pins
    * that the engine's fixpoint loop converges strictly within this
    * depth at the test SFs, so fixed-depth replay ≡ fixpoint.
    */
  private def kcoreOracle: String = {
    // AS MATERIALIZED: each e_i is referenced 3× by the next round —
    // DuckDB's default CTE inlining would expand the parquet scan
    // 3^14 times (observed as a too-many-open-files blowup)
    val rounds = (0 until 14).map { i =>
      s"""k$i AS MATERIALIZED (SELECT n FROM (SELECT a AS n FROM e$i UNION ALL SELECT b FROM e$i) GROUP BY 1 HAVING count(*) >= 3),
         |e${i + 1} AS MATERIALIZED (SELECT e$i.a, e$i.b FROM e$i JOIN k$i ka ON e$i.a = ka.n JOIN k$i kb ON e$i.b = kb.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM read_parquet('{dir}/lineitem.parquet') x
       |  JOIN read_parquet('{dir}/lineitem.parquet') y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |$rounds,
       |nodes AS (SELECT DISTINCT n FROM (SELECT a AS n FROM e14 UNION ALL SELECT b FROM e14))
       |SELECT (SELECT count(*) FROM nodes) AS core_nodes,
       |       (SELECT count(*) FROM e14) AS core_edges,
       |       round(CASE WHEN (SELECT count(*) FROM nodes) = 0 THEN 0.0
       |                  ELSE 2.0 * (SELECT count(*) FROM e14) / (SELECT count(*) FROM nodes)
       |             END + 1e-7, 4) AS avg_core_degree""".stripMargin
  }

  /** hub_distance oracle: the identical edge build + hub pick, then
    * Bellman-Ford relaxation unrolled to a fixed 14 rounds (the kcore
    * replay discipline) — HubDistanceSpec pins that the engine's BFS
    * converges strictly within this depth at the test SFs, so
    * fixed-depth replay ≡ fixpoint. AS MATERIALIZED for the same
    * CTE-inlining reason as kcoreOracle.
    */
  private def hubOracle: String = {
    val rounds = (0 until 14).map { i =>
      s"""d${i + 1} AS MATERIALIZED (
         |  SELECT n, min(d) AS d FROM (
         |    SELECT n, d FROM d$i
         |    UNION ALL
         |    SELECT und.y AS n, d$i.d + 1 AS d FROM d$i JOIN und ON und.x = d$i.n)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b
       |  FROM read_parquet('{dir}/lineitem.parquet') x
       |  JOIN read_parquet('{dir}/lineitem.parquet') y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS MATERIALIZED (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
       |deg AS (SELECT x AS n, count(*) AS deg FROM und GROUP BY 1),
       |d0 AS (SELECT n, 0 AS d FROM (SELECT n FROM deg ORDER BY deg DESC, n LIMIT 1)),
       |$rounds,
       |nodes AS (SELECT DISTINCT x AS n FROM und)
       |SELECT coalesce(d14.d, -1) AS hops, count(*) AS n_parts
       |FROM nodes LEFT JOIN d14 ON nodes.n = d14.n
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = ListMap(
    "sli_filter_project" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, round((value) + 2e-5, 2) AS value
        |FROM read_parquet('{dir}/events.parquet')
        |WHERE event_type = 'error' AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        |ORDER BY event_id""".stripMargin,
    "sli_minute_downsample" ->
      """SELECT event_type, epoch_ms(date_trunc('minute', ts)) AS minute_ms,
        |       round((avg(value)) + 1e-7, 4) AS avg_value, count(*) AS n
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sli_weighted_avg" ->
      """SELECT event_type,
        |       round((sum(value * CAST(json_extract_string(props, '$.k') AS BIGINT))
        |             / nullif(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0)) + 1e-7, 4) AS weighted_avg
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    "slo_day_report" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |       count(*) AS n, round((avg(value)) + 1e-7, 4) AS avg_value,
        |       round((min(value)) + 2e-5, 2) AS min_value, round((max(value)) + 2e-5, 2) AS max_value,
        |       round((sum(value)) + 2e-5, 2) AS sum_value
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "slo_breach_count" ->
      """WITH per_min AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT event_type, count(*) AS minutes,
        |       CAST(sum(CASE WHEN v < 50 OR v > 150 THEN 1 ELSE 0 END) AS BIGINT) AS breaches
        |FROM per_min GROUP BY 1 ORDER BY 1""".stripMargin,
    "slo_compliance_pct" ->
      """WITH per_min AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT event_type,
        |       round((100.0 * sum(CASE WHEN v >= 50 AND v <= 150 THEN 1 ELSE 0 END) / count(*)) + 1e-7, 4) AS compliance_pct
        |FROM per_min GROUP BY 1 ORDER BY 1""".stripMargin,
    "sli_latest_per_user" ->
      """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type, round((value) + 2e-5, 2) AS value
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM read_parquet('{dir}/events.parquet')) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "sli_rolling_7d" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT event_type, day,
        |       round((avg(v) OVER (PARTITION BY event_type ORDER BY day
        |                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) + 1e-7, 4) AS rolling_7d_avg
        |FROM daily ORDER BY event_type, day""".stripMargin,
    "sli_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM read_parquet('{dir}/events.parquet') WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | sess AS (
        |  SELECT user_id, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked)
        |SELECT user_id, count(DISTINCT session_id) AS n_sessions,
        |       round((count(*) * 1.0 / count(DISTINCT session_id)) + 1e-7, 4) AS avg_events_per_session
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin,
    "slo_hourly_tumble" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |       count(*) AS n, round((avg(value)) + 1e-7, 4) AS avg_value
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "error_budget_burn" ->
      """WITH per_min AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        | daily AS (
        |  SELECT event_type, CAST(date_trunc('day', m) AS DATE) AS day,
        |         count(*) AS minutes,
        |         sum(CASE WHEN v < 50 OR v > 150 THEN 1 ELSE 0 END) AS breaches
        |  FROM per_min GROUP BY 1, 2)
        |SELECT event_type,
        |       round((max(breaches / (minutes * 0.01))) + 1e-7, 4) AS max_daily_burn,
        |       round((avg(breaches / (minutes * 0.01))) + 1e-7, 4) AS avg_daily_burn
        |FROM daily GROUP BY 1 ORDER BY 1""".stripMargin,
    // §2.2 relational / star-schema surface
    "rev_by_region" ->
      """SELECT r_name, round((sum(l_extendedprice * (1 - l_discount))) + 2e-5, 2) AS revenue,
        |       count(*) AS n_lines
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        |JOIN read_parquet('{dir}/customer.parquet') c ON o.o_custkey = c.c_custkey
        |JOIN read_parquet('{dir}/nation.parquet') n ON c.c_nationkey = n.n_nationkey
        |JOIN read_parquet('{dir}/region.parquet') r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "top10_customers" ->
      """SELECT c.c_custkey, c.c_name, round((sum(l_extendedprice * (1 - l_discount))) + 2e-5, 2) AS revenue
        |FROM read_parquet('{dir}/customer.parquet') c
        |JOIN read_parquet('{dir}/orders.parquet') o ON o.o_custkey = c.c_custkey
        |JOIN read_parquet('{dir}/lineitem.parquet') l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,
    "semi_join_urgent" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM read_parquet('{dir}/customer.parquet') c
        |WHERE EXISTS (SELECT 1 FROM read_parquet('{dir}/orders.parquet') o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "anti_join_no_p_orders" ->
      """SELECT c_mktsegment, count(*) AS n_customers, round((avg(c_acctbal)) + 1e-7, 4) AS avg_bal
        |FROM read_parquet('{dir}/customer.parquet') c
        |WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{dir}/orders.parquet') o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "outer_join_linecount" ->
      """WITH per_order AS (
        |  SELECT o.o_orderkey, count(l.l_orderkey) AS n_lines
        |  FROM read_parquet('{dir}/orders.parquet') o
        |  LEFT JOIN read_parquet('{dir}/lineitem.parquet') l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1)
        |SELECT n_lines, count(*) AS n_orders
        |FROM per_order GROUP BY 1 ORDER BY 1""".stripMargin,
    "range_join_shipwindow" ->
      """SELECT o.o_orderpriority, count(*) AS lines_shipped_90d
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        | AND l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "asof_prior_view" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM read_parquet('{dir}/events.parquet') WHERE event_type = 'purchase'),
        | views AS (
        |  SELECT user_id, ts FROM read_parquet('{dir}/events.parquet') WHERE event_type = 'view'),
        | matched AS (
        |  SELECT p.user_id, p.event_id, max(v.ts) AS last_view_ts
        |  FROM purchases p LEFT JOIN views v
        |    ON v.user_id = p.user_id AND v.ts <= p.ts
        |  GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_purchases,
        |       count(last_view_ts) AS with_prior_view,
        |       round((avg((epoch_ms(ts) - epoch_ms(last_view_ts)) / 1000.0)) + 2e-5, 2) AS avg_gap_s
        |FROM matched m JOIN purchases p USING (event_id, user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rollup_region_nation" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |       round((sum(l_extendedprice * (1 - l_discount))) + 2e-5, 2) AS revenue
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        |JOIN read_parquet('{dir}/customer.parquet') c ON o.o_custkey = c.c_custkey
        |JOIN read_parquet('{dir}/nation.parquet') n ON c.c_nationkey = n.n_nationkey
        |JOIN read_parquet('{dir}/region.parquet') r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2""".stripMargin,
    "cube_flag_status" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       round((sum(l_quantity)) + 2e-5, 2) AS sum_qty, count(*) AS n
        |FROM read_parquet('{dir}/lineitem.parquet')
        |GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY 1, 2""".stripMargin,
    "set_ops_customers" ->
      """WITH hi AS (SELECT c_custkey FROM read_parquet('{dir}/customer.parquet') WHERE c_acctbal > 5000),
        | auto AS (SELECT c_custkey FROM read_parquet('{dir}/customer.parquet') WHERE c_mktsegment = 'AUTOMOBILE'),
        | urgent AS (SELECT DISTINCT o_custkey AS c_custkey FROM read_parquet('{dir}/orders.parquet') WHERE o_orderpriority = '1-URGENT')
        |SELECT 'union' AS op, count(*) AS n FROM (SELECT * FROM hi UNION SELECT * FROM auto) t
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (SELECT * FROM hi INTERSECT SELECT * FROM urgent) t
        |UNION ALL
        |SELECT 'except', count(*) FROM (SELECT * FROM auto EXCEPT SELECT * FROM urgent) t
        |ORDER BY 1""".stripMargin,
    "distinct_exact" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    // salted_join: the salt is semantics-preserving, so the PLAIN
    // join+agg is a valid oracle — a hash match proves row-identity
    // through the salted path. srp_near_dup stays rows-only (SRP
    // signatures hash-seeded Spark-side; SrpProps/SrpPlanSpec carry
    // the quantitative evidence).
    "salted_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |       round((sum(l_extendedprice)) + 2e-5, 2) AS revenue
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/supplier.parquet') s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "salted_hot_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |       round((sum(l_extendedprice)) + 2e-5, 2) AS revenue
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/supplier.parquet') s ON l.l_suppkey = s.s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "supplier_nation_rev" ->
      """SELECT n_name, round((sum(l_extendedprice * (1 - l_discount))) + 2e-5, 2) AS revenue,
        |       count(DISTINCT s_suppkey) AS n_suppliers
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/supplier.parquet') s ON l.l_suppkey = s.s_suppkey
        |JOIN read_parquet('{dir}/nation.parquet') n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "rank_parts" ->
      """SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
        |  SELECT p_brand, p_partkey, round((p_retailprice) + 2e-5, 2) AS p_retailprice,
        |         CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rnk
        |  FROM read_parquet('{dir}/part.parquet')) t
        |WHERE rnk <= 3 ORDER BY p_brand, rnk, p_partkey""".stripMargin,
    // §2.3 scalar-function surface
    "string_funcs" ->
      """SELECT upper(p_brand) AS brand,
        |       count(*) AS n,
        |       CAST(sum(CASE WHEN p_name LIKE 'small%' THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
        |       max(length(p_name)) AS max_name_len,
        |       min(regexp_extract(p_brand, '[0-9]+')) AS brand_num,
        |       max(concat(p_type, ':', substr(p_name, 1, 3))) AS max_concat
        |FROM read_parquet('{dir}/part.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    "date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m,
        |       count(*) AS n_orders,
        |       CAST(min(dayofweek(o_orderdate)) AS INT) AS min_dow,
        |       CAST(max(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS INT) AS max_days_since
        |FROM read_parquet('{dir}/orders.parquet') GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "math_funcs" ->
      """SELECT l_returnflag,
        |       round((sum(round((l_extendedprice * (1 + l_tax)) + 2e-5, 2))) + 2e-5, 2) AS gross,
        |       round((avg(sqrt(l_quantity))) + 1e-7, 4) AS avg_sqrt_qty,
        |       round((avg(ln(l_extendedprice + 1))) + 1e-7, 4) AS avg_ln_price,
        |       round((max(pow(l_discount, 2))) + 1e-7, 4) AS max_disc_sq,
        |       round((sum(abs(l_quantity - 25))) + 2e-5, 2) AS sum_abs_dev
        |FROM read_parquet('{dir}/lineitem.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    "json_extract_agg" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |       count(*) AS n, round((avg(value)) + 1e-7, 4) AS avg_value
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    "percentile_value" ->
      """SELECT event_type,
        |       round((quantile_cont(value, 0.5)) + 1e-7, 4) AS p50,
        |       round((quantile_cont(value, 0.9)) + 1e-7, 4) AS p90,
        |       round((quantile_cont(value, 0.99)) + 1e-7, 4) AS p99
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    "props_map_agg" ->
      """WITH ks AS (
        |  SELECT event_type, unnest(json_keys(props)) AS key, props
        |  FROM read_parquet('{dir}/events.parquet')),
        | kv AS (
        |  SELECT event_type, key,
        |         CAST(json_extract_string(props, '$.' || key) AS BIGINT) AS kv
        |  FROM ks)
        |SELECT event_type, key, count(*) AS n,
        |       round((avg(kv)) + 1e-7, 4) AS avg_k, max(kv) AS max_k
        |FROM kv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "grouping_sets_mix" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(CAST(day AS VARCHAR), 'ALL') AS day,
        |       CAST(grouping(event_type, day) AS BIGINT) AS gid,
        |       count(*) AS n, round((avg(value)) + 1e-7, 4) AS avg_value
        |FROM (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, value
        |      FROM read_parquet('{dir}/events.parquet')) t
        |GROUP BY GROUPING SETS ((event_type), (day), ())
        |ORDER BY gid, event_type, day""".stripMargin,
    // deltas keyed by (event_type, day) — the interarrival_stats
    // re-keying discipline (one lost delta per type per day boundary),
    // mirrored exactly by the Spark window's partition key
    "window_lag_delta" ->
      """WITH d AS (
        |  SELECT event_type, value - lag(value) OVER (
        |    PARTITION BY event_type, CAST(date_trunc('day', ts) AS DATE)
        |    ORDER BY ts, event_id) AS delta
        |  FROM read_parquet('{dir}/events.parquet'))
        |SELECT event_type, count(delta) AS n_deltas, round((avg(abs(delta))) + 1e-7, 4) AS avg_abs_delta
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "moving_avg_rows" ->
      """WITH m AS (
        |  SELECT event_type, date_trunc('minute', ts) AS minute, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        | ma AS (
        |  SELECT event_type, v,
        |         avg(v) OVER (PARTITION BY event_type ORDER BY minute
        |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mv
        |  FROM m)
        |SELECT event_type, round((max(mv)) + 1e-7, 4) AS max_moving_avg, round((min(mv)) + 1e-7, 4) AS min_moving_avg
        |FROM ma GROUP BY 1 ORDER BY 1""".stripMargin,
    // §2.4 LLM-pipeline surface
    "topk_words" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM read_parquet('{dir}/documents.parquet')) t
        |WHERE word <> ''
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    "dedup_docs" ->
      """SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT md5(lower(trim(text)))) AS n_unique,
        |       count(*) - count(DISTINCT md5(lower(trim(text)))) AS n_dups
        |FROM read_parquet('{dir}/documents.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    "segment_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM read_parquet('{dir}/documents.parquet')),
        |base AS (
        |  SELECT doc_id, source, CAST(ceil(len(t) / 8.0) AS BIGINT) AS nseg, t FROM d),
        |inst AS (
        |  SELECT doc_id, array_to_string(t[((i - 1) * 8 + 1):(i * 8)], ' ') AS seg
        |  FROM (SELECT doc_id, t, unnest(range(1, nseg + 1)) AS i FROM base)),
        |dup AS (SELECT seg FROM inst GROUP BY seg HAVING count(*) > 1),
        |rem AS (SELECT doc_id, count(*) AS n_rem FROM inst JOIN dup USING (seg) GROUP BY doc_id)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(nseg) AS BIGINT) AS n_segs,
        |       CAST(sum(coalesce(n_rem, 0)) AS BIGINT) AS n_removed,
        |       CAST(sum(CASE WHEN coalesce(n_rem, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_touched,
        |       round((avg(coalesce(coalesce(n_rem, 0) * 1.0 / nullif(nseg, 0), 0))) + 1e-7, 4) AS avg_frac_removed
        |FROM base LEFT JOIN rem USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ws
        |  FROM read_parquet('{dir}/documents.parquet') WHERE doc_id < 300),
        |pairs AS (
        |  SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws)) * 1.0
        |        / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.8),
        |edges AS (
        |  SELECT lang, a_id AS s, b_id AS d FROM pairs
        |  UNION ALL
        |  SELECT lang, b_id AS s, a_id AS d FROM pairs),
        |reach(lang, node, lbl) AS (
        |  SELECT DISTINCT lang, s, s FROM edges
        |  UNION
        |  SELECT e.lang, e.d, r.lbl
        |  FROM reach r JOIN edges e ON e.lang = r.lang AND e.s = r.node),
        |comp AS (SELECT lang, node, min(lbl) AS cluster_id FROM reach GROUP BY lang, node)
        |SELECT lang, cluster_id, count(*) AS cluster_size
        |FROM comp GROUP BY lang, cluster_id
        |ORDER BY lang, cluster_id""".stripMargin,
    "cluster_keep_best" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ws
        |  FROM read_parquet('{dir}/documents.parquet') WHERE doc_id < 300),
        |pairs AS (
        |  SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.ws, b.ws)) * 1.0
        |        / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.8),
        |edges AS (
        |  SELECT lang, a_id AS s, b_id AS d FROM pairs
        |  UNION ALL
        |  SELECT lang, b_id AS s, a_id AS d FROM pairs),
        |reach(lang, node, lbl) AS (
        |  SELECT DISTINCT lang, s, s FROM edges
        |  UNION
        |  SELECT e.lang, e.d, r.lbl
        |  FROM reach r JOIN edges e ON e.lang = r.lang AND e.s = r.node),
        |comp AS (SELECT lang, node, min(lbl) AS cluster_id FROM reach GROUP BY lang, node),
        |scored AS (
        |  SELECT c.lang, c.cluster_id, c.node, d.n_chars
        |  FROM comp c JOIN read_parquet('{dir}/documents.parquet') d ON d.doc_id = c.node)
        |SELECT lang, cluster_id,
        |       max_by(node, n_chars * 1000000 - node) AS keep_doc_id,
        |       count(*) AS cluster_size,
        |       count(*) - 1 AS n_removed
        |FROM scored GROUP BY lang, cluster_id
        |ORDER BY lang, cluster_id""".stripMargin,
    "semantic_dedup" ->
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM read_parquet('{dir}/embeddings.parquet') WHERE vec_id < 400),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
        |edges AS (
        |  SELECT a_id AS s, b_id AS d FROM pairs
        |  UNION ALL
        |  SELECT b_id AS s, a_id AS d FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT DISTINCT s, s FROM edges
        |  UNION
        |  SELECT e2.d, r.lbl FROM reach r JOIN edges e2 ON e2.s = r.node),
        |comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
        |SELECT c.cluster_id, count(*) AS cluster_size,
        |       count(*) - 1 AS n_dropped,
        |       count(DISTINCT e.label) AS n_labels
        |FROM comp c JOIN e ON e.vec_id = c.node
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "bloom_prefilter_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM read_parquet('{dir}/documents.parquet')),
        |base AS (
        |  SELECT doc_id, lang, CAST(ceil(len(t) / 8.0) AS BIGINT) AS nseg, t FROM d),
        |inst AS (
        |  SELECT doc_id, lang, md5(array_to_string(t[((i - 1) * 8 + 1):(i * 8)], ' ')) AS h
        |  FROM (SELECT doc_id, lang, t, unnest(range(1, nseg + 1)) AS i FROM base)),
        |batch AS (SELECT lang, h FROM inst WHERE doc_id < 100),
        |hist AS (SELECT DISTINCT h AS hh FROM inst WHERE doc_id >= 100)
        |SELECT lang, count(*) AS n_batch_segs,
        |       CAST(sum(CASE WHEN hh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
        |       CAST(sum(CASE WHEN hh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM batch LEFT JOIN hist ON h = hh
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "corpus_mix_sample" ->
      """WITH d AS (
        |  SELECT source, n_chars,
        |         CASE WHEN CAST(substring(source, 4) AS INTEGER) < 5 THEN 65536
        |              WHEN CAST(substring(source, 4) AS INTEGER) < 10 THEN 32768
        |              WHEN CAST(substring(source, 4) AS INTEGER) < 15 THEN 16384
        |              ELSE 8192 END AS thr,
        |         CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) AS u16
        |  FROM read_parquet('{dir}/documents.parquet'))
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN u16 < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |       round(sum(CASE WHEN u16 < thr THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE) + 1e-7, 4) AS realized_rate,
        |       CAST(sum(CASE WHEN u16 < thr THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        |  FROM read_parquet('{dir}/documents.parquet')),
        |tk AS (SELECT * FROM toks WHERE tok <> ''),
        |vocab AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM vocab),
        |doc AS (
        |  SELECT t.doc_id, t.source, avg(-ln(v.cnt / tot.n)) AS nll
        |  FROM tk t JOIN vocab v USING (tok) CROSS JOIN tot
        |  GROUP BY t.doc_id, t.source)
        |SELECT source, count(*) AS n_docs,
        |       round(avg(nll) + 1e-7, 4) AS avg_nll,
        |       round(max(nll) + 1e-7, 4) AS max_nll,
        |       CAST(sum(CASE WHEN round(nll + 1e-7, 4) > 3.45 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM doc GROUP BY 1 ORDER BY 1""".stripMargin,
    "token_kl_sources" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM read_parquet('{dir}/documents.parquet')),
        |tk AS (SELECT * FROM toks WHERE tok <> ''),
        |sc AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(sum(c) AS DOUBLE) AS n FROM sc GROUP BY 1),
        |ctot AS (SELECT tok, CAST(sum(c) AS DOUBLE) AS cc FROM sc GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS nn FROM sc)
        |SELECT s.source, CAST(stot.n AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        |       round(sum((s.c / stot.n) * ln((s.c / stot.n) / (ctot.cc / tot.nn))) + 1e-7, 4) AS kl
        |FROM sc s JOIN stot USING (source) JOIN ctot USING (tok) CROSS JOIN tot
        |GROUP BY 1, stot.n ORDER BY 1""".stripMargin,
    "length_trim_outliers" ->
      """WITH pct AS (
        |  SELECT source,
        |         round(quantile_cont(n_chars, 0.05) + 1e-7, 4) AS p05,
        |         round(quantile_cont(n_chars, 0.95) + 1e-7, 4) AS p95
        |  FROM read_parquet('{dir}/documents.parquet') GROUP BY 1)
        |SELECT d.source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN d.n_chars < p.p05 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_short,
        |       CAST(sum(CASE WHEN d.n_chars > p.p95 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_long,
        |       CAST(sum(CASE WHEN d.n_chars >= p.p05 AND d.n_chars <= p.p95 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |       round((1.0 * sum(CASE WHEN d.n_chars >= p.p05 AND d.n_chars <= p.p95 THEN 1 ELSE 0 END) / count(*)) + 1e-7, 4) AS kept_frac
        |FROM read_parquet('{dir}/documents.parquet') d JOIN pct p USING (source)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ewma_smooth" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |seq AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS INTEGER) AS rn
        |  FROM daily)
        |SELECT event_type, day, round(v + 1e-7, 4) AS avg_value,
        |       round((sum(v * power(2.0, rn)) OVER w) / (sum(power(2.0, rn)) OVER w) + 1e-7, 4) AS ewma
        |FROM seq
        |WINDOW w AS (PARTITION BY event_type ORDER BY rn
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "rolling_p95" ->
      """WITH per_min AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', m) AS DATE) AS day,
        |         quantile_cont(v, 0.95) AS p95raw,
        |         datediff('day', DATE '1970-01-01', CAST(date_trunc('day', m) AS DATE)) AS day_num
        |  FROM per_min GROUP BY 1, 2)
        |SELECT event_type, day, round(p95raw + 1e-7, 4) AS p95,
        |       round((avg(p95raw) OVER w) + 1e-7, 4) AS rolling_p95
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "hist_buckets" ->
      """SELECT event_type,
        |       CAST(least(greatest(floor(value / 10), 0), 19) AS BIGINT) AS bucket,
        |       count(*) AS n, round(avg(value) + 1e-7, 4) AS avg_value
        |FROM read_parquet('{dir}/events.parquet')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "regr_value_trend" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT event_type,
        |       round((regr_slope(v, x)) + 1e-7, 4) AS slope,
        |       round((regr_intercept(v, x)) + 1e-7, 4) AS intercept,
        |       round((regr_r2(v, x)) + 1e-7, 4) AS r2,
        |       CAST(regr_count(v, x) AS BIGINT) AS n_days
        |FROM (SELECT event_type, v,
        |             CAST(datediff('day', DATE '1970-01-01', day) AS DOUBLE) AS x
        |      FROM daily)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "minmax_by_day" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT event_type, arg_max(day, v) AS best_day, arg_min(day, v) AS worst_day,
        |       round((max(v)) + 1e-7, 4) AS max_avg, round((min(v)) + 1e-7, 4) AS min_avg
        |FROM daily GROUP BY 1 ORDER BY 1""".stripMargin,
    "mad_robust" ->
      """WITH wm AS (
        |  SELECT event_type, value, median(value) OVER (PARTITION BY event_type) AS med
        |  FROM read_parquet('{dir}/events.parquet'))
        |SELECT event_type,
        |       round((median(value)) + 1e-7, 4) AS median_value,
        |       round((median(abs(value - med))) + 1e-7, 4) AS mad,
        |       round((quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) + 1e-7, 4) AS iqr,
        |       count(*) AS n
        |FROM wm GROUP BY 1 ORDER BY 1""".stripMargin,
    "bitbool_aggs" ->
      """SELECT event_type,
        |       bit_and(user_id) AS uid_bit_and, bit_or(user_id) AS uid_bit_or,
        |       bit_xor(user_id) AS uid_bit_xor,
        |       bool_and(value >= 0.0) AS all_nonneg, bool_or(value > 99.0) AS any_over_99,
        |       count(*) AS n
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    "zipf_slope" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS word
        |              FROM read_parquet('{dir}/documents.parquet')),
        |freq AS (SELECT source, word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY 1, 2),
        |ranked AS (SELECT source, cnt,
        |                  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, word) AS rk
        |           FROM freq)
        |SELECT source, round((regr_slope(ln(cnt), ln(rk))) + 1e-7, 4) AS zipf_slope,
        |       round((regr_r2(ln(cnt), ln(rk))) + 1e-7, 4) AS fit_r2, count(*) AS n_terms
        |FROM ranked WHERE rk <= 100 GROUP BY 1 ORDER BY 1""".stripMargin,
    "quantile_norm_chars" ->
      """SELECT * FROM (
        |  SELECT doc_id, source, n_chars,
        |         round((percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id)) + 1e-7, 4) AS pct_rank,
        |         round((cume_dist() OVER (PARTITION BY source ORDER BY n_chars, doc_id)) + 1e-7, 4) AS cume
        |  FROM read_parquet('{dir}/documents.parquet'))
        |WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,
    "rolling_active_users" ->
      """WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        |            FROM read_parquet('{dir}/events.parquet')),
        |days AS (SELECT DISTINCT day AS d FROM du)
        |SELECT d AS day, count(DISTINCT user_id) AS active_7d, count(*) AS user_days
        |FROM days JOIN du ON du.day BETWEEN d - 6 AND d
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "breach_streaks" ->
      """WITH per_min AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', m) AS DATE) AS day,
        |         count(*) AS minutes,
        |         sum(CASE WHEN v < 50 OR v > 150 THEN 1 ELSE 0 END) AS breaches
        |  FROM per_min GROUP BY 1, 2),
        |flagged AS (
        |  SELECT event_type, day,
        |         datediff('day', DATE '1970-01-01', day)
        |           - row_number() OVER (PARTITION BY event_type ORDER BY day) AS grp
        |  FROM daily WHERE breaches * 1.0 / minutes > 0.68)
        |SELECT event_type, min(day) AS streak_start, max(day) AS streak_end, count(*) AS len
        |FROM flagged GROUP BY event_type, grp
        |ORDER BY event_type, streak_start""".stripMargin,
    "copurchase_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM read_parquet('{dir}/lineitem.parquet'))
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
        |FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    "funnel_steps" ->
      """WITH w1 AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         min(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS tv
        |  FROM read_parquet('{dir}/events.parquet')),
        |w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > tv AND ts <= tv + INTERVAL 24 HOUR THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS tc
        |  FROM w1),
        |w3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > tc AND ts <= tc + INTERVAL 24 HOUR THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS tp
        |  FROM w2),
        |per_user AS (SELECT user_id, min(tv) AS tv, min(tc) AS tc, min(tp) AS tp FROM w3 GROUP BY 1)
        |SELECT count(tv) AS n_viewed, count(tc) AS n_clicked_after, count(tp) AS n_purchased_after,
        |       round(count(tc)*1.0/count(tv) + 1e-7, 4) AS view_to_click,
        |       round(count(tp)*1.0/count(tc) + 1e-7, 4) AS click_to_purchase
        |FROM per_user""".stripMargin,
    "pareto_share" ->
      """WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS rev
        |             FROM read_parquet('{dir}/orders.parquet') GROUP BY 1),
        |ranked AS (
        |  SELECT o_custkey, rev,
        |         row_number() OVER (ORDER BY rev DESC, o_custkey) AS i_desc,
        |         sum(rev) OVER (ORDER BY rev DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS cum_rev,
        |         count(*) OVER () AS n, sum(rev) OVER () AS tot
        |  FROM rev)
        |SELECT max(n) AS n_customers,
        |       CAST(sum(CASE WHEN round(cum_rev/tot + 1e-7, 4) < 0.8 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_to_80pct,
        |       round(sum(CASE WHEN i_desc <= ceil(n/10.0) THEN rev ELSE 0 END)/max(tot) + 1e-7, 4) AS top_decile_share,
        |       round(sum((2*(n+1-i_desc) - n - 1)*rev)/(max(n)*max(tot)) + 1e-7, 4) AS gini
        |FROM ranked""".stripMargin,
    // pareto_share_prefix: SAME oracle as pareto_share — the variant's
    // range-partitioned two-pass rank/cumsum must reproduce the
    // sequential window's hashes (cross-slice reassociation ~1e-13,
    // inside the r4 grid), which is the point of declaring it
    "pareto_share_prefix" ->
      """WITH rev AS (SELECT o_custkey, sum(o_totalprice) AS rev
        |             FROM read_parquet('{dir}/orders.parquet') GROUP BY 1),
        |ranked AS (
        |  SELECT o_custkey, rev,
        |         row_number() OVER (ORDER BY rev DESC, o_custkey) AS i_desc,
        |         sum(rev) OVER (ORDER BY rev DESC, o_custkey ROWS UNBOUNDED PRECEDING) AS cum_rev,
        |         count(*) OVER () AS n, sum(rev) OVER () AS tot
        |  FROM rev)
        |SELECT max(n) AS n_customers,
        |       CAST(sum(CASE WHEN round(cum_rev/tot + 1e-7, 4) < 0.8 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_to_80pct,
        |       round(sum(CASE WHEN i_desc <= ceil(n/10.0) THEN rev ELSE 0 END)/max(tot) + 1e-7, 4) AS top_decile_share,
        |       round(sum((2*(n+1-i_desc) - n - 1)*rev)/(max(n)*max(tot)) + 1e-7, 4) AS gini
        |FROM ranked""".stripMargin,
    "time_to_convert" ->
      """WITH w1 AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         min(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS tv
        |  FROM read_parquet('{dir}/events.parquet')),
        |w2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > tv AND ts <= tv + INTERVAL 24 HOUR THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS tc
        |  FROM w1),
        |per_user AS (SELECT user_id, min(tv) AS tv, min(tc) AS tc FROM w2 GROUP BY 1),
        |lat AS (SELECT date_diff('microsecond', tv, tc)/60000000.0 AS lat_min
        |        FROM per_user WHERE tc IS NOT NULL)
        |SELECT count(*) AS n_converted,
        |       round(avg(lat_min) + 1e-7, 4) AS avg_min,
        |       round(CAST(quantile_cont(lat_min, 0.5) AS DOUBLE) + 1e-7, 4) AS med_min,
        |       round(CAST(quantile_cont(lat_min, 0.9) AS DOUBLE) + 1e-7, 4) AS p90_min
        |FROM lat""".stripMargin,
    "peak_concurrency" ->
      """WITH pts AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                OR date_diff('millisecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM read_parquet('{dir}/events.parquet')),
        |sess AS (
        |  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
        |  FROM (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM pts)
        |  GROUP BY user_id, sid),
        |sdays AS (
        |  SELECT s_start, s_end,
        |         CAST(unnest(generate_series(date_trunc('day', s_start), date_trunc('day', s_end), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM sess),
        |split AS (
        |  SELECT day, greatest(s_start, CAST(day AS TIMESTAMP)) AS t0,
        |         least(s_end, CAST(day + INTERVAL 1 DAY AS TIMESTAMP)) AS t1
        |  FROM sdays),
        |edges AS (
        |  SELECT day, t0 AS t, 1 AS delta FROM split
        |  UNION ALL SELECT day, t1, -1 FROM split),
        |swept AS (
        |  SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC ROWS UNBOUNDED PRECEDING) AS concurrent
        |  FROM edges)
        |SELECT day, CAST(max(concurrent) AS BIGINT) AS peak
        |FROM swept GROUP BY 1 ORDER BY 1""".stripMargin,
    "ship_latency" ->
      """WITH lat AS (
        |  SELECT o.o_orderpriority AS priority,
        |         date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS d
        |  FROM read_parquet('{dir}/orders.parquet') o
        |  JOIN read_parquet('{dir}/lineitem.parquet') l ON o.o_orderkey = l.l_orderkey)
        |SELECT priority, count(*) AS n_lines,
        |       round(avg(d) + 1e-7, 4) AS avg_days,
        |       round(CAST(quantile_cont(d, 0.5) AS DOUBLE) + 1e-7, 4) AS med_days,
        |       round(CAST(quantile_cont(d, 0.95) AS DOUBLE) + 1e-7, 4) AS p95_days
        |FROM lat GROUP BY 1 ORDER BY 1""".stripMargin,
    "copurchase_pagerank" ->
      ("""WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM read_parquet('{dir}/lineitem.parquet')) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM read_parquet('{dir}/lineitem.parquet')) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM deg),
        |pr0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM deg)""" +
        (1 to 10).map { i =>
          s""",
        |pr$i AS (
        |  SELECT d.node, 0.15/(SELECT n FROM nn) + 0.85*coalesce(sum(p.rank/pd.deg), 0) AS rank
        |  FROM deg d
        |  LEFT JOIN edges e ON e.dst = d.node
        |  LEFT JOIN pr${i - 1} p ON p.node = e.src
        |  LEFT JOIN deg pd ON pd.node = e.src
        |  GROUP BY d.node)"""
        }.mkString +
        """
        |SELECT node AS part, round(rank*1000 + 1e-7, 4) AS rank_pm
        |FROM pr10 ORDER BY round(rank*1000 + 1e-7, 4) DESC, node LIMIT 20""").stripMargin,
    "cohort_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM read_parquet('{dir}/events.parquet')),
        |firstd AS (SELECT user_id, min(day) AS d0 FROM act GROUP BY 1),
        |coh AS (SELECT d0, count(*) AS n_users FROM firstd GROUP BY 1),
        |ret AS (
        |  SELECT f.d0 AS cohort_day, date_diff('day', f.d0, a.day) AS k,
        |         count(DISTINCT a.user_id) AS active
        |  FROM act a JOIN firstd f USING (user_id)
        |  WHERE date_diff('day', f.d0, a.day) BETWEEN 0 AND 6
        |  GROUP BY 1, 2)
        |SELECT r.cohort_day, CAST(r.k AS BIGINT) AS k, r.active,
        |       round(r.active*1.0/c.n_users + 1e-7, 4) AS pct
        |FROM ret r JOIN coh c ON r.cohort_day = c.d0
        |ORDER BY 1, 2""".stripMargin,
    "new_vs_returning" ->
      """WITH daily AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM read_parquet('{dir}/events.parquet')),
        |firstd AS (SELECT user_id, min(day) AS d0 FROM daily GROUP BY 1)
        |SELECT day,
        |       CAST(sum(CASE WHEN day = d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |       CAST(sum(CASE WHEN day > d0 THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
        |FROM daily JOIN firstd USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "seasonal_dow_index" ->
      """WITH base AS (
        |  SELECT event_type, dayofweek(ts) + 1 AS dow, value
        |  FROM read_parquet('{dir}/events.parquet')),
        |tot AS (SELECT event_type, avg(value) AS oavg FROM base GROUP BY 1)
        |SELECT b.event_type, CAST(b.dow AS BIGINT) AS dow, count(*) AS n,
        |       round(avg(b.value)/max(t.oavg) + 1e-7, 4) AS idx
        |FROM base b JOIN tot t USING (event_type)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "repeat_cadence" ->
      """WITH gaps AS (
        |  SELECT o_custkey,
        |         date_diff('day',
        |           lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |           CAST(o_orderdate AS DATE)) AS gap
        |  FROM read_parquet('{dir}/orders.parquet')),
        |per_cust AS (SELECT o_custkey, avg(gap) AS avg_gap FROM gaps WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT count(*) AS n_repeat_customers,
        |       round(avg(avg_gap) + 1e-7, 4) AS avg_gap_days,
        |       round(CAST(quantile_cont(avg_gap, 0.5) AS DOUBLE) + 1e-7, 4) AS med_gap_days
        |FROM per_cust""".stripMargin,
    "event_transitions" ->
      """WITH tr AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |         event_type AS next
        |  FROM read_parquet('{dir}/events.parquet')),
        |cnt AS (SELECT prev, next, count(*) AS n FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, n,
        |       round(n*1.0/sum(n) OVER (PARTITION BY prev) + 1e-7, 4) AS prob
        |FROM cnt ORDER BY 1, 2""".stripMargin,
    "session_paths" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s
        |  FROM read_parquet('{dir}/events.parquet') WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |rn AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS rn
        |  FROM sess),
        |p AS (
        |  SELECT user_id, session_id, string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM rn WHERE rn <= 5 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 10""".stripMargin,
    "ab_test_conversion" ->
      """WITH pu AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS conv,
        |         CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 2 = 0
        |              THEN 'A' ELSE 'B' END AS grp
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY user_id),
        |g AS (
        |  SELECT sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS n_a,
        |         sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS n_b,
        |         sum(CASE WHEN grp = 'A' THEN conv ELSE 0 END) AS conv_a,
        |         sum(CASE WHEN grp = 'B' THEN conv ELSE 0 END) AS conv_b
        |  FROM pu)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |       round(conv_a*1.0/n_a + 1e-7, 4) AS rate_a,
        |       round(conv_b*1.0/n_b + 1e-7, 4) AS rate_b,
        |       round((conv_a*1.0/n_a - conv_b*1.0/n_b)
        |             / sqrt(((conv_a+conv_b)*1.0/(n_a+n_b)) * (1 - (conv_a+conv_b)*1.0/(n_a+n_b))
        |                    * (1.0/n_a + 1.0/n_b)) + 1e-7, 4) AS z_stat,
        |       abs(round((conv_a*1.0/n_a - conv_b*1.0/n_b)
        |             / sqrt(((conv_a+conv_b)*1.0/(n_a+n_b)) * (1 - (conv_a+conv_b)*1.0/(n_a+n_b))
        |                    * (1.0/n_a + 1.0/n_b)) + 1e-7, 4)) > 1.96 AS significant
        |FROM g""".stripMargin,
    "burn_forecast" ->
      """WITH mins AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', m) AS DATE) AS day,
        |         count(*) AS minutes,
        |         sum(CASE WHEN v < 50 OR v > 150 THEN 1 ELSE 0 END) AS breaches
        |  FROM mins GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', (SELECT min(day) FROM daily), day) AS DOUBLE) AS di,
        |         breaches*1.0/(minutes*0.01) AS burn
        |  FROM daily)
        |SELECT event_type,
        |       round(regr_slope(burn, di) + 1e-7, 4) AS slope,
        |       round(regr_intercept(burn, di) + 1e-7, 4) AS intercept,
        |       round(avg(burn) + 1e-7, 4) AS avg_burn,
        |       round(regr_intercept(burn, di) + regr_slope(burn, di)*(max(di)+7) + 1e-7, 4) AS proj_burn_7d,
        |       round(regr_intercept(burn, di) + regr_slope(burn, di)*(max(di)+7) + 1e-7, 4) > 1.0 AS over_budget_7d
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "flap_rate" ->
      """WITH mins AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', m) AS DATE) AS day,
        |         CASE WHEN sum(CASE WHEN v < 50 OR v > 150 THEN 1 ELSE 0 END)*1.0/count(*) > 0.68
        |              THEN 1 ELSE 0 END AS bad
        |  FROM mins GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, bad,
        |         CASE WHEN lag(bad) OVER (PARTITION BY event_type ORDER BY day) IS NOT NULL
        |                   AND bad <> lag(bad) OVER (PARTITION BY event_type ORDER BY day)
        |              THEN 1 ELSE 0 END AS flip
        |  FROM daily)
        |SELECT event_type, count(*) AS n_days, CAST(sum(bad) AS BIGINT) AS n_bad_days,
        |       CAST(sum(flip) AS BIGINT) AS n_flaps,
        |       round(sum(flip)*1.0/(count(*)-1) + 1e-7, 4) AS flap_rate
        |FROM tr GROUP BY 1 ORDER BY 1""".stripMargin,
    "seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |de AS (
        |  SELECT event_type, day, v,
        |         v - avg(v) OVER (PARTITION BY event_type ORDER BY day
        |                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS detr,
        |         dayofweek(day) AS dow
        |  FROM daily),
        |eff AS (SELECT event_type, dow, avg(detr) AS dow_eff FROM de GROUP BY 1, 2),
        |resid AS (
        |  SELECT de.event_type, de.v, de.detr - eff.dow_eff AS r
        |  FROM de JOIN eff ON de.event_type = eff.event_type AND de.dow = eff.dow)
        |SELECT event_type, count(*) AS n_days,
        |       round(stddev_pop(v) + 1e-7, 4) AS sd_raw,
        |       round(stddev_pop(r) + 1e-7, 4) AS sd_resid,
        |       round(1 - var_pop(r)/var_pop(v) + 1e-7, 4) AS var_explained
        |FROM resid GROUP BY 1 ORDER BY 1""".stripMargin,
    "supplier_hhi" ->
      """WITH s AS (
        |  SELECT p.p_type, l.l_suppkey, sum(l.l_extendedprice) AS rev
        |  FROM read_parquet('{dir}/lineitem.parquet') l
        |  JOIN read_parquet('{dir}/part.parquet') p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |t AS (SELECT p_type, sum(rev) AS tot, count(*) AS n_suppliers FROM s GROUP BY 1)
        |SELECT s.p_type, max(t.n_suppliers) AS n_suppliers,
        |       round(sum((s.rev/t.tot)*(s.rev/t.tot)) + 1e-7, 4) AS hhi,
        |       round(max(s.rev)/max(t.tot) + 1e-7, 4) AS top1_share
        |FROM s JOIN t ON s.p_type = t.p_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "max_gap_minutes" ->
      """WITH g AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY event_type, CAST(date_trunc('day', ts) AS DATE)
        |           ORDER BY ts, event_id) AS gap_us
        |  FROM read_parquet('{dir}/events.parquet')),
        |m AS (
        |  SELECT event_type, day, CAST(round(max(gap_us)/6e7) AS BIGINT) AS max_gap_min
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, CAST(max(max_gap_min) AS BIGINT) AS worst_gap_min,
        |       round(avg(max_gap_min) + 1e-7, 4) AS avg_daily_max_gap,
        |       CAST(sum(CASE WHEN max_gap_min >= 60 THEN 1 ELSE 0 END) AS BIGINT) AS days_with_hour_gap
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "revenue_discount_band" ->
      """SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        |       count(*) AS n_lines,
        |       round(sum(l_extendedprice * l_discount) + 1e-7, 4) AS revenue_delta
        |FROM read_parquet('{dir}/lineitem.parquet')
        |WHERE l_quantity < 24
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "orders_backlog" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS od FROM read_parquet('{dir}/orders.parquet')),
        |s AS (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS sd
        |      FROM read_parquet('{dir}/lineitem.parquet') GROUP BY 1),
        |ev AS (
        |  SELECT od AS day, 1 AS opened, 0 AS shipped FROM o
        |  UNION ALL SELECT sd, 0, 1 FROM s),
        |days AS (SELECT day, sum(opened) AS n_open, sum(shipped) AS n_ship FROM ev GROUP BY 1)
        |SELECT day, CAST(n_open AS BIGINT) AS n_opened, CAST(n_ship AS BIGINT) AS n_shipped,
        |       CAST(sum(n_open - n_ship) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
        |FROM days ORDER BY 1""".stripMargin,
    "skew_profile" ->
      """WITH k AS (
        |  SELECT 'lineitem.l_orderkey' AS key, l_orderkey AS kv FROM read_parquet('{dir}/lineitem.parquet')
        |  UNION ALL SELECT 'lineitem.l_partkey', l_partkey FROM read_parquet('{dir}/lineitem.parquet')
        |  UNION ALL SELECT 'orders.o_custkey', o_custkey FROM read_parquet('{dir}/orders.parquet')
        |  UNION ALL SELECT 'events.user_id', user_id FROM read_parquet('{dir}/events.parquet')),
        |c AS (SELECT key, kv, count(*) AS n FROM k GROUP BY 1, 2)
        |SELECT key, CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |       CAST(max(n) AS BIGINT) AS top1_rows,
        |       round(max(n)*1.0/sum(n) + 1e-7, 4) AS top1_share,
        |       round(CAST(quantile_cont(n, 0.99) AS DOUBLE) / (sum(n)*1.0/count(*)) + 1e-7, 4) AS p99_over_avg
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // label_separation's oracle is DELIBERATELY the naive all-pairs
    // algorithm — hash-matching it validates the engine's O(n·d)
    // moment-algebra form (see AnnOps.labelSeparation)
    "label_separation" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM read_parquet('{dir}/embeddings.parquet')),
        |p AS (SELECT a.label AS la, b.label AS lb, list_cosine_similarity(a.v, b.v) AS cos
        |      FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |intra AS (SELECT la AS label, avg(cos) AS intra_cos FROM p WHERE la = lb GROUP BY 1),
        |inter AS (SELECT la AS label, avg(cos) AS inter_cos FROM p WHERE la <> lb GROUP BY 1),
        |n AS (SELECT label, count(*) AS n FROM e GROUP BY 1)
        |SELECT n.label, n.n, round(intra_cos + 1e-7, 4) AS intra_cos,
        |       round(inter_cos + 1e-7, 4) AS inter_cos,
        |       round(intra_cos - inter_cos + 1e-7, 4) AS separation
        |FROM n JOIN intra USING (label) JOIN inter USING (label) ORDER BY 1""".stripMargin,
    "vocab_growth" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |        FROM read_parquet('{dir}/documents.parquet')) s
        |  WHERE len(t) >= 2),
        |first AS (SELECT g, min(doc_id) // 50 AS fb FROM bg GROUP BY 1),
        |nb AS (SELECT fb AS bucket, count(*) AS new_bigrams FROM first GROUP BY 1),
        |b AS (SELECT DISTINCT doc_id // 50 AS bucket FROM read_parquet('{dir}/documents.parquet'))
        |SELECT CAST(b.bucket AS BIGINT) AS bucket,
        |       CAST(coalesce(nb.new_bigrams, 0) AS BIGINT) AS new_bigrams,
        |       CAST(sum(coalesce(nb.new_bigrams, 0)) OVER (ORDER BY b.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size
        |FROM b LEFT JOIN nb ON b.bucket = nb.bucket ORDER BY 1""".stripMargin,
    "type_corr_matrix" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       count(*) AS n_days, round(corr(a.v, b.v) + 1e-7, 4) AS r
        |FROM daily a JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "value_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, v,
        |         lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS v1,
        |         lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS v7
        |  FROM daily)
        |SELECT event_type,
        |       round(corr(v, v1) + 1e-7, 4) AS acf1,
        |       round(corr(v, v7) + 1e-7, 4) AS acf7,
        |       CAST(count(v1) AS BIGINT) AS n1, CAST(count(v7) AS BIGINT) AS n7
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    "weighted_median_price" ->
      """WITH bp AS (
        |  SELECT l_returnflag AS flag, l_extendedprice AS p, sum(l_quantity) AS w
        |  FROM read_parquet('{dir}/lineitem.parquet') GROUP BY 1, 2),
        |s AS (
        |  SELECT flag, p,
        |         sum(w) OVER (PARTITION BY flag ORDER BY p ROWS UNBOUNDED PRECEDING) AS cw,
        |         sum(w) OVER (PARTITION BY flag) AS tw
        |  FROM bp),
        |m AS (
        |  SELECT flag, p, tw, row_number() OVER (PARTITION BY flag ORDER BY p) AS rn
        |  FROM s WHERE cw >= tw / 2)
        |SELECT flag, round(p + 1e-7, 4) AS weighted_median,
        |       round(CAST(tw AS DOUBLE) + 1e-7, 4) AS total_weight
        |FROM m WHERE rn = 1 ORDER BY 1""".stripMargin,
    "daily_percentile_bands" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_days,
        |       round(CAST(quantile_cont(v, 0.1) AS DOUBLE) + 1e-7, 4) AS p10,
        |       round(CAST(quantile_cont(v, 0.5) AS DOUBLE) + 1e-7, 4) AS p50,
        |       round(CAST(quantile_cont(v, 0.9) AS DOUBLE) + 1e-7, 4) AS p90,
        |       round(CAST(quantile_cont(v, 0.9) - quantile_cont(v, 0.1) AS DOUBLE) + 1e-7, 4) AS band
        |FROM daily GROUP BY 1 ORDER BY 1""".stripMargin,
    "curation_funnel" ->
      """WITH d AS (
        |  SELECT doc_id, text, source, n_chars,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS ntok,
        |         md5(lower(trim(text))) AS h
        |  FROM read_parquet('{dir}/documents.parquet')),
        |f AS (
        |  SELECT *,
        |    doc_id = min(doc_id) OVER (PARTITION BY h) AS k1,
        |    0.5 * least(n_chars, 400) / 400.0
        |      + 0.5 * len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to')))
        |            / len(string_split(text, ' ')) AS q,
        |    CASE WHEN try_cast(substring(source, 4, 10) AS INT) < 5 THEN 65536
        |         WHEN try_cast(substring(source, 4, 10) AS INT) < 10 THEN 32768
        |         WHEN try_cast(substring(source, 4, 10) AS INT) < 15 THEN 16384
        |         ELSE 8192 END AS thr,
        |    (strpos('0123456789abcdef', substr(md5(text),1,1))-1)*4096
        |      + (strpos('0123456789abcdef', substr(md5(text),2,1))-1)*256
        |      + (strpos('0123456789abcdef', substr(md5(text),3,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(text),4,1))-1) AS u16
        |  FROM d),
        |g AS (SELECT *, k1 AND q >= 0.3 AS k2, k1 AND q >= 0.3 AND u16 < thr AS k3 FROM f),
        |agg AS (
        |  SELECT count(*) AS n0, sum(ntok) AS t0,
        |         sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS n1, sum(CASE WHEN k1 THEN ntok ELSE 0 END) AS t1,
        |         sum(CASE WHEN k2 THEN 1 ELSE 0 END) AS n2, sum(CASE WHEN k2 THEN ntok ELSE 0 END) AS t2,
        |         sum(CASE WHEN k3 THEN 1 ELSE 0 END) AS n3, sum(CASE WHEN k3 THEN ntok ELSE 0 END) AS t3
        |  FROM g)
        |SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage, CAST(n0 AS BIGINT) AS n_docs, CAST(t0 AS BIGINT) AS sum_tokens FROM agg
        |UNION ALL SELECT 1, 'exact_dedup', CAST(n1 AS BIGINT), CAST(t1 AS BIGINT) FROM agg
        |UNION ALL SELECT 2, 'quality', CAST(n2 AS BIGINT), CAST(t2 AS BIGINT) FROM agg
        |UNION ALL SELECT 3, 'mix_sample', CAST(n3 AS BIGINT), CAST(t3 AS BIGINT) FROM agg
        |ORDER BY 1""".stripMargin,
    "emb_stats" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) + 1e-7, 4) AS nrm
        |  FROM read_parquet('{dir}/embeddings.parquet')),
        |sums AS (
        |  SELECT i, sum(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS s
        |  FROM read_parquet('{dir}/embeddings.parquet'), range(1, 65) t(i)
        |  GROUP BY i),
        |res AS (SELECT sqrt(sum(s*s)) AS rlen FROM sums),
        |tot AS (
        |  SELECT count(*) AS n, round(avg(nrm) + 1e-7, 4) AS avg_norm,
        |         round(CAST(quantile_cont(nrm, 0.5) AS DOUBLE) + 1e-7, 4) AS p50_norm,
        |         CAST(sum(CASE WHEN nrm < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero,
        |         sum(nrm) AS totn
        |  FROM e)
        |SELECT n, avg_norm, p50_norm, n_near_zero,
        |       round(rlen / totn + 1e-7, 4) AS resultant_frac
        |FROM tot, res""".stripMargin,
    "locf_impute" ->
      """WITH mins AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', m) AS DATE) AS day,
        |         CASE WHEN sum(CASE WHEN v < 50 OR v > 150 THEN 1 ELSE 0 END)*1.0/count(*) > 0.68
        |              THEN NULL ELSE avg(v) END AS v_masked
        |  FROM mins GROUP BY 1, 2)
        |SELECT event_type, day, round(v_masked + 1e-7, 4) AS v_masked,
        |       round(last_value(v_masked IGNORE NULLS) OVER (
        |         PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) + 1e-7, 4) AS v_filled
        |FROM daily ORDER BY event_type, day""".stripMargin,
    // same mins/daily rollup + mask as locf_impute; neighbor frames
    // exclude the current row so a masked day interpolates between
    // its nearest NON-masked neighbors; identical left-to-right
    // double arithmetic on both sides
    "interp_impute" ->
      """WITH mins AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', m) AS DATE) AS day,
        |         CASE WHEN sum(CASE WHEN v < 50 OR v > 150 THEN 1 ELSE 0 END)*1.0/count(*) > 0.68
        |              THEN NULL ELSE avg(v) END AS v_masked
        |  FROM mins GROUP BY 1, 2),
        |x AS (
        |  SELECT event_type, day, v_masked,
        |    last_value(v_masked IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v_masked IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS pd,
        |    first_value(v_masked IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v_masked IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS nd
        |  FROM daily
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |         wn AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day, round(v_masked + 1e-7, 4) AS v_masked,
        |  round(coalesce(
        |    CASE WHEN v_masked IS NOT NULL THEN v_masked
        |         ELSE pv + (nv - pv) * date_diff('day', pd, day) / date_diff('day', pd, nd) END,
        |    pv, nv) + 1e-7, 4) AS v_interp
        |FROM x ORDER BY event_type, day""".stripMargin,
    "purchase_attribution" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN struct_pack(t := ts, et := event_type) END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
        |  FROM read_parquet('{dir}/events.parquet')),
        |p AS (
        |  SELECT CASE WHEN prior IS NULL OR epoch_us(ts) - epoch_us(prior.t) > 3600000000
        |              THEN 'direct' ELSE prior.et END AS attributed
        |  FROM s WHERE event_type = 'purchase')
        |SELECT attributed, count(*) AS n,
        |       round(count(*)*1.0/sum(count(*)) OVER () + 1e-7, 4) AS share
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "quantile_disc_mode" ->
      """WITH cnt AS (
        |  SELECT event_type, CAST(round(value) AS BIGINT) AS b, count(*) AS c
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |md AS (
        |  SELECT event_type, b AS mode_value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY c DESC, b) AS rn
        |  FROM cnt),
        |q AS (
        |  SELECT event_type,
        |         round(CAST(quantile_cont(value, 0.5) AS DOUBLE) + 1e-7, 4) AS p50_cont,
        |         round(CAST(quantile_disc(value, 0.5) AS DOUBLE) + 1e-7, 4) AS p50_disc,
        |         count(*) AS n
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1)
        |SELECT q.event_type, p50_cont, p50_disc, md.mode_value, n
        |FROM q JOIN md ON q.event_type = md.event_type AND md.rn = 1
        |ORDER BY 1""".stripMargin,
    "fuzzy_name_pairs" ->
      """WITH names AS (
        |  SELECT DISTINCT p_name AS name, regexp_extract(p_name, '([a-z]+)$', 1) AS noun
        |  FROM read_parquet('{dir}/part.parquet'))
        |SELECT a.name AS name_a, b.name AS name_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 4
        |ORDER BY 1, 2""".stripMargin,
    "rfm_segments" ->
      """WITH anchor AS (
        |  SELECT max(CAST(o_orderdate AS DATE)) AS maxd
        |  FROM read_parquet('{dir}/orders.parquet')),
        |cust AS (
        |  SELECT o_custkey,
        |         date_diff('day', max(CAST(o_orderdate AS DATE)), (SELECT maxd FROM anchor)) AS rec,
        |         count(*) AS freq, sum(o_totalprice) AS mon
        |  FROM read_parquet('{dir}/orders.parquet') GROUP BY 1),
        |scored AS (
        |  SELECT ntile(4) OVER (ORDER BY rec, o_custkey) AS r,
        |         ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |         ntile(4) OVER (ORDER BY mon DESC, o_custkey) AS m, mon
        |  FROM cust)
        |SELECT r, f, m, count(*) AS n_customers,
        |       round(avg(mon) + 1e-7, 4) AS avg_monetary
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "interarrival_stats" ->
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY event_type, CAST(date_trunc('day', ts) AS DATE)
        |           ORDER BY ts, event_id) AS gap_us
        |  FROM read_parquet('{dir}/events.parquet')),
        |gs AS (
        |  SELECT event_type, count(*) AS n_gaps, avg(gap_us/1e6) AS mean_s,
        |         stddev_pop(gap_us/1e6) AS sd_s
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT event_type, date_trunc('minute', ts) AS minute, count(*) AS c
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |f AS (SELECT event_type, var_pop(c) / avg(c) AS fano FROM m GROUP BY 1)
        |SELECT gs.event_type, n_gaps, round(mean_s + 1e-7, 4) AS mean_gap_s,
        |       round(sd_s/mean_s + 1e-7, 4) AS cv_gap,
        |       round(fano + 1e-7, 4) AS fano_minute
        |FROM gs JOIN f USING (event_type) ORDER BY 1""".stripMargin,
    "dq_profile" ->
      """WITH o AS (SELECT * FROM read_parquet('{dir}/orders.parquet'))
        |SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name,
        |         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |         count(DISTINCT o_orderkey) AS n_distinct,
        |         round(min(CAST(o_orderkey AS DOUBLE)) + 1e-7, 4) AS min_num,
        |         round(max(CAST(o_orderkey AS DOUBLE)) + 1e-7, 4) AS max_num
        |  FROM o
        |  UNION ALL
        |  SELECT 'o_custkey',
        |         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT o_custkey),
        |         round(min(CAST(o_custkey AS DOUBLE)) + 1e-7, 4),
        |         round(max(CAST(o_custkey AS DOUBLE)) + 1e-7, 4)
        |  FROM o
        |  UNION ALL
        |  SELECT 'o_orderstatus',
        |         CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT o_orderstatus),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |  FROM o
        |  UNION ALL
        |  SELECT 'o_totalprice',
        |         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT o_totalprice),
        |         round(min(o_totalprice) + 1e-7, 4),
        |         round(max(o_totalprice) + 1e-7, 4)
        |  FROM o
        |  UNION ALL
        |  SELECT 'o_orderdate',
        |         CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT o_orderdate),
        |         round(CAST(date_diff('day', DATE '1970-01-01', min(CAST(o_orderdate AS DATE))) AS DOUBLE) + 1e-7, 4),
        |         round(CAST(date_diff('day', DATE '1970-01-01', max(CAST(o_orderdate AS DATE))) AS DOUBLE) + 1e-7, 4)
        |  FROM o
        |  UNION ALL
        |  SELECT 'o_orderpriority',
        |         CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         count(DISTINCT o_orderpriority),
        |         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |  FROM o
        |) t ORDER BY col_name""".stripMargin,
    "entropy_ttr" ->
      """WITH v AS (
        |  SELECT source, tok, count(*) AS cnt
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |        FROM read_parquet('{dir}/documents.parquet')) t
        |  WHERE tok <> '' GROUP BY 1, 2)
        |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |       round(count(*)*1.0/sum(cnt) + 1e-7, 4) AS ttr,
        |       round(ln(sum(cnt)) - sum(cnt*ln(cnt))/sum(cnt) + 1e-7, 4) AS entropy,
        |       round(sum(cnt*length(tok))*1.0/sum(cnt) + 1e-7, 4) AS avg_tok_len
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "near_dup_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ws
        |  FROM read_parquet('{dir}/documents.parquet') WHERE doc_id < 300)
        |SELECT a.lang, count(*) AS n_pairs_jaccard_ge_08
        |FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws)) * 1.0
        |      / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.8
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mmr_diverse_topk" ->
      """WITH RECURSIVE
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM read_parquet('{dir}/embeddings.parquet') WHERE vec_id = 0),
        |cand AS (
        |  SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) + 1e-9, 6) AS rel
        |  FROM read_parquet('{dir}/embeddings.parquet') e CROSS JOIN q
        |  WHERE e.vec_id <> 0
        |  ORDER BY rel DESC, e.vec_id LIMIT 50),
        |ps AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |         round(list_cosine_similarity(a.v, b.v) + 1e-9, 6) AS sim
        |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
        |rec(step, ids) AS (
        |  SELECT 1, [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1)]
        |  UNION ALL
        |  SELECT r.step + 1, list_append(r.ids, (
        |    SELECT c.vec_id FROM cand c
        |    WHERE NOT list_contains(r.ids, c.vec_id)
        |    ORDER BY round(0.7 * c.rel - 0.3 * (
        |        SELECT max(ps.sim) FROM ps
        |        WHERE ps.ia = c.vec_id AND list_contains(r.ids, ps.ib)) + 1e-9, 6) DESC,
        |      c.vec_id
        |    LIMIT 1))
        |  FROM rec r WHERE r.step < 10)
        |SELECT u.rank, u.vec_id, c.label, c.rel
        |FROM (SELECT CAST(t.o AS BIGINT) AS rank, t.id AS vec_id
        |      FROM (SELECT unnest(ids) AS id, generate_subscripts(ids, 1) AS o
        |            FROM rec WHERE step = 10) t) u
        |JOIN cand c USING (vec_id)
        |ORDER BY u.rank""".stripMargin,
    "cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM read_parquet('{dir}/embeddings.parquet') WHERE vec_id = 0)
        |SELECT e.vec_id, e.label,
        |       round((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)) + 1e-7, 4) AS cos_sim
        |FROM read_parquet('{dir}/embeddings.parquet') e CROSS JOIN q
        |WHERE e.vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "text_stats" ->
      """SELECT lang, count(*) AS n_docs, round((avg(n_chars)) + 1e-7, 4) AS avg_chars,
        |       round((avg(len(string_split(text, ' ')))) + 1e-7, 4) AS avg_tokens,
        |       count(DISTINCT source) AS n_sources
        |FROM read_parquet('{dir}/documents.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    // BM25 constants appear as the same sub-expressions Spark
    // evaluates ((1.2 + 1), (1 - 0.75)) so IEEE constant folding
    // yields bit-identical doubles on both sides
    "bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |  FROM read_parquet('{dir}/documents.parquet')),
        |tf AS (
        |  SELECT doc_id, len(ws) AS dl,
        |         len(list_filter(ws, t -> t = 'spark'))  AS tf0,
        |         len(list_filter(ws, t -> t = 'stream')) AS tf1,
        |         len(list_filter(ws, t -> t = 'vector')) AS tf2
        |  FROM toks),
        |stats AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |         count(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
        |         count(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
        |         count(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        |  FROM tf)
        |SELECT doc_id, round((
        |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * (tf0 * (1.2 + 1)) / (tf0 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
        |  + ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * (1.2 + 1)) / (tf1 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
        |  + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * (1.2 + 1)) / (tf2 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
        |  ) + 1e-7, 4) AS bm25
        |FROM tf CROSS JOIN stats
        |WHERE tf0 + tf1 + tf2 > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,
    // RRF fusion of the two lanes above: each lane ranks on its
    // ROUNDED score with an id tie-break (so a sub-ulp score
    // difference cannot flip a rank across engines), reciprocal
    // terms are the same two-double sum in the same order
    "hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |  FROM read_parquet('{dir}/documents.parquet')),
        |tf AS (
        |  SELECT doc_id, len(ws) AS dl,
        |         len(list_filter(ws, t -> t = 'spark'))  AS tf0,
        |         len(list_filter(ws, t -> t = 'stream')) AS tf1,
        |         len(list_filter(ws, t -> t = 'vector')) AS tf2
        |  FROM toks),
        |stats AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |         count(CASE WHEN tf0 > 0 THEN 1 END) AS df0,
        |         count(CASE WHEN tf1 > 0 THEN 1 END) AS df1,
        |         count(CASE WHEN tf2 > 0 THEN 1 END) AS df2
        |  FROM tf),
        |lexs AS (
        |  SELECT doc_id, round((
        |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1) * (tf0 * (1.2 + 1)) / (tf0 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
        |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1) * (tf1 * (1.2 + 1)) / (tf1 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
        |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1) * (tf2 * (1.2 + 1)) / (tf2 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
        |    ) + 1e-7, 4) AS bm25
        |  FROM tf CROSS JOIN stats
        |  WHERE tf0 + tf1 + tf2 > 0),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
        |  FROM lexs ORDER BY bm25 DESC, doc_id LIMIT 50),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM read_parquet('{dir}/embeddings.parquet') WHERE vec_id = 0),
        |dens AS (
        |  SELECT e.vec_id AS doc_id,
        |         round((list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)) + 1e-7, 4) AS cos_sim
        |  FROM read_parquet('{dir}/embeddings.parquet') e CROSS JOIN q WHERE e.vec_id <> 0),
        |dense AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS r_dense
        |  FROM dens ORDER BY cos_sim DESC, doc_id LIMIT 50)
        |SELECT coalesce(l.doc_id, d.doc_id) AS doc_id, l.r_lex, d.r_dense,
        |       round((coalesce(1.0 / (60 + l.r_lex), 0) + coalesce(1.0 / (60 + d.r_dense), 0)) + 1e-9, 6) AS rrf
        |FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin,
    // same shingling machinery as contamination_check (8-gram windows
    // via range + slice); per-doc shingles deduped BEFORE counting on
    // both sides; heavy-dup flag compares the ROUNDED coverage
    "dup_ngram_coverage" ->
      """WITH d AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |  FROM read_parquet('{dir}/documents.parquet')),
        |sh AS (
        |  SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(range(1, len(ws) - 6),
        |                i -> array_to_string(ws[i:i+7], ' ')))) AS sh
        |  FROM d WHERE len(ws) >= 8),
        |nd AS (
        |  SELECT doc_id, source, count(*) OVER (PARTITION BY sh) AS nd FROM sh),
        |per AS (
        |  SELECT doc_id, source,
        |         round((sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*)) + 1e-7, 4) AS cov
        |  FROM nd GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |       round((avg(cov)) + 1e-7, 4) AS avg_dup_coverage,
        |       CAST(sum(CASE WHEN cov >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy_dup
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    // directed containment on the same bounded slice / symmetric
    // tokenization as near_dup_pairs; a-side ≥20-token guard on BOTH
    // sides of the compare
    "containment_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ws
        |  FROM read_parquet('{dir}/documents.parquet') WHERE doc_id < 300)
        |SELECT a.lang, count(*) AS n_contained_pairs,
        |       round((avg(len(list_intersect(a.ws, b.ws)) * 1.0 / len(a.ws))) + 1e-7, 4) AS avg_containment
        |FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id <> b.doc_id
        |WHERE len(a.ws) >= 20
        |  AND len(list_intersect(a.ws, b.ws)) * 1.0 / len(a.ws) >= 0.9
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // χ² contingency products cast to double BEFORE squaring, in the
    // same literal order as the Spark plan (both engines would
    // overflow int64 at corpus scale otherwise); rank on the rounded
    // statistic with a term tie-break
    "chi2_terms" ->
      """WITH d AS (
        |  SELECT doc_id, lang, list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS ws
        |  FROM read_parquet('{dir}/documents.parquet')),
        |tok AS (SELECT lang, unnest(ws) AS term FROM d),
        |tlc AS (SELECT term, lang, count(*) AS a FROM tok GROUP BY 1, 2),
        |tlc2 AS (SELECT term, lang, a, sum(a) OVER (PARTITION BY term) AS dft FROM tlc),
        |lc AS (SELECT lang, count(*) AS nl FROM d GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM d),
        |x AS (
        |  SELECT t.term, t.lang, t.a, t.dft - t.a AS b, l.nl - t.a AS c2,
        |         (n.nn - t.dft) - (l.nl - t.a) AS d2, n.nn AS nn
        |  FROM tlc2 t JOIN lc l USING (lang) CROSS JOIN n
        |  WHERE t.dft >= 2 AND t.dft <= n.nn - 2),
        |s AS (
        |  SELECT lang, term, a,
        |         round((nn * (((a * d2 - b * c2) * 1.0) * ((a * d2 - b * c2) * 1.0))) /
        |               ((((a + b) * 1.0) * (c2 + d2)) * (a + c2) * (b + d2)) + 1e-7, 4) AS chi2
        |  FROM x),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY chi2 DESC, term) AS rn FROM s)
        |SELECT lang, term, a AS df_in_lang, chi2 FROM r WHERE rn <= 5
        |ORDER BY lang, chi2 DESC, term""".stripMargin,
    // PMI arithmetic is the same literal double-division order as the
    // Spark plan; rank on the rounded statistic, (x, y) tie-breaks
    "bigram_pmi" ->
      """WITH d AS (
        |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |  FROM read_parquet('{dir}/documents.parquet')),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(ws)),
        |         i -> struct_pack(x := ws[i], y := ws[i+1]))) AS p
        |  FROM d WHERE len(ws) >= 2),
        |bc AS (SELECT p.x AS x, p.y AS y, count(*) AS cb FROM bg GROUP BY 1, 2),
        |uc AS (SELECT t, count(*) AS cu FROM (SELECT unnest(ws) AS t FROM d) GROUP BY 1),
        |t1 AS (SELECT sum(cu) AS t1 FROM uc),
        |t2 AS (SELECT sum(cb) AS t2 FROM bc)
        |SELECT b.x, b.y, b.cb AS pair_count,
        |       round(ln((b.cb * 1.0 / t2.t2) / ((ux.cu * 1.0 / t1.t1) * (uy.cu * 1.0 / t1.t1))) + 1e-7, 4) AS pmi
        |FROM bc b JOIN uc ux ON b.x = ux.t JOIN uc uy ON b.y = uy.t
        |CROSS JOIN t1 CROSS JOIN t2
        |WHERE b.cb >= 5
        |ORDER BY pmi DESC, x, y LIMIT 10""".stripMargin,
    // lift arithmetic in the same literal double order as the Spark
    // plan; rank on the rounded lift, (a, b) tie-breaks
    "lift_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM read_parquet('{dir}/lineitem.parquet')),
        |pc AS (SELECT l_partkey, count(*) AS c FROM li GROUP BY 1),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, n_ab,
        |  round(n_ab * 1.0 / ca.c + 1e-7, 4) AS confidence,
        |  round((n.n * (n_ab * 1.0)) / ((ca.c * 1.0) * cb.c) + 1e-7, 4) AS lift
        |FROM pairs JOIN pc ca ON part_a = ca.l_partkey JOIN pc cb ON part_b = cb.l_partkey CROSS JOIN n
        |WHERE n_ab >= 3
        |ORDER BY lift DESC, part_a, part_b LIMIT 10""".stripMargin,
    // §2.5 extras. The 19 rows-only queries (ann_cosine_topk,
    // ann_knn_join, curate_corpus_neardup, distinct_hll, ivfpq_topk,
    // near_dup_minhash, percentile_approx_value, phash_dups, pq_topk,
    // quantile_sketch_rollup, simhash_dups, sketch_rollup,
    // source_overlap, srp_near_dup, and r5's dq_profile_hll,
    // rolling_active_users_sketch, mad_robust_gk, ann_filtered_topk,
    // lsh_dedup_clusters) are deliberately absent here
    // (sketch / hash-chain internals and index probing have no DuckDB
    // mirror) → driver records the rows-only check; their
    // quantitative bounds are asserted in HllSpec / MinhashRecallSpec
    // / SimhashSpec / AnnRecallSpec / SketchAggSpec /
    // QuantileSketchSpec / SrpProps / PqSpec / IvfPqSpec /
    // CurateNearDupSpec / MediaSpec / ScaleVariantSpec /
    // AnnFilteredSpec / LshClusterSpec instead.
    "ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id, lang,
        |         list_distinct(list_transform(range(1, len(text) - 1), i -> substr(text, i, 3))) AS ws
        |  FROM read_parquet('{dir}/documents.parquet') WHERE doc_id < 200)
        |SELECT a.lang, count(*) AS n_pairs_ngram_ge_06
        |FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws)) * 1.0
        |      / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.6
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_near_dup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM read_parquet('{dir}/embeddings.parquet') WHERE vec_id < 400),
        | p AS (SELECT list_cosine_similarity(a.v, b.v) AS cos
        |       FROM e a JOIN e b ON a.vec_id < b.vec_id
        |       WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
        |SELECT CAST(1 AS BIGINT) AS grp, count(*) AS n_pairs,
        |       round((avg(cos)) + 1e-7, 4) AS avg_cos,
        |       round((max(cos)) + 1e-7, 4) AS max_cos
        |FROM p""".stripMargin,
    "knn_join_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM read_parquet('{dir}/embeddings.parquet') WHERE vec_id < 200),
        | p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |              list_cosine_similarity(a.v, b.v) AS rawcos
        |       FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        | r AS (SELECT a_id, b_id, rawcos,
        |              row_number() OVER (PARTITION BY a_id ORDER BY rawcos DESC, b_id) AS rnk
        |       FROM p)
        |SELECT a_id, CAST(rnk AS BIGINT) AS rnk, b_id,
        |       round((rawcos) + 1e-7, 4) AS cos
        |FROM r WHERE rnk <= 3 ORDER BY a_id, rnk""".stripMargin,
    "media_bytes_stats" ->
      """SELECT lang, count(*) AS n_media,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
        |  count(DISTINCT md5(text)) AS n_unique_blobs
        |FROM read_parquet('{dir}/documents.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    // Text-analysis surface (TextOps) — formula-parity oracles; the
    // CASE chain tie-break order (descending lang name) mirrors
    // TextOps.profiles exactly.
    "lang_id" ->
      """WITH s AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('zhong','wen','hua'))) AS s_zh,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','les','des'))) AS s_fr,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('el','los','de','y','que'))) AS s_es,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to'))) AS s_en,
        |    len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','nicht'))) AS s_de
        |  FROM read_parquet('{dir}/documents.parquet'))
        |SELECT lang,
        |  CASE WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
        |       WHEN s_fr >= s_zh AND s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |       WHEN s_es >= s_zh AND s_es >= s_fr AND s_es >= s_en AND s_es >= s_de THEN 'es'
        |       WHEN s_en >= s_zh AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS predicted,
        |  count(*) AS n_docs
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "quality_score" ->
      """SELECT lang,
        |  round((avg(q)) + 1e-7, 4) AS avg_quality,
        |  round((min(q)) + 1e-7, 4) AS min_quality,
        |  round((max(q)) + 1e-7, 4) AS max_quality
        |FROM (
        |  SELECT lang, 0.5 * least(n_chars, 400) / 400.0
        |       + 0.5 * len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to')))
        |             / len(string_split(text, ' ')) AS q
        |  FROM read_parquet('{dir}/documents.parquet')) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "token_count" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_ws) AS BIGINT) AS sum_ws_tokens,
        |  CAST(sum(n_bpe) AS BIGINT) AS sum_bpe_tokens,
        |  round((avg(n_ws)) + 1e-7, 4) AS avg_ws_tokens
        |FROM (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_ws,
        |    list_sum(list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
        |             t -> CAST(ceil(len(t) / 4.0) AS BIGINT))) AS n_bpe
        |  FROM read_parquet('{dir}/documents.parquet')) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "seq_pack_buckets" ->
      """SELECT CAST(least(512, CAST(ceil(n_tok / 32.0) AS BIGINT) * 32) AS BIGINT) AS bucket_cap,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |       CAST(sum(least(512, CAST(ceil(n_tok / 32.0) AS BIGINT) * 32)
        |                 - least(n_tok, least(512, CAST(ceil(n_tok / 32.0) AS BIGINT) * 32))) AS BIGINT)
        |         AS padding_waste,
        |       CAST(sum(greatest(n_tok - 512, 0)) AS BIGINT) AS truncated_tokens,
        |       round((CAST(sum(least(n_tok, least(512, CAST(ceil(n_tok / 32.0) AS BIGINT) * 32))) AS DOUBLE)
        |              / nullif(sum(least(512, CAST(ceil(n_tok / 32.0) AS BIGINT) * 32)), 0)) + 1e-7, 4)
        |         AS pack_efficiency
        |FROM (
        |  SELECT CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok
        |  FROM read_parquet('{dir}/documents.parquet')) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "repetition_stats" ->
      """WITH tf AS (
        |  SELECT doc_id, lang, w, count(*) AS c
        |  FROM (SELECT doc_id, lang,
        |               unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
        |        FROM read_parquet('{dir}/documents.parquet')) u
        |  GROUP BY 1, 2, 3),
        |per_doc AS (
        |  SELECT lang,
        |         CAST(max(c) AS DOUBLE) / sum(c) AS top_share,
        |         CAST(count(*) AS DOUBLE) / sum(c) AS distinct_ratio
        |  FROM tf GROUP BY doc_id, lang)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN top_share > 0.2 OR distinct_ratio < 0.4
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |       round((avg(top_share)) + 1e-7, 4) AS avg_top_share,
        |       round((avg(distinct_ratio)) + 1e-7, 4) AS avg_distinct_ratio
        |FROM per_doc GROUP BY 1 ORDER BY 1""".stripMargin,
    "contamination_check" ->
      """WITH sh AS (
        |  SELECT doc_id, lang,
        |         unnest(list_transform(range(1, len(ws) - 6),
        |                i -> array_to_string(ws[i:i+7], ' '))) AS sh
        |  FROM (SELECT doc_id, lang,
        |               list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |        FROM read_parquet('{dir}/documents.parquet')) t
        |  WHERE len(ws) >= 8),
        |cont AS (
        |  SELECT DISTINCT doc_id, lang FROM sh
        |  WHERE doc_id >= 50 AND sh IN (SELECT sh FROM sh WHERE doc_id < 50)),
        |pool AS (
        |  SELECT lang, count(*) AS n_docs
        |  FROM read_parquet('{dir}/documents.parquet')
        |  WHERE doc_id >= 50 GROUP BY 1)
        |SELECT p.lang, p.n_docs,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_contaminated,
        |       round((coalesce(c.n, 0) * 100.0 / p.n_docs) + 1e-7, 4) AS pct_contaminated
        |FROM pool p
        |LEFT JOIN (SELECT lang, count(*) AS n FROM cont GROUP BY 1) c USING (lang)
        |ORDER BY 1""".stripMargin,
    "pii_scrub" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
        |  CAST(sum(CASE WHEN n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_ip,
        |  CAST(sum(CASE WHEN n_num > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_num,
        |  CAST(sum(n_email + n_ip + n_num) AS BIGINT) AS total_matches,
        |  CAST(sum(n_chars - len(scrubbed)) AS BIGINT) AS redacted_char_delta
        |FROM (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |    len(regexp_extract_all(text, '\d{6,}')) AS n_num,
        |    len(text) AS n_chars,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |      '\d{6,}', '[NUM]', 'g') AS scrubbed
        |  FROM read_parquet('{dir}/documents.parquet')) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "hash_split" ->
      """SELECT CASE WHEN b < 10 THEN 'train' WHEN b < 13 THEN 'val' ELSE 'test' END AS split,
        |       lang, count(*) AS n_docs, round((avg(n_chars)) + 1e-7, 4) AS avg_chars
        |FROM (SELECT lang, n_chars,
        |             strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 AS b
        |      FROM read_parquet('{dir}/documents.parquet')) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "regex_token_profile" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_er) AS BIGINT) AS sum_er_words,
        |       CAST(sum(n_long) AS BIGINT) AS sum_long_words,
        |       round((avg(n_er)) + 1e-7, 4) AS avg_er_words
        |FROM (
        |  SELECT lang,
        |         len(regexp_extract_all(text, '\b[a-z]+er\b')) AS n_er,
        |         len(regexp_extract_all(text, '\b[a-z]{8,}\b')) AS n_long
        |  FROM read_parquet('{dir}/documents.parquet')) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "curate_corpus" ->
      """WITH hashed AS (
        |  SELECT *, md5(lower(trim(text))) AS h
        |  FROM read_parquet('{dir}/documents.parquet')),
        | kept AS (
        |  SELECT * FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY h) AS keep_id FROM hashed) t
        |  WHERE doc_id = keep_id),
        | scored AS (
        |  SELECT *, 0.5 * least(n_chars, 400) / 400.0
        |       + 0.5 * len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of','to')))
        |             / len(string_split(text, ' ')) AS q
        |  FROM kept),
        | assigned AS (
        |  SELECT *, CASE WHEN b < 10 THEN 'train' WHEN b < 13 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT *, strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 AS b
        |        FROM scored WHERE q >= 0.3) t)
        |SELECT split, lang, count(*) AS n_docs,
        |       CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS sum_tokens,
        |       round((avg(q)) + 1e-7, 4) AS avg_quality
        |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // slo_report_maintained serves the day report from the
    // incrementally-maintained table (ReportMaintenance) but must
    // hash-match the DIRECT aggregation over the raw fixture — the
    // oracle is deliberately identical in spirit to slo_day_report's
    // (avg spelled sum/count to mirror the derived read): a hash match
    // proves exact-MV maintenance loses nothing.
    "slo_report_maintained" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |       count(*) AS n, round((sum(value) / count(*)) + 1e-7, 4) AS avg_value,
        |       round((min(value)) + 2e-5, 2) AS min_value, round((max(value)) + 2e-5, 2) AS max_value,
        |       round((sum(value)) + 2e-5, 2) AS sum_value
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // pivot_day_type: Spark's pivot lowers to conditional aggregation,
    // which is exactly what the oracle spells out with CASE — one hash
    // agg either way.
    "pivot_day_type" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |  round((avg(CASE WHEN event_type = 'click' THEN value END)) + 1e-7, 4) AS click,
        |  round((avg(CASE WHEN event_type = 'error' THEN value END)) + 1e-7, 4) AS error,
        |  round((avg(CASE WHEN event_type = 'purchase' THEN value END)) + 1e-7, 4) AS purchase,
        |  round((avg(CASE WHEN event_type = 'signup' THEN value END)) + 1e-7, 4) AS signup,
        |  round((avg(CASE WHEN event_type = 'view' THEN value END)) + 1e-7, 4) AS view
        |FROM read_parquet('{dir}/events.parquet') GROUP BY 1 ORDER BY 1""".stripMargin,
    // unpivot_type_stats re-melts the pivoted matrix; the oracle
    // computes the same stats from the raw table over the rounded
    // day-average grain (the engine's day_avg values ARE the rounded
    // pivot cells, so the second-level stats match bit for bit).
    "unpivot_type_stats" ->
      """WITH day_avg AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |         round((avg(value)) + 1e-7, 4) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_days,
        |       round((avg(v)) + 1e-7, 4) AS avg_of_day_avgs,
        |       round((max(v)) + 1e-7, 4) AS max_day_avg
        |FROM day_avg GROUP BY 1 ORDER BY 1""".stripMargin,
    // stratified_sample: content-hash-ordered per-stratum quota — both
    // engines draw the IDENTICAL sample because the order is a pure
    // function of content (md5, doc_id tie-break).
    "stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled,
        |       round((avg(n_chars)) + 1e-7, 4) AS avg_chars,
        |       min(doc_id) AS min_doc_id
        |FROM (
        |  SELECT lang, n_chars, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn
        |  FROM read_parquet('{dir}/documents.parquet')) t
        |WHERE rn <= 10 GROUP BY 1 ORDER BY 1""".stripMargin,
    // heavy_hitters: the engine runs 2-pass Misra-Gries (sketch prune
    // -> exact candidate count); the oracle computes the same EXACT
    // answer brute-force — a hash match proves the sketch path never
    // loses a true heavy hitter and never admits a false one.
    "heavy_hitters" ->
      """WITH w AS (
        |  SELECT unnest(string_split(text, ' ')) AS word
        |  FROM read_parquet('{dir}/documents.parquet')),
        | c AS (SELECT word, count(*) AS cnt FROM w WHERE word <> '' GROUP BY 1),
        | t AS (SELECT sum(cnt) AS n FROM c)
        |SELECT word, cnt,
        |       round((cnt * 100.0 / (SELECT n FROM t)) + 1e-7, 4) AS pct
        |FROM c WHERE cnt >= (SELECT n FROM t) * 0.01
        |ORDER BY cnt DESC, word""".stripMargin,
    "above_brand_avg" ->
      """SELECT p_brand, count(*) AS n_above,
        |       round((avg(p_retailprice - brand_avg)) + 1e-7, 4) AS avg_premium
        |FROM (
        |  SELECT p_brand, p_retailprice,
        |         (SELECT avg(p2.p_retailprice) FROM read_parquet('{dir}/part.parquet') p2
        |          WHERE p2.p_brand = p.p_brand) AS brand_avg
        |  FROM read_parquet('{dir}/part.parquet') p) t
        |WHERE p_retailprice > brand_avg
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "range_frame_daily" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v,
        |         datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_num
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2)
        |SELECT event_type, day,
        |       round((avg(v) OVER w) + 1e-7, 4) AS range_7d_avg,
        |       count(*) OVER w AS days_in_window
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "budget_carryover" ->
      """WITH RECURSIVE
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         sum(CASE WHEN value < 50 OR value > 150 THEN 1 ELSE 0 END)
        |           / CAST(count(*) AS DOUBLE) AS burn
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |numbered AS (
        |  SELECT event_type, day, burn,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |carry(event_type, day, rn, burn, budget) AS (
        |  SELECT event_type, day, rn, burn,
        |         greatest(CAST(0.0 AS DOUBLE), least(CAST(2.0 AS DOUBLE),
        |           CAST(1.0 AS DOUBLE) + CAST(0.25 AS DOUBLE) - burn))
        |  FROM numbered WHERE rn = 1
        |  UNION ALL
        |  SELECT n.event_type, n.day, n.rn, n.burn,
        |         greatest(CAST(0.0 AS DOUBLE), least(CAST(2.0 AS DOUBLE),
        |           c.budget + CAST(0.25 AS DOUBLE) - n.burn))
        |  FROM carry c JOIN numbered n
        |    ON n.event_type = c.event_type AND n.rn = c.rn + 1)
        |SELECT event_type, day,
        |       round(burn + 1e-7, 4) AS burn,
        |       round(budget + 1e-7, 4) AS budget
        |FROM carry ORDER BY event_type, day""".stripMargin,
    "budget_carryover_scan" ->
      """WITH RECURSIVE
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         sum(CASE WHEN value < 50 OR value > 150 THEN 1 ELSE 0 END)
        |           / CAST(count(*) AS DOUBLE) AS burn
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |numbered AS (
        |  SELECT event_type, day, burn,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |carry(event_type, day, rn, burn, budget) AS (
        |  SELECT event_type, day, rn, burn,
        |         greatest(CAST(0.0 AS DOUBLE), least(CAST(2.0 AS DOUBLE),
        |           CAST(1.0 AS DOUBLE) + CAST(0.25 AS DOUBLE) - burn))
        |  FROM numbered WHERE rn = 1
        |  UNION ALL
        |  SELECT n.event_type, n.day, n.rn, n.burn,
        |         greatest(CAST(0.0 AS DOUBLE), least(CAST(2.0 AS DOUBLE),
        |           c.budget + CAST(0.25 AS DOUBLE) - n.burn))
        |  FROM carry c JOIN numbered n
        |    ON n.event_type = c.event_type AND n.rn = c.rn + 1)
        |SELECT event_type, day,
        |       round(burn + 1e-7, 4) AS burn,
        |       round(budget + 1e-7, 4) AS budget
        |FROM carry ORDER BY event_type, day""".stripMargin,
    "props_variant_stats" ->
      """SELECT event_type, count(*) AS n,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) + 1e-7, 4) AS avg_k,
        |       count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k,
        |       CAST(sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM read_parquet('{dir}/events.parquet')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sql_udf_slo" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN value < 50 OR value > 150 THEN 1 ELSE 0 END) AS BIGINT) AS breaches,
        |       round(sum(CASE WHEN value < 50 OR value > 150 THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE) / 0.01 + 1e-7, 4) AS burn
        |FROM read_parquet('{dir}/events.parquet')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "array_funcs" ->
      """WITH d AS (
        |  SELECT lang,
        |         list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |  FROM read_parquet('{dir}/documents.parquet'))
        |SELECT lang, count(*) AS n_docs,
        |       round(avg(len(list_distinct(toks)) * 1.0 / len(toks)) + 1e-7, 4) AS avg_uniq_ratio,
        |       CAST(max(list_max(list_transform(toks, t -> length(t)))) AS INT) AS max_token_len,
        |       CAST(sum(len(list_filter(toks, t -> length(t) >= 6))) AS BIGINT) AS n_long_tokens,
        |       CAST(sum(CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_the
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "try_funcs" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM read_parquet('{dir}/events.parquet'))
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN k = 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_denom,
        |       CAST(count(CASE WHEN k <> 50 THEN 1 END) AS BIGINT) AS n_ok,
        |       round(avg(CASE WHEN k = 50 THEN NULL
        |                      ELSE value / CAST(k - 50 AS DOUBLE) END) + 1e-7, 4) AS avg_ratio
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "lateral_topn" ->
      """SELECT n.n_name, l.c_name, l.c_acctbal
        |FROM read_parquet('{dir}/nation.parquet') n,
        |     LATERAL (SELECT c_name, round(c_acctbal + 1e-7, 2) AS c_acctbal
        |              FROM read_parquet('{dir}/customer.parquet') c
        |              WHERE c.c_nationkey = n.n_nationkey
        |              ORDER BY c.c_acctbal DESC, c.c_name
        |              LIMIT 2) l
        |ORDER BY n.n_name, l.c_acctbal DESC, l.c_name""".stripMargin,
    "filtered_aggs" ->
      """SELECT event_type, count(*) AS n,
        |       count(*) FILTER (WHERE value > 150) AS n_high,
        |       count(*) FILTER (WHERE value < 50) AS n_low,
        |       round(avg(value) FILTER (WHERE value BETWEEN 50 AND 150) + 1e-7, 4) AS avg_inband,
        |       round(max(value) FILTER (WHERE user_id % 2 = 0) + 1e-7, 2) AS max_even_users
        |FROM read_parquet('{dir}/events.parquet')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "listagg_sources" ->
      """SELECT lang, count(*) AS n_sources,
        |       string_agg(source, ',' ORDER BY source) AS sources
        |FROM (SELECT DISTINCT lang, source FROM read_parquet('{dir}/documents.parquet'))
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "dist_moments" ->
      """WITH mu AS (
        |  SELECT event_type, avg(value) AS m,
        |         avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS mk
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1),
        |c AS (
        |  SELECT e.event_type,
        |         count(*) AS n,
        |         stddev_samp(e.value) AS sd,
        |         avg(pow(e.value - mu.m, 2)) AS m2,
        |         avg(pow(e.value - mu.m, 3)) AS m3,
        |         avg(pow(e.value - mu.m, 4)) AS m4,
        |         median(e.value) AS med,
        |         corr(e.value, CAST(json_extract_string(e.props, '$.k') AS DOUBLE)) AS corr_vk,
        |         covar_samp(e.value, CAST(json_extract_string(e.props, '$.k') AS DOUBLE)) AS covar_vk
        |  FROM read_parquet('{dir}/events.parquet') e JOIN mu USING (event_type)
        |  GROUP BY 1)
        |SELECT event_type, n, round(sd + 1e-7, 4) AS sd,
        |       round(m3 / pow(m2, 1.5) + 1e-7, 4) AS skew,
        |       round(m4 / (m2 * m2) - 3 + 1e-7, 4) AS kurt,
        |       round(med + 1e-7, 4) AS med,
        |       round(corr_vk + 1e-7, 4) AS corr_vk,
        |       round(covar_vk + 1e-7, 4) AS covar_vk
        |FROM c ORDER BY event_type""".stripMargin,
    "ntile_quartiles" ->
      """SELECT event_type, CAST(quartile AS BIGINT) AS quartile, count(*) AS n,
        |       round((avg(value)) + 1e-7, 4) AS avg_value,
        |       round((max(prank)) + 1e-7, 4) AS max_prank,
        |       round((max(cume)) + 1e-7, 4) AS max_cume
        |FROM (
        |  SELECT event_type, value,
        |         ntile(4) OVER w AS quartile,
        |         percent_rank() OVER w AS prank,
        |         cume_dist() OVER w AS cume
        |  FROM read_parquet('{dir}/events.parquet')
        |  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // tfidf_top_terms: argmax compares raw tf*ln(N/df) doubles in both
    // engines (exact ties break on the term); only the aggregated
    // outputs are rounded.
    "tfidf_top_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, lang, word AS term, count(*) AS tf
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        |        FROM read_parquet('{dir}/documents.parquet')) w
        |  WHERE word <> '' GROUP BY 1, 2, 3),
        | df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        | n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM read_parquet('{dir}/documents.parquet')),
        | scored AS (
        |  SELECT tf.doc_id, tf.lang, tf.term,
        |         tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df.df) AS tfidf,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |                            ORDER BY tf.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df.df) DESC,
        |                                     tf.term) AS rn
        |  FROM tf JOIN df ON df.term = tf.term)
        |SELECT lang, count(*) AS n_docs,
        |       count(DISTINCT term) AS n_distinct_top_terms,
        |       round((avg(tfidf)) + 1e-7, 4) AS avg_top_tfidf,
        |       round((max(tfidf)) + 1e-7, 4) AS max_top_tfidf
        |FROM scored WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    // gap_fill_minutes: dense minute grid + forward fill; the oracle
    // mirrors the grid (generate_series) and the carry-forward
    // (last_value IGNORE NULLS) exactly.
    "gap_fill_minutes" ->
      """WITH m AS (
        |  SELECT event_type, date_trunc('minute', ts) AS minute, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        | bounds AS (SELECT event_type, min(minute) AS lo, max(minute) AS hi FROM m GROUP BY 1),
        | grid AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute FROM bounds),
        | joined AS (
        |  SELECT g.event_type, g.minute, m.v,
        |         last_value(m.v IGNORE NULLS) OVER (
        |           PARTITION BY g.event_type ORDER BY g.minute
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM grid g LEFT JOIN m ON m.event_type = g.event_type AND m.minute = g.minute)
        |SELECT event_type, count(*) AS n_minutes, count(v) AS n_observed,
        |       count(*) - count(v) AS n_filled,
        |       round((avg(filled)) + 1e-7, 4) AS avg_filled
        |FROM joined GROUP BY 1 ORDER BY 1""".stripMargin,
    "weekly_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |  FROM read_parquet('{dir}/events.parquet')),
        | r AS (
        |  SELECT a.wk, count(*) AS n_retained
        |  FROM uw a JOIN uw b ON b.user_id = a.user_id AND b.wk = a.wk + INTERVAL 7 DAY
        |  GROUP BY 1),
        | u AS (SELECT wk, count(*) AS n_users FROM uw GROUP BY 1)
        |SELECT CAST(u.wk AS DATE) AS week, u.n_users,
        |       coalesce(r.n_retained, 0) AS n_retained,
        |       round((100.0 * coalesce(r.n_retained, 0) / u.n_users) + 1e-7, 4) AS retention_pct
        |FROM u LEFT JOIN r ON r.wk = u.wk ORDER BY 1""".stripMargin,
    "zscore_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, day, v,
        |         avg(v) OVER w AS mu, stddev(v) OVER w AS sigma,
        |         count(*) OVER w AS n_prior
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day,
        |       round(v + 1e-7, 4) AS daily_avg,
        |       round((v - mu) / sigma + 1e-7, 4) AS z,
        |       abs(round((v - mu) / sigma + 1e-7, 4)) > 2.0 AS is_anomaly
        |FROM win WHERE n_prior = 7 AND sigma > 0
        |ORDER BY event_type, day""".stripMargin,
    "burn_rate_alerts" ->
      """WITH per_min AS (
        |  SELECT event_type, date_trunc('minute', ts) AS m, avg(value) AS v
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        | hourly AS (
        |  SELECT event_type, date_trunc('hour', m) AS h, count(*) AS minutes,
        |         sum(CASE WHEN v < 50 OR v > 150 THEN 1 ELSE 0 END) AS breaches
        |  FROM per_min GROUP BY 1, 2),
        | burn AS (
        |  SELECT event_type,
        |         (breaches * 1.0 / minutes) / 0.01 AS fast,
        |         avg((breaches * 1.0 / minutes) / 0.01) OVER (
        |           PARTITION BY event_type ORDER BY h
        |           ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS slow
        |  FROM hourly)
        |SELECT event_type, count(*) AS n_hours,
        |       CAST(sum(CASE WHEN fast >= 100 AND slow >= 85 THEN 1 ELSE 0 END) AS BIGINT) AS n_alert_hours,
        |       round((max(slow)) + 1e-7, 4) AS max_slow_burn
        |FROM burn GROUP BY 1 ORDER BY 1""".stripMargin,
    // interval_join_views is the BATCH twin of the stream-stream
    // interval join (StreamJoins.viewPurchasePairs — the identical
    // expression runs in both modes); the oracle proves the join
    // semantics, StreamJoinSpec proves streaming == batch.
    "interval_join_views" ->
      """WITH v AS (SELECT user_id, ts FROM read_parquet('{dir}/events.parquet') WHERE event_type = 'view'),
        | p AS (SELECT user_id, event_id, ts FROM read_parquet('{dir}/events.parquet') WHERE event_type = 'purchase'),
        | pairs AS (
        |  SELECT p.user_id, p.event_id, p.ts AS p_ts, v.ts AS v_ts
        |  FROM p JOIN v ON v.user_id = p.user_id
        |   AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts)
        |SELECT user_id, count(DISTINCT event_id) AS n_purchases_with_view,
        |       count(*) AS n_pairs,
        |       round((avg((epoch_ms(p_ts) - epoch_ms(v_ts)) / 1000.0)) + 2e-5, 2) AS avg_gap_s
        |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin,
    "doc_fingerprint" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints
        |FROM (
        |  SELECT lang,
        |    list_min(list_transform(range(1, len(text) - 6),
        |      i -> list_reduce(
        |             list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), j -> ord(substr(text, i + j, 1)))),
        |             (a, b) -> (a * 31 + b) % 1000000007))) AS fp
        |  FROM read_parquet('{dir}/documents.parquet')) t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the 3 Lloyd iterations UNROLLED as CTE pairs (assign_i,
    // centroids_i) — every centroid coordinate and distance on the
    // same 1e-6 grid as the Spark plan, argmin ties by cluster id
    "kmeans_assign" ->
      """WITH dims AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |         CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM read_parquet('{dir}/embeddings.parquet')),
        |c0 AS (SELECT vec_id AS cid, dim, round(v, 6) AS c FROM dims WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cid, round(sum((v - c) * (v - c)), 6) AS d
        |       FROM dims JOIN c0 USING (dim) GROUP BY vec_id, cid),
        |s1 AS (SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn FROM a1),
        |g1 AS (SELECT vec_id, cid FROM s1 WHERE rn = 1),
        |c1 AS (SELECT cid, dim, round(avg(v), 6) AS c FROM g1 JOIN dims USING (vec_id) GROUP BY cid, dim),
        |a2 AS (SELECT vec_id, cid, round(sum((v - c) * (v - c)), 6) AS d
        |       FROM dims JOIN c1 USING (dim) GROUP BY vec_id, cid),
        |s2 AS (SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn FROM a2),
        |g2 AS (SELECT vec_id, cid FROM s2 WHERE rn = 1),
        |c2 AS (SELECT cid, dim, round(avg(v), 6) AS c FROM g2 JOIN dims USING (vec_id) GROUP BY cid, dim),
        |a3 AS (SELECT vec_id, cid, round(sum((v - c) * (v - c)), 6) AS d
        |       FROM dims JOIN c2 USING (dim) GROUP BY vec_id, cid),
        |s3 AS (SELECT vec_id, cid, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn FROM a3),
        |g3 AS (SELECT vec_id, cid, d FROM s3 WHERE rn = 1)
        |SELECT CAST(cid AS INTEGER) AS cluster_id, count(*) AS n_vecs,
        |       round(avg(d) + 1e-7, 4) AS avg_sqdist,
        |       round(max(d) + 1e-7, 4) AS max_sqdist
        |FROM g3 GROUP BY cid ORDER BY cluster_id""".stripMargin,
    // the id-ordered a<b<c 3-way join counts the SAME triangle set
    // the degree-ordered Spark plan does — totals are
    // orientation-independent
    "triangle_parts" ->
      """WITH e AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM read_parquet('{dir}/lineitem.parquet') x
        |  JOIN read_parquet('{dir}/lineitem.parquet') y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS deg FROM
        |        (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |st AS (SELECT count(*) AS n_nodes,
        |       CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
        |       CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg)
        |SELECT n_nodes, n_edges, n_triangles,
        |       round(n_triangles * 3.0 / nullif(n_wedges, 0) + 1e-7, 4) AS transitivity
        |FROM st CROSS JOIN tri""".stripMargin,
    // CUSUM via the reflection identity: S = prefix − min(0, running
    // min of prefix); peak-day ties on the r4 grid break by earliest
    // day through the same row_number in both engines
    "cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS x
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |stats AS (SELECT event_type, avg(x) AS mu, stddev_samp(x) AS sd FROM daily GROUP BY 1),
        |p AS (
        |  SELECT d.event_type, d.day,
        |         sum((d.x - s.mu) / nullif(s.sd, 0) - 0.5) OVER
        |           (PARTITION BY d.event_type ORDER BY d.day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
        |  FROM daily d JOIN stats s USING (event_type)),
        |s AS (
        |  SELECT event_type, day,
        |         round(pf - least(0, min(pf) OVER (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) + 1e-7, 4) AS cusum
        |  FROM p),
        |r AS (SELECT event_type, day, cusum,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY cusum DESC NULLS LAST, day) AS rn FROM s)
        |SELECT event_type, max(cusum) AS max_cusum,
        |       min(CASE WHEN rn = 1 THEN day END) AS peak_day,
        |       CAST(sum(CASE WHEN cusum > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // both models from ONE vocab rollup; log-ratio in the same
    // literal division order as the Spark plan
    "dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, source, lang,
        |         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
        |  FROM read_parquet('{dir}/documents.parquet')),
        |vocab AS (SELECT w, count(*) AS cr,
        |          sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct FROM tok GROUP BY 1),
        |tots AS (SELECT sum(cr) AS tr, sum(ct) AS tt, count(*) AS v FROM vocab),
        |docw AS (
        |  SELECT t.doc_id, t.source,
        |         round(avg(ln(((v.ct + 1.0) / (s.tt + s.v)) / ((v.cr + 1.0) / (s.tr + s.v)))) + 1e-7, 4) AS wt
        |  FROM tok t JOIN vocab v USING (w) CROSS JOIN tots s
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs, round(avg(wt) + 1e-7, 4) AS avg_weight,
        |       CAST(sum(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_target_like
        |FROM docw GROUP BY 1 ORDER BY 1""".stripMargin,
    "price_position" ->
      """SELECT p_brand, p_partkey,
        |       round(pct_rank + 1e-7, 4) AS pct_rank,
        |       round(cume + 1e-7, 4) AS cume
        |FROM (
        |  SELECT p_brand, p_partkey,
        |         percent_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS pct_rank,
        |         cume_dist() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS cume
        |  FROM read_parquet('{dir}/part.parquet')) t
        |WHERE pct_rank >= 0.95
        |ORDER BY p_brand, p_partkey""".stripMargin,
    "blame_supplier" ->
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |  FROM read_parquet('{dir}/lineitem.parquet') li
        |  JOIN read_parquet('{dir}/orders.parquet') o ON li.l_orderkey = o.o_orderkey),
        |late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l
        |         WHERE l_shipdate > o_orderdate + INTERVAL 75 DAY),
        |cand AS (
        |  SELECT lt.l_orderkey, lt.l_suppkey FROM late lt
        |  WHERE EXISTS (SELECT 1 FROM l l2
        |                WHERE l2.l_orderkey = lt.l_orderkey AND l2.l_suppkey <> lt.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM late l3
        |                WHERE l3.l_orderkey = lt.l_orderkey AND l3.l_suppkey <> lt.l_suppkey))
        |-- group by the KEY (s_suppkey), not s_name, mirroring the
        |-- Spark side's l_suppkey grouping: a duplicate supplier name
        |-- must yield two rows in both engines, not merge here
        |-- (r5 advice); min(s_name) is the key's unique name
        |SELECT min(s.s_name) AS s_name, count(*) AS numwait
        |FROM cand JOIN read_parquet('{dir}/supplier.parquet') s ON l_suppkey = s_suppkey
        |GROUP BY s.s_suppkey ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,
    // bucket = length of the degree's binary representation − 1:
    // floor(log2) computed exactly on integers (a floor(ln/ln) form
    // could flip at powers of two on libm last-ulp differences)
    "degree_dist" ->
      """WITH e AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM read_parquet('{dir}/lineitem.parquet') x
        |  JOIN read_parquet('{dir}/lineitem.parquet') y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS deg FROM
        |        (SELECT a AS n FROM e UNION ALL SELECT b FROM e) t GROUP BY 1)
        |SELECT CAST(length(format('{:b}', deg)) - 1 AS BIGINT) AS bucket,
        |       count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
        |FROM deg GROUP BY 1 ORDER BY 1""".stripMargin,
    // fences rounded to the r4 grid BEFORE comparison in both
    // engines — an unrounded fence lets a value within an ulp flip
    // the outlier count across summation orders
    "iqr_outliers" ->
      """WITH q AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1),
        |f AS (SELECT event_type, q1, q3,
        |             round(q1 - 1.5 * (q3 - q1) + 1e-7, 4) AS lo,
        |             round(q3 + 1.5 * (q3 - q1) + 1e-7, 4) AS hi FROM q)
        |SELECT e.event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       round(min(f.q1) + 1e-7, 4) AS q1, round(min(f.q3) + 1e-7, 4) AS q3
        |FROM read_parquet('{dir}/events.parquet') e JOIN f USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "idle_rich_customers" ->
      """WITH avg_bal AS (
        |  SELECT avg(c_acctbal) AS ab
        |  FROM read_parquet('{dir}/customer.parquet') WHERE c_acctbal > 0.0),
        |rich AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal
        |  FROM read_parquet('{dir}/customer.parquet') CROSS JOIN avg_bal
        |  WHERE c_acctbal > ab),
        |idle AS (
        |  SELECT r.* FROM rich r
        |  WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{dir}/orders.parquet') o
        |                    WHERE o.o_custkey = r.c_custkey
        |                      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
        |SELECT n.n_name, count(*) AS numcust,
        |       round(sum(i.c_acctbal) + 2e-5, 2) AS totacctbal
        |FROM idle i JOIN read_parquet('{dir}/nation.parquet') n ON i.c_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // ONE (bucket, shingle)-distinct frame feeds both the
    // first-appearance min and the per-bucket totals
    "shingle_novelty" ->
      """WITH bs AS (
        |  SELECT DISTINCT doc_id // 50 AS bucket,
        |         unnest(list_distinct(list_transform(range(1, len(ws) - 6),
        |                i -> list_aggregate(ws[i:i+7], 'string_agg', ' ')))) AS g
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        |        FROM read_parquet('{dir}/documents.parquet')) t
        |  WHERE len(ws) >= 8),
        |nnew AS (SELECT bucket, count(*) AS n_new FROM
        |         (SELECT g, min(bucket) AS bucket FROM bs GROUP BY 1) f GROUP BY 1),
        |tot AS (SELECT bucket, count(*) AS n_shingles FROM bs GROUP BY 1)
        |SELECT t.bucket, t.n_shingles, coalesce(n.n_new, 0) AS n_new,
        |       round(coalesce(n.n_new, 0) * 1.0 / t.n_shingles + 1e-7, 4) AS novelty
        |FROM tot t LEFT JOIN nnew n USING (bucket)
        |ORDER BY 1""".stripMargin,
    // rank on the ROUNDED cosine with pair tie-breaks (a sub-ulp
    // dot-product difference cannot reorder across engines)
    "source_cosine_pairs" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
        |  FROM read_parquet('{dir}/documents.parquet')),
        |sc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |nrm AS (SELECT source, sqrt(sum(c * c * 1.0)) AS nn FROM sc GROUP BY 1),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, sum(a.c * b.c * 1.0) AS dp
        |  FROM sc a JOIN sc b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, round(p.dp / (na.nn * nb.nn) + 1e-7, 4) AS cosine
        |FROM pairs p JOIN nrm na ON p.src_a = na.source JOIN nrm nb ON p.src_b = nb.source
        |ORDER BY cosine DESC, src_a, src_b LIMIT 10""".stripMargin,
    "revenue_gini_by_segment" ->
      """WITH rev AS (
        |  SELECT c.c_mktsegment AS seg, c.c_custkey, sum(o.o_totalprice) AS x
        |  FROM read_parquet('{dir}/orders.parquet') o
        |  JOIN read_parquet('{dir}/customer.parquet') c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT seg, x,
        |       row_number() OVER (PARTITION BY seg ORDER BY x, c_custkey) AS r FROM rev)
        |SELECT seg, count(*) AS n_cust,
        |  round((2.0 * sum(r * x) - (count(*) + 1) * sum(x)) / (count(*) * sum(x)) + 1e-7, 4) AS gini,
        |  round(sum(x) + 2e-5, 2) AS total_rev
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
    "degree_assortativity" ->
      """WITH e AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM read_parquet('{dir}/lineitem.parquet') x
        |  JOIN read_parquet('{dir}/lineitem.parquet') y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS deg FROM
        |        (SELECT a AS n FROM e UNION ALL SELECT b FROM e) t GROUP BY 1),
        |de AS (
        |  SELECT da.deg AS dx, db.deg AS dy
        |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n
        |  UNION ALL
        |  SELECT db.deg, da.deg
        |  FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n)
        |SELECT count(*) AS n_ends, round(corr(dx, dy) + 1e-7, 4) AS assortativity,
        |       round(avg(dx) + 1e-7, 4) AS avg_deg
        |FROM de""".stripMargin,
    "char_entropy" ->
      """WITH cc AS (
        |  SELECT lang, c, count(*) AS n FROM (
        |    SELECT lang, unnest(string_split_regex(text, '')) AS c
        |    FROM read_parquet('{dir}/documents.parquet')) t
        |  WHERE c <> '' GROUP BY 1, 2),
        |lt AS (SELECT lang, sum(n) AS t FROM cc GROUP BY 1)
        |SELECT cc.lang, count(*) AS n_chars_distinct,
        |       round(-sum((cc.n * 1.0 / lt.t) * ln(cc.n * 1.0 / lt.t)) + 1e-7, 4) AS char_entropy
        |FROM cc JOIN lt USING (lang) GROUP BY 1 ORDER BY 1""".stripMargin,
    "returned_revenue" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)) + 2e-5, 2) AS revenue
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        |JOIN read_parquet('{dir}/customer.parquet') c ON o.o_custkey = c.c_custkey
        |JOIN read_parquet('{dir}/nation.parquet') n ON c.c_nationkey = n.n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "small_qty_revenue" ->
      """WITH pa AS (
        |  SELECT l_partkey, 0.2 * avg(l_quantity) AS lim
        |  FROM read_parquet('{dir}/lineitem.parquet') GROUP BY 1)
        |SELECT p.p_brand, count(*) AS n_small,
        |       round(sum(l.l_extendedprice) / 7.0 + 2e-5, 2) AS avg_yearly
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN pa ON l.l_partkey = pa.l_partkey
        |JOIN read_parquet('{dir}/part.parquet') p ON l.l_partkey = p.p_partkey
        |WHERE l.l_quantity < pa.lim
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "bulk_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM read_parquet('{dir}/lineitem.parquet')
        |  GROUP BY 1 HAVING sum(l_quantity) > 300)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |       CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_totalprice,
        |       big.total_qty
        |FROM big
        |JOIN read_parquet('{dir}/orders.parquet') o ON big.l_orderkey = o.o_orderkey
        |JOIN read_parquet('{dir}/customer.parquet') c ON o.o_custkey = c.c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "top_supplier_window" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1 - l_discount)) + 2e-5, 2) AS total_rev
        |  FROM read_parquet('{dir}/lineitem.parquet')
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, rev.total_rev
        |FROM rev JOIN read_parquet('{dir}/supplier.parquet') s ON rev.l_suppkey = s.s_suppkey
        |WHERE rev.total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "promo_share_monthly" ->
      """SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |       round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |             / sum(l_extendedprice * (1 - l_discount)) + 1e-7, 4) AS promo_share,
        |       round(sum(l_extendedprice * (1 - l_discount)) + 2e-5, 2) AS total_rev
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/part.parquet') p ON l.l_partkey = p.p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "nation_market_share" ->
      """SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |       round(100.0 * sum(CASE WHEN sn.n_name = 'NATION_3'
        |                              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
        |             / sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-7, 4) AS mkt_share,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 2e-5, 2) AS region_rev
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        |JOIN read_parquet('{dir}/customer.parquet') c ON o.o_custkey = c.c_custkey
        |JOIN read_parquet('{dir}/nation.parquet') cn ON c.c_nationkey = cn.n_nationkey
        |JOIN read_parquet('{dir}/region.parquet') r ON cn.n_regionkey = r.r_regionkey
        |JOIN read_parquet('{dir}/supplier.parquet') s ON l.l_suppkey = s.s_suppkey
        |JOIN read_parquet('{dir}/nation.parquet') sn ON s.s_nationkey = sn.n_nationkey
        |WHERE r.r_name = 'EUROPE'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "psi_drift" ->
      """WITH b AS (
        |  SELECT event_type,
        |         least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 19) AS bucket,
        |         count(*) FILTER (ts <  TIMESTAMP '2024-01-16') AS n1,
        |         count(*) FILTER (ts >= TIMESTAMP '2024-01-16') AS n2
        |  FROM read_parquet('{dir}/events.parquet')
        |  GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n1) AS t1, sum(n2) AS t2, count(*) AS nb
        |      FROM b GROUP BY 1),
        |p AS (SELECT b.event_type, t.nb,
        |             (n1 + 0.5) / (t1 + 0.5 * nb) AS p1,
        |             (n2 + 0.5) / (t2 + 0.5 * nb) AS p2
        |      FROM b JOIN t ON b.event_type = t.event_type)
        |SELECT event_type, max(nb) AS n_buckets,
        |       round(sum((p2 - p1) * ln(p2 / p1)) + 1e-7, 4) AS psi
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "length_survival" ->
      """WITH n AS (
        |  SELECT lang, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
        |  FROM read_parquet('{dir}/documents.parquet'))
        |SELECT lang, CAST(thr AS BIGINT) AS threshold,
        |       count(*) FILTER (n_tok >= thr) AS n_ge,
        |       round(count(*) FILTER (n_tok >= thr) * 1.0 / count(*) + 1e-7, 4) AS share
        |FROM n CROSS JOIN (VALUES (8), (16), (32), (64), (128), (256)) t(thr)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cheapest_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         round(avg(l_extendedprice / l_quantity) + 2e-5, 2) AS unit_price
        |  FROM read_parquet('{dir}/lineitem.parquet') GROUP BY 1, 2),
        |m AS (SELECT l_partkey, min(unit_price) AS best_price FROM ps GROUP BY 1)
        |SELECT p.p_partkey, s.s_suppkey, s.s_name, m.best_price
        |FROM ps
        |JOIN m ON ps.l_partkey = m.l_partkey AND ps.unit_price = m.best_price
        |JOIN read_parquet('{dir}/part.parquet') p ON ps.l_partkey = p.p_partkey
        |JOIN read_parquet('{dir}/supplier.parquet') s ON ps.l_suppkey = s.s_suppkey
        |WHERE p.p_type = 'PROMO'
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "nation_trade_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |       count(*) AS n_lines,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 2e-5, 2) AS volume
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        |JOIN read_parquet('{dir}/customer.parquet') c ON o.o_custkey = c.c_custkey
        |JOIN read_parquet('{dir}/nation.parquet') cn ON c.c_nationkey = cn.n_nationkey
        |JOIN read_parquet('{dir}/supplier.parquet') s ON l.l_suppkey = s.s_suppkey
        |JOIN read_parquet('{dir}/nation.parquet') sn ON s.s_nationkey = sn.n_nationkey
        |WHERE sn.n_name IN ('NATION_3', 'NATION_12')
        |  AND cn.n_name IN ('NATION_3', 'NATION_12')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "major_parts" ->
      """WITH pr AS (
        |  SELECT l_partkey,
        |         round(sum(l_extendedprice * (1 - l_discount)) + 2e-5, 2) AS part_rev
        |  FROM read_parquet('{dir}/lineitem.parquet') GROUP BY 1)
        |SELECT p.p_partkey, p.p_name, pr.part_rev
        |FROM pr JOIN read_parquet('{dir}/part.parquet') p ON pr.l_partkey = p.p_partkey
        |WHERE pr.part_rev > (SELECT round(avg(part_rev) * 1.5 + 2e-5, 2) FROM pr)
        |ORDER BY part_rev DESC, p_partkey""".stripMargin,
    "supplier_variety" ->
      """SELECT p.p_type, CAST(floor(p.p_size / 10) AS BIGINT) AS band,
        |       count(DISTINCT l.l_suppkey) AS n_supp
        |FROM read_parquet('{dir}/lineitem.parquet') l
        |JOIN read_parquet('{dir}/part.parquet') p ON l.l_partkey = p.p_partkey
        |WHERE l.l_suppkey NOT IN (
        |  SELECT s_suppkey FROM read_parquet('{dir}/supplier.parquet')
        |  WHERE s_acctbal < 1000)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dominant_suppliers" ->
      """WITH psq AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
        |  FROM read_parquet('{dir}/lineitem.parquet')
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey, sum(q) AS tq FROM psq GROUP BY 1),
        |dom AS (
        |  SELECT psq.l_suppkey, count(*) AS n_parts_dominated
        |  FROM psq JOIN pt ON psq.l_partkey = pt.l_partkey
        |  WHERE psq.q > 0.5 * pt.tq
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, n.n_name, dom.n_parts_dominated
        |FROM dom
        |JOIN read_parquet('{dir}/supplier.parquet') s ON dom.l_suppkey = s.s_suppkey
        |JOIN read_parquet('{dir}/nation.parquet') n ON s.s_nationkey = n.n_nationkey
        |ORDER BY s_suppkey""".stripMargin,
    "split_leakage" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 < 10 THEN 'train'
        |              WHEN strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 < 13 THEN 'val'
        |              ELSE 'test' END AS split,
        |         list_distinct(string_split(text, ' ')) AS ws
        |  FROM read_parquet('{dir}/documents.parquet') WHERE doc_id < 300)
        |SELECT a.lang, count(*) AS n_pairs,
        |       CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
        |       round(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) * 1.0 / count(*) + 1e-7, 4) AS leak_rate
        |FROM docs a JOIN docs b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws)) * 1.0
        |      / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.8
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |         CAST(('0x' || substring(md5(text), 1, 12)) AS BIGINT) AS u48
        |  FROM read_parquet('{dir}/documents.parquet')),
        |r AS (
        |  SELECT lang, doc_id, n_chars, u48,
        |         row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY ln((u48 + 0.5) / 281474976710656.0) / n_chars DESC, doc_id) AS rank
        |  FROM d)
        |SELECT lang, rank, doc_id, n_chars AS weight, u48
        |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,
    "kcore_parts" -> kcoreOracle,
    "holt_smooth" ->
      """WITH RECURSIVE
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         avg(value) AS x
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |numbered AS (
        |  SELECT event_type, day, x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |h(event_type, rn, day, x, l, b) AS (
        |  SELECT event_type, rn, day, x, x, CAST(0.0 AS DOUBLE)
        |  FROM numbered WHERE rn = 1
        |  UNION ALL
        |  SELECT n.event_type, n.rn, n.day, n.x,
        |         0.3 * n.x + 0.7 * (h.l + h.b),
        |         0.2 * ((0.3 * n.x + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b
        |  FROM h JOIN numbered n
        |    ON n.event_type = h.event_type AND n.rn = h.rn + 1)
        |SELECT event_type, day,
        |       round(x + 1e-7, 4) AS day_avg,
        |       round(l + 1e-7, 4) AS level,
        |       round(b + 1e-7, 4) AS trend,
        |       round(l + b + 1e-7, 4) AS forecast_next
        |FROM h ORDER BY event_type, day""".stripMargin,
    "common_neighbor_recs" ->
      """WITH e AS MATERIALIZED (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM read_parquet('{dir}/lineitem.parquet') x
        |  JOIN read_parquet('{dir}/lineitem.parquet') y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
        |deg AS (SELECT x AS n, count(*) AS deg FROM und GROUP BY 1),
        |wedges AS (
        |  SELECT e1.y AS a, e2.y AS b, count(*) AS common
        |  FROM und e1 JOIN und e2 ON e1.x = e2.x AND e1.y < e2.y
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT w.a, w.b, w.common FROM wedges w
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.b))
        |SELECT c.a, c.b, c.common,
        |       round(c.common * 1.0 / (da.deg + db.deg - c.common) + 1e-7, 4) AS jaccard
        |FROM cand c JOIN deg da ON da.n = c.a JOIN deg db ON db.n = c.b
        |ORDER BY c.common DESC, c.a, c.b LIMIT 10""".stripMargin,
    "common_neighbor_recs_capped" ->
      """WITH e AS MATERIALIZED (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM read_parquet('{dir}/lineitem.parquet') x
        |  JOIN read_parquet('{dir}/lineitem.parquet') y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS MATERIALIZED (SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e),
        |deg AS (SELECT x AS n, count(*) AS deg FROM und GROUP BY 1),
        |capped AS (
        |  SELECT u.x, u.y FROM und u JOIN deg ON deg.n = u.x AND deg.deg <= 10),
        |wedges AS (
        |  SELECT e1.y AS a, e2.y AS b, count(*) AS common
        |  FROM capped e1 JOIN capped e2 ON e1.x = e2.x AND e1.y < e2.y
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT w.a, w.b, w.common FROM wedges w
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.b))
        |SELECT c.a, c.b, c.common,
        |       round(c.common * 1.0 / (da.deg + db.deg - c.common) + 1e-7, 4) AS jaccard
        |FROM cand c JOIN deg da ON da.n = c.a JOIN deg db ON db.n = c.b
        |ORDER BY c.common DESC, c.a, c.b LIMIT 10""".stripMargin,
    "hub_distance" -> hubOracle,
    "skyline_parts" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, p_retailprice, p_size
        |  FROM read_parquet('{dir}/part.parquet'))
        |SELECT p_partkey, p_name,
        |       round(p_retailprice + 2e-5, 2) AS price, p_size
        |FROM p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_retailprice, p_partkey""".stripMargin,
    "skyline_parts_2p" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, p_retailprice, p_size
        |  FROM read_parquet('{dir}/part.parquet'))
        |SELECT p_partkey, p_name,
        |       round(p_retailprice + 2e-5, 2) AS price, p_size
        |FROM p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_retailprice, p_partkey""".stripMargin,
    "benford_digits" ->
      """WITH d AS (
        |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM read_parquet('{dir}/orders.parquet')),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM g)
        |SELECT digit, n,
        |       round(n * 1.0 / tot + 1e-7, 4) AS obs_share,
        |       round(log10(1.0 + 1.0 / digit) + 1e-7, 4) AS benford_share,
        |       round(abs(n * 1.0 / tot - log10(1.0 + 1.0 / digit)) + 1e-7, 4) AS abs_dev
        |FROM g CROSS JOIN t ORDER BY digit""".stripMargin,
    "bigram_logprob" ->
      """WITH d AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM read_parquet('{dir}/documents.parquet')),
        |bg AS (
        |  SELECT doc_id, source, p[1] AS w1, p[2] AS w2
        |  FROM d, UNNEST(list_zip(d.ws[1:-2], d.ws[2:])) AS t(p)),
        |c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS vocab
        |      FROM (SELECT w1 AS w FROM c2 UNION ALL SELECT w2 FROM c2)),
        |per_doc AS (
        |  SELECT bg.doc_id, bg.source,
        |         avg(ln((c2.n2 + 1.0) / (c1.n1 + v.vocab))) AS lp
        |  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |       round(avg(lp) + 1e-7, 4) AS avg_logprob,
        |       round(min(lp) + 1e-7, 4) AS min_logprob
        |FROM per_doc GROUP BY 1 ORDER BY 1""".stripMargin,
    "bigram_logprob_pruned" ->
      """WITH d AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM read_parquet('{dir}/documents.parquet')),
        |bg AS (
        |  SELECT doc_id, source, p[1] AS w1, p[2] AS w2
        |  FROM d, UNNEST(list_zip(d.ws[1:-2], d.ws[2:])) AS t(p)
        |  WHERE len(d.ws) >= 2),
        |c2full AS (SELECT w1, w2, count(*) AS n2 FROM bg GROUP BY 1, 2),
        |c2 AS (SELECT * FROM c2full WHERE n2 >= 2),
        |c1 AS (SELECT w1, sum(n2) AS n1 FROM c2full GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS vocab
        |      FROM (SELECT w1 AS w FROM c2full UNION ALL SELECT w2 FROM c2full)),
        |per_doc AS (
        |  SELECT bg.doc_id, bg.source,
        |         avg(ln((COALESCE(c2.n2, 0) + 1.0) / (c1.n1 + v.vocab))) AS lp
        |  FROM bg LEFT JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |       round(avg(lp) + 1e-7, 4) AS avg_logprob,
        |       round(min(lp) + 1e-7, 4) AS min_logprob
        |FROM per_doc GROUP BY 1 ORDER BY 1""".stripMargin,
    "holt_anomaly" ->
      """WITH RECURSIVE
        |daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         avg(value) AS x
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |numbered AS (
        |  SELECT event_type, day, x,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |h(event_type, rn, day, x, l, b, r) AS (
        |  SELECT event_type, rn, day, x, x, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
        |  FROM numbered WHERE rn = 1
        |  UNION ALL
        |  SELECT n.event_type, n.rn, n.day, n.x,
        |         0.3 * n.x + 0.7 * (h.l + h.b),
        |         0.2 * ((0.3 * n.x + 0.7 * (h.l + h.b)) - h.l) + 0.8 * h.b,
        |         n.x - (h.l + h.b)
        |  FROM h JOIN numbered n
        |    ON n.event_type = h.event_type AND n.rn = h.rn + 1),
        |sig AS (SELECT event_type, stddev_samp(r) AS sigma FROM h GROUP BY 1),
        |rk AS (
        |  SELECT h.*, sig.sigma,
        |         row_number() OVER (PARTITION BY h.event_type
        |                            ORDER BY abs(h.r) DESC, h.day) AS rk
        |  FROM h JOIN sig USING (event_type))
        |SELECT event_type, count(*) AS n_days,
        |       round(max(sigma) + 1e-7, 4) AS sigma,
        |       CAST(sum(CASE WHEN round(abs(r) + 1e-7, 4) > round(2 * sigma + 1e-7, 4) THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
        |       max(CASE WHEN rk = 1 THEN day END) AS worst_day,
        |       round(max(CASE WHEN rk = 1 THEN r END) + 1e-7, 4) AS worst_residual
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
    "value_drawdown" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |         max(value) OVER (PARTITION BY event_type ORDER BY event_id) AS runmax
        |  FROM read_parquet('{dir}/events.parquet'))
        |SELECT event_type, count(*) AS n_events,
        |       round(max(value) + 2e-5, 2) AS peak_value,
        |       round(max(runmax - value) + 2e-5, 2) AS max_drawdown,
        |       round(avg(runmax - value) + 1e-7, 4) AS avg_drawdown,
        |       round(avg(CASE WHEN runmax - value = 0 THEN 1.0 ELSE 0.0 END) + 1e-7, 4) AS at_peak_share
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "survival_conversion" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts FROM read_parquet('{dir}/events.parquet')),
        |t0 AS (SELECT user_id, min(ts) AS t0 FROM e WHERE event_type = 'view' GROUP BY 1),
        |tp AS (
        |  SELECT e.user_id, min(e.ts) AS tp
        |  FROM e JOIN t0 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t0.t0 GROUP BY 1),
        |tm AS (SELECT max(ts) AS tmax FROM e),
        |obs AS (
        |  SELECT floor((epoch_us(coalesce(tp.tp, tm.tmax)) - epoch_us(t0.t0)) / 60000000.0) AS dur,
        |         CASE WHEN tp.tp IS NOT NULL THEN 1 ELSE 0 END AS ev
        |  FROM t0 LEFT JOIN tp USING (user_id) CROSS JOIN tm),
        |hist AS (
        |  SELECT dur, CAST(sum(ev) AS BIGINT) AS d, CAST(sum(1 - ev) AS BIGINT) AS c
        |  FROM obs GROUP BY 1),
        |n AS (SELECT count(*) AS n_total FROM obs),
        |km AS (
        |  SELECT dur, d, c,
        |         n_total - coalesce(sum(d + c) OVER (
        |           ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
        |  FROM hist CROSS JOIN n),
        |km2 AS (
        |  SELECT dur,
        |         exp(sum(CASE WHEN d = 0 THEN 0.0
        |                      WHEN d >= at_risk THEN CAST('-infinity' AS DOUBLE)
        |                      ELSE ln(1.0 - d * 1.0 / at_risk) END)
        |             OVER (ORDER BY dur)) AS surv,
        |         sum(d) OVER (ORDER BY dur) AS cum_conv,
        |         sum(c) OVER (ORDER BY dur) AS cum_cens
        |  FROM km),
        |h AS (SELECT CAST(unnest([60, 360, 1440, 4320, 10080, 43200]) AS BIGINT) AS horizon_m)
        |SELECT h.horizon_m,
        |       CAST(coalesce(max(km2.cum_conv), 0) AS BIGINT) AS n_converted,
        |       CAST(coalesce(max(km2.cum_cens), 0) AS BIGINT) AS n_censored,
        |       round(coalesce(max_by(km2.surv, km2.dur), 1.0) + 1e-7, 4) AS survival
        |FROM h LEFT JOIN km2 ON km2.dur <= h.horizon_m
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mwu_value_test" ->
      """WITH hist AS (
        |  SELECT value,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM read_parquet('{dir}/events.parquet')
        |  WHERE event_type IN ('error', 'click') GROUP BY 1),
        |r AS (
        |  SELECT na, nb, na + nb AS t,
        |         coalesce(sum(na + nb) OVER (
        |           ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM hist),
        |s AS (
        |  SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b,
        |         sum(na * (below + (t + 1) / 2.0)) AS ra,
        |         sum((t * 1.0) * t * t - t) AS tie3
        |  FROM r)
        |SELECT n_a, n_b,
        |       round(ra - n_a * (n_a + 1) / 2.0 + 2e-5, 2) AS u_stat,
        |       round((ra - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0) /
        |             sqrt(n_a * n_b / 12.0 *
        |                  ((n_a + n_b + 1) - tie3 / ((n_a + n_b) * (n_a + n_b - 1.0)))) + 1e-7, 4) AS z_score,
        |       round(2.0 * (ra - n_a * (n_a + 1) / 2.0) / (n_a * n_b) - 1.0 + 1e-7, 4) AS rank_biserial
        |FROM s""".stripMargin,
    "name_entity_clusters" ->
      """WITH RECURSIVE names AS (
        |  SELECT DISTINCT p_name AS name, regexp_extract(p_name, '([a-z]+)$', 1) AS noun
        |  FROM read_parquet('{dir}/part.parquet')),
        |pairs AS (
        |  SELECT a.name AS na, b.name AS nb
        |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 4),
        |edges AS (
        |  SELECT na AS s, nb AS d FROM pairs
        |  UNION ALL
        |  SELECT nb AS s, na AS d FROM pairs),
        |reach(node, lbl) AS (
        |  SELECT DISTINCT s, s FROM edges
        |  UNION
        |  SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
        |comp AS (SELECT node, min(lbl) AS entity_id FROM reach GROUP BY node)
        |SELECT entity_id, count(*) AS n_names
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin,
    "isotonic_return_rate" ->
      """WITH b AS (
        |  SELECT l_discount AS disc, count(*) AS n,
        |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
        |  FROM read_parquet('{dir}/lineitem.parquet') GROUP BY 1),
        |c AS (
        |  SELECT disc, n, r,
        |         sum(n) OVER w AS cw, sum(r) OVER w AS cr,
        |         coalesce(sum(n) OVER wb, 0) AS pw, coalesce(sum(r) OVER wb, 0) AS pr
        |  FROM b
        |  WINDOW w AS (ORDER BY disc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wb AS (ORDER BY disc ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |iv AS (
        |  SELECT j.disc AS dj, k.disc AS dk,
        |         (k.cr - j.pr) * 1.0 / (k.cw - j.pw) AS iavg
        |  FROM c j JOIN c k ON j.disc <= k.disc),
        |im AS (
        |  SELECT i.disc AS di, iv.dj, min(iv.iavg) AS minv
        |  FROM c i JOIN iv ON iv.dj <= i.disc AND i.disc <= iv.dk
        |  GROUP BY 1, 2),
        |f AS (SELECT di, max(minv) AS iso FROM im GROUP BY 1)
        |SELECT round(b.disc + 2e-5, 2) AS discount, b.n,
        |       round(b.r * 1.0 / b.n + 1e-7, 4) AS raw_rate,
        |       round(f.iso + 1e-7, 4) AS iso_rate
        |FROM b JOIN f ON b.disc = f.di ORDER BY 1""".stripMargin,
    "theilsen_trend" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS x,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS DOUBLE) AS k
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.event_type, (b.x - a.x) / (b.k - a.k) AS s
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.k < b.k),
        |ts AS (
        |  SELECT event_type, quantile_cont(s, 0.5) AS ts_slope,
        |         count(*) AS n_pairs
        |  FROM slopes GROUP BY 1)
        |SELECT d.event_type, max(ts.n_pairs) AS n_pairs,
        |       round(max(ts.ts_slope) + 1e-7, 4) AS ts_slope,
        |       round(quantile_cont(d.x - ts.ts_slope * d.k, 0.5) + 1e-7, 4) AS ts_intercept
        |FROM daily d JOIN ts USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "theilsen_trend_sampled" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, avg(value) AS x,
        |         CAST(date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS DOUBLE) AS k
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.event_type, (b.x - a.x) / (b.k - a.k) AS s
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.k < b.k
        |  WHERE CAST(('0x' || substring(md5(
        |          a.event_type || ':' || CAST(CAST(a.k AS INT) AS VARCHAR)
        |                       || ':' || CAST(CAST(b.k AS INT) AS VARCHAR)), 1, 12)) AS BIGINT)
        |        < 140737488355328),
        |ts AS (
        |  SELECT event_type, quantile_cont(s, 0.5) AS ts_slope,
        |         count(*) AS n_pairs_sampled
        |  FROM slopes GROUP BY 1)
        |SELECT d.event_type, max(ts.n_pairs_sampled) AS n_pairs_sampled,
        |       round(max(ts.ts_slope) + 1e-7, 4) AS ts_slope,
        |       round(quantile_cont(d.x - ts.ts_slope * d.k, 0.5) + 1e-7, 4) AS ts_intercept
        |FROM daily d JOIN ts USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "ks_value_test" ->
      """WITH hist AS (
        |  SELECT value,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM read_parquet('{dir}/events.parquet')
        |  WHERE event_type IN ('error', 'click') GROUP BY 1),
        |tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b FROM hist),
        |cum AS (
        |  SELECT sum(na) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cna,
        |         sum(nb) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnb
        |  FROM hist),
        |d AS (
        |  SELECT max(abs(cna * 1.0 / n_a - cnb * 1.0 / n_b)) AS d, n_a, n_b
        |  FROM cum CROSS JOIN tot GROUP BY n_a, n_b),
        |l AS (SELECT d, n_a, n_b,
        |             d * sqrt(n_a * 1.0 * n_b / (n_a + n_b)) AS lambda FROM d)
        |SELECT n_a, n_b, round(d + 1e-7, 4) AS d_stat,
        |       round(lambda + 1e-7, 4) AS lambda,
        |       round(least(1.0, greatest(0.0,
        |         2.0 * exp(-2.0 * lambda * lambda)
        |         - 2.0 * exp(-8.0 * lambda * lambda)
        |         + 2.0 * exp(-18.0 * lambda * lambda)
        |         - 2.0 * exp(-32.0 * lambda * lambda)
        |         + 2.0 * exp(-50.0 * lambda * lambda))) + 1e-7, 4) AS p_approx
        |FROM l""".stripMargin,
    "anova_value_test" ->
      """WITH per AS (
        |  SELECT event_type, count(*) AS ni,
        |         CAST(sum(CAST(round(value * 100) AS HUGEINT)) AS DOUBLE) AS si,
        |         CAST(sum(CAST(round(value * 100) AS HUGEINT) * CAST(round(value * 100) AS BIGINT)) AS DOUBLE) AS qi
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1),
        |f AS (
        |  SELECT count(*) AS k, sum(CAST(ni AS DOUBLE)) AS n, sum(si) AS s,
        |         sum(si * si / ni) AS ssbr,
        |         sum(qi - si * si / ni) AS ssw_raw
        |  FROM per),
        |g AS (
        |  SELECT k, CAST(n AS BIGINT) AS n,
        |         (ssbr - s * s / n) / 1e4 AS ssb, ssw_raw / 1e4 AS ssw,
        |         CAST(k AS DOUBLE) AS kd, n AS nd
        |  FROM f)
        |SELECT k, n, round(ssb + 2e-5, 2) AS ss_between,
        |       round(ssw + 2e-5, 2) AS ss_within,
        |       round((ssb / (kd - 1.0)) / (ssw / (nd - kd)) + 1e-7, 4) AS f_stat,
        |       round(ssb / (ssb + ssw) + 1e-7, 4) AS eta_sq
        |FROM g""".stripMargin,
    "kruskal_value_test" ->
      """WITH hist AS (
        |  SELECT value,
        |         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1),
        |r AS (
        |  SELECT *,
        |         (n_click + n_error + n_purchase + n_signup + n_view) AS t,
        |         coalesce(sum(n_click + n_error + n_purchase + n_signup + n_view)
        |           OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM hist),
        |r2 AS (SELECT *, below + (t + 1) / 2.0 AS avgrank FROM r),
        |s AS (
        |  SELECT sum(n_click) AS cnt_click, sum(n_error) AS cnt_error,
        |         sum(n_purchase) AS cnt_purchase, sum(n_signup) AS cnt_signup,
        |         sum(n_view) AS cnt_view,
        |         sum(n_click * avgrank) AS r_click, sum(n_error * avgrank) AS r_error,
        |         sum(n_purchase * avgrank) AS r_purchase, sum(n_signup * avgrank) AS r_signup,
        |         sum(n_view * avgrank) AS r_view,
        |         sum(CAST(t AS DOUBLE) * t * t - t) AS tie3
        |  FROM r2),
        |h AS (
        |  SELECT CAST(cnt_click + cnt_error + cnt_purchase + cnt_signup + cnt_view AS BIGINT) AS n,
        |         (r_click * r_click / cnt_click + r_error * r_error / cnt_error
        |          + r_purchase * r_purchase / cnt_purchase + r_signup * r_signup / cnt_signup
        |          + r_view * r_view / cnt_view) AS rr, tie3
        |  FROM s),
        |h2 AS (
        |  SELECT n, (12.0 / (n * (n + 1))) * rr - 3.0 * (n + 1) AS h_raw,
        |         1.0 - tie3 / (CAST(n AS DOUBLE) * n * n - n) AS c
        |  FROM h)
        |SELECT n, round(h_raw / c + 1e-7, 4) AS h_stat,
        |       round(h_raw / c / (n - 1) + 1e-7, 4) AS eps_sq
        |FROM h2""".stripMargin,
    "spearman_value_hour" ->
      """WITH base AS (
        |  SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS h, value
        |  FROM read_parquet('{dir}/events.parquet') WHERE event_type = 'error'),
        |cells AS (SELECT h, value, count(*) AS c FROM base GROUP BY 1, 2),
        |hx AS (
        |  SELECT h, sum(c) AS t,
        |         coalesce(sum(sum(c)) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM cells GROUP BY 1),
        |rx AS (SELECT h, below + (t + 1) / 2.0 AS rank_h FROM hx),
        |hy AS (
        |  SELECT value, sum(c) AS t,
        |         coalesce(sum(sum(c)) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |  FROM cells GROUP BY 1),
        |ry AS (SELECT value, below + (t + 1) / 2.0 AS rank_v FROM hy),
        |s AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n,
        |         sum(c * rank_h) AS sx, sum(c * rank_v) AS sy,
        |         sum(c * rank_h * rank_h) AS sxx, sum(c * rank_v * rank_v) AS syy,
        |         sum(c * rank_h * rank_v) AS sxy
        |  FROM cells JOIN rx USING (h) JOIN ry USING (value)),
        |rho AS (
        |  SELECT n, (n * sxy - sx * sy) /
        |         sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rho
        |  FROM s)
        |SELECT n, round(rho + 1e-7, 4) AS rho,
        |       round(rho * sqrt((n - 2) / (1.0 - rho * rho)) + 1e-7, 4) AS t_stat
        |FROM rho""".stripMargin,
    "dft_periodogram" ->
      """WITH s AS (
        |  SELECT (EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) AS m,
        |         round(sum(value) + 2e-5, 2) AS s
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1),
        |ks AS (SELECT unnest(range(1, 7)) AS k),
        |pw AS (
        |  SELECT k, sum(s * cos(2.0 * pi() * k * m / 1440.0)) AS a,
        |         sum(s * sin(2.0 * pi() * k * m / 1440.0)) AS b,
        |         sum(s) AS tot
        |  FROM s CROSS JOIN ks GROUP BY 1),
        |p AS (SELECT k, (a * a + b * b) AS p, tot FROM pw),
        |t AS (SELECT sum(p) AS ptot FROM p)
        |SELECT CAST(k AS BIGINT) AS k,
        |       round(sqrt(p) / tot + 1e-9, 6) AS amp_ratio,
        |       round(p / ptot + 1e-7, 4) AS power_share
        |FROM p CROSS JOIN t ORDER BY k""".stripMargin,
    "dup_cluster_sizes" ->
      """WITH sizes AS (
        |  SELECT md5(lower(trim(text))) AS h, count(*) AS size
        |  FROM read_parquet('{dir}/documents.parquet') GROUP BY 1),
        |hist AS (SELECT size, count(*) AS n_clusters FROM sizes GROUP BY 1),
        |tot AS (SELECT CAST(sum(size) AS BIGINT) AS n_docs_total FROM sizes)
        |SELECT size, n_clusters, size * n_clusters AS n_docs,
        |       (size - 1) * n_clusters AS n_redundant,
        |       round(size * n_clusters / CAST(n_docs_total AS DOUBLE) + 1e-7, 4) AS corpus_share
        |FROM hist CROSS JOIN tot ORDER BY size""".stripMargin,
    "emb_quantize_error" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM read_parquet('{dir}/embeddings.parquet')),
        |d AS (
        |  SELECT pos, max(abs(x)) AS s
        |  FROM (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e)
        |  GROUP BY 1),
        |sc AS (SELECT list(s ORDER BY pos) AS scales FROM d),
        |r AS (
        |  SELECT label,
        |         list_transform(range(1, len(v) + 1),
        |           i -> CASE WHEN scales[i] > 0
        |                THEN v[i] - floor(v[i] * 127.0 / scales[i] + 0.5) * scales[i] / 127.0
        |                ELSE 0.0 END) AS errs,
        |         v
        |  FROM e CROSS JOIN sc),
        |m AS (
        |  SELECT label,
        |         sqrt(list_sum(list_transform(errs, x -> x * x))) /
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS rel
        |  FROM r)
        |SELECT label, count(*) AS n_vecs,
        |       round(avg(rel) + 1e-9, 6) AS avg_rel_err,
        |       round(max(rel) + 1e-9, 6) AS max_rel_err
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "matryoshka_recall" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM read_parquet('{dir}/embeddings.parquet')),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
        |pairs AS (
        |  SELECT qid, vec_id,
        |         round(list_cosine_similarity(v, qv) + 1e-9, 6) AS c_full,
        |         round(list_cosine_similarity(v[1:16], qv[1:16]) + 1e-9, 6) AS c_16,
        |         round(list_cosine_similarity(v[1:32], qv[1:32]) + 1e-9, 6) AS c_32
        |  FROM e CROSS JOIN q WHERE vec_id <> qid),
        |ranked AS (
        |  SELECT qid, vec_id,
        |         row_number() OVER (PARTITION BY qid ORDER BY c_full DESC, vec_id) AS r_full,
        |         row_number() OVER (PARTITION BY qid ORDER BY c_16 DESC, vec_id) AS r_16,
        |         row_number() OVER (PARTITION BY qid ORDER BY c_32 DESC, vec_id) AS r_32
        |  FROM pairs),
        |perq AS (
        |  SELECT qid,
        |         sum(CASE WHEN r_16 <= 10 THEN 1 ELSE 0 END) AS hit16,
        |         sum(CASE WHEN r_32 <= 10 THEN 1 ELSE 0 END) AS hit32
        |  FROM ranked WHERE r_full <= 10 GROUP BY 1)
        |SELECT count(*) AS n_queries,
        |       round(avg(hit16 / 10.0) + 1e-7, 4) AS recall_d16,
        |       round(avg(hit32 / 10.0) + 1e-7, 4) AS recall_d32
        |FROM perq""".stripMargin,
    "knn_label_eval" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM read_parquet('{dir}/embeddings.parquet')),
        |q AS (SELECT vec_id AS qid, label AS q_label, v AS qv FROM e WHERE vec_id < 50),
        |ranked AS (
        |  SELECT qid, q_label, label,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY round(list_cosine_similarity(v, qv) + 1e-9, 6) DESC, vec_id) AS rnk
        |  FROM e CROSS JOIN q WHERE vec_id <> qid),
        |perq AS (
        |  SELECT qid, q_label,
        |         sum(CASE WHEN label = q_label THEN 1 ELSE 0 END) / 10.0 AS p10,
        |         coalesce(1.0 / min(CASE WHEN label = q_label THEN rnk END), 0.0) AS rr
        |  FROM ranked WHERE rnk <= 10 GROUP BY 1, 2)
        |SELECT q_label, count(*) AS n_queries,
        |       round(avg(p10) + 1e-7, 4) AS avg_p_at_10,
        |       round(avg(rr) + 1e-7, 4) AS mrr_at_10
        |FROM perq GROUP BY 1 ORDER BY 1""".stripMargin,
    "bpe_merge_candidates" ->
      """WITH words AS (
        |  SELECT unnest(string_split(text, ' ')) AS w
        |  FROM read_parquet('{dir}/documents.parquet')),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |           i -> substr(w, CAST(i AS INT), 2))) AS pair
        |  FROM words WHERE length(w) >= 2),
        |tot AS (SELECT count(*) AS n FROM pairs)
        |SELECT pair, count(*) AS cnt,
        |       round(count(*) / CAST(n AS DOUBLE) + 1e-9, 6) AS pair_share
        |FROM pairs CROSS JOIN tot GROUP BY pair, n
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "clustering_coeff" ->
      """WITH e AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM read_parquet('{dir}/lineitem.parquet') x
        |  JOIN read_parquet('{dir}/lineitem.parquet') y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS deg FROM
        |        (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |tri AS (
        |  SELECT unnest([e1.a, e1.b, e2.b]) AS n
        |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tpn AS (SELECT n, count(*) AS tri FROM tri GROUP BY 1),
        |cc AS (
        |  SELECT deg.deg,
        |         coalesce(tpn.tri, 0) * 2.0 / (deg.deg * (deg.deg - 1)) AS cc
        |  FROM deg LEFT JOIN tpn USING (n) WHERE deg.deg >= 2)
        |SELECT CAST(floor(deg / 5) * 5 AS BIGINT) AS deg_bucket,
        |       count(*) AS n_nodes,
        |       round(avg(cc) + 1e-7, 4) AS avg_cc,
        |       round(avg(CAST(deg AS DOUBLE)) + 1e-7, 4) AS avg_deg
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,
    "conformal_interval" ->
      """WITH ev AS (
        |  SELECT event_type, value,
        |         strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1 AS bucket
        |  FROM read_parquet('{dir}/events.parquet')),
        |mu AS (
        |  SELECT event_type, round(avg(value) + 1e-7, 4) AS mu, count(*) AS n_train
        |  FROM ev WHERE bucket < 8 GROUP BY 1),
        |scores AS (
        |  SELECT ev.event_type, mu.mu, mu.n_train,
        |         round(abs(ev.value - mu.mu) + 1e-7, 4) AS score
        |  FROM ev JOIN mu USING (event_type) WHERE bucket >= 8),
        |hist AS (
        |  SELECT event_type, mu, n_train, score, count(*) AS c
        |  FROM scores GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_cal FROM hist GROUP BY 1),
        |qh AS (
        |  SELECT event_type, mu, n_train, n_cal, min(score) AS q_hat,
        |         arg_min(cum, score) AS n_covered
        |  FROM (
        |    SELECT h.event_type, h.mu, h.n_train, h.score, h.c, t.n_cal,
        |           sum(h.c) OVER (PARTITION BY h.event_type ORDER BY h.score
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM hist h JOIN tot t USING (event_type)) u
        |  WHERE cum >= CAST(floor(((n_cal + 1) * 9 + 9) / 10.0) AS BIGINT)
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n_train, n_cal, mu, q_hat,
        |       round(mu - q_hat + 1e-7, 4) AS lo,
        |       round(mu + q_hat + 1e-7, 4) AS hi,
        |       round(n_covered / CAST(n_cal AS DOUBLE) + 1e-7, 4) AS cal_coverage
        |FROM qh ORDER BY 1""".stripMargin,
    "bootstrap_ci_mean" ->
      """WITH base AS (
        |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS iv
        |  FROM read_parquet('{dir}/events.parquet')),
        |stats AS (
        |  SELECT event_type, count(*) AS n,
        |         round(CAST(sum(iv) AS DOUBLE) / count(*) / 100.0 + 1e-7, 4) AS mean
        |  FROM base GROUP BY 1),
        |ex AS (
        |  SELECT event_type, iv, b,
        |         (CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 12)) AS BIGINT) + 0.5)
        |           / 281474976710656.0 AS u
        |  FROM base CROSS JOIN (SELECT unnest(range(1, 33)) AS b) ks),
        |wtd AS (
        |  SELECT event_type, b, iv,
        |         CASE WHEN u < 0.36787944117144233 THEN 0
        |              WHEN u < 0.7357588823428847 THEN 1
        |              WHEN u < 0.9196986029286058 THEN 2
        |              WHEN u < 0.9810118431238462 THEN 3
        |              WHEN u < 0.9963401531726563 THEN 4
        |              ELSE 5 END AS w
        |  FROM ex),
        |means AS (
        |  SELECT event_type, b, CAST(sum(w * iv) AS DOUBLE) / sum(w) / 100.0 AS mb
        |  FROM wtd GROUP BY 1, 2),
        |ci AS (
        |  SELECT event_type,
        |         min(CASE WHEN r = 2 THEN mb END) AS ci_lo_raw,
        |         min(CASE WHEN r = 31 THEN mb END) AS ci_hi_raw,
        |         stddev_samp(mb) AS se_raw
        |  FROM (SELECT event_type, mb,
        |               row_number() OVER (PARTITION BY event_type ORDER BY mb) AS r
        |        FROM means) t
        |  GROUP BY 1)
        |SELECT s.event_type, s.n, s.mean,
        |       round(ci_lo_raw + 1e-7, 4) AS ci_lo,
        |       round(ci_hi_raw + 1e-7, 4) AS ci_hi,
        |       round(se_raw + 1e-7, 4) AS se_boot
        |FROM stats s JOIN ci USING (event_type) ORDER BY 1""".stripMargin,
    "hill_tail_index" ->
      """WITH e AS (
        |  SELECT x.l_partkey AS a, y.l_partkey AS b
        |  FROM read_parquet('{dir}/lineitem.parquet') x
        |  JOIN read_parquet('{dir}/lineitem.parquet') y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT n, count(*) AS deg FROM
        |        (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |top AS (SELECT deg, row_number() OVER (ORDER BY deg DESC, n) AS r
        |        FROM deg ORDER BY deg DESC, n LIMIT 51),
        |thr AS (SELECT deg AS dthr FROM top WHERE r = 51)
        |SELECT count(*) AS k, max(dthr) AS d_threshold,
        |       round(count(*) / sum(ln(CAST(deg AS DOUBLE) / dthr)) + 1e-7, 4) AS alpha_hill
        |FROM top CROSS JOIN thr WHERE r <= 50""".stripMargin,
    "scd2_versions" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id, CAST(floor(value / 25) AS BIGINT) AS band
        |  FROM read_parquet('{dir}/events.parquet')),
        |m AS (
        |  SELECT user_id, ts, event_id, band,
        |         CASE WHEN lag(band) OVER w IS NULL OR lag(band) OVER w <> band
        |              THEN 1 ELSE 0 END AS isnew
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |v AS (
        |  SELECT user_id, ver, band, min(ts) AS eff_from, count(*) AS n_events
        |  FROM (SELECT user_id, ts, band,
        |               sum(isnew) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
        |        FROM m) t
        |  GROUP BY 1, 2, 3),
        |wt AS (
        |  SELECT band, user_id, n_events, eff_from,
        |         lead(eff_from) OVER (PARTITION BY user_id ORDER BY ver) AS eff_to
        |  FROM v)
        |SELECT band, count(*) AS n_versions,
        |       count(eff_to) AS n_closed,
        |       round(avg(CASE WHEN eff_to IS NOT NULL
        |         THEN (epoch_ms(eff_to) - epoch_ms(eff_from)) / 60000.0 END) + 1e-7, 4)
        |         AS avg_closed_min,
        |       count(DISTINCT user_id) AS n_users,
        |       round(avg(CAST(n_events AS DOUBLE)) + 1e-7, 4) AS avg_events_per_version
        |FROM wt GROUP BY 1 ORDER BY 1""".stripMargin,
    "incremental_dedup" ->
      """WITH docs AS (
        |  SELECT lang,
        |         md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS h,
        |         strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS bucket
        |  FROM read_parquet('{dir}/documents.parquet')),
        |storeh AS (SELECT DISTINCT h FROM docs WHERE bucket < 14),
        |bg AS (SELECT lang, h, count(*) AS c FROM docs WHERE bucket >= 14 GROUP BY 1, 2),
        |reps AS (
        |  SELECT bg.lang, bg.c, CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END AS in_store
        |  FROM bg LEFT JOIN storeh s ON bg.h = s.h)
        |SELECT lang, CAST(sum(c) AS BIGINT) AS n_batch,
        |       CAST(sum(c - 1) AS BIGINT) AS n_internal_dups,
        |       CAST(sum(in_store) AS BIGINT) AS n_store_hits,
        |       CAST(sum(1 - in_store) AS BIGINT) AS n_ingested
        |FROM reps GROUP BY 1 ORDER BY 1""".stripMargin,
    "token_drift_movers" ->
      """WITH toks AS (
        |  SELECT CASE WHEN strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 8
        |              THEN 'old' ELSE 'new' END AS side,
        |         unnest(string_split(text, ' ')) AS tok
        |  FROM read_parquet('{dir}/documents.parquet')),
        |counts AS (
        |  SELECT tok,
        |         CAST(sum(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS BIGINT) AS c_old,
        |         CAST(sum(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS c_new
        |  FROM toks WHERE tok <> '' GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(c_old) AS BIGINT) AS n_old,
        |         CAST(sum(c_new) AS BIGINT) AS n_new,
        |         count(*) AS v
        |  FROM counts),
        |scored AS (
        |  SELECT tok, c_old, c_new,
        |         ln(((c_new + 1) / CAST(n_new + v AS DOUBLE)) /
        |            ((c_old + 1) / CAST(n_old + v AS DOUBLE))) AS lr
        |  FROM counts CROSS JOIN tot WHERE c_old + c_new >= 20)
        |SELECT tok, c_old, c_new, round(lr + 1e-7, 4) AS log_ratio
        |FROM scored
        |ORDER BY round(abs(lr) + 1e-9, 6) DESC, tok LIMIT 20""".stripMargin,
    "median_ci_binomial" ->
      """WITH hist AS (
        |  SELECT event_type, value, count(*) AS c
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        |cumf AS (
        |  SELECT h.event_type, h.value, t.n,
        |         sum(h.c) OVER (PARTITION BY h.event_type ORDER BY h.value
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         greatest(1, CAST(floor((t.n - 1.96 * sqrt(t.n)) / 2.0) AS BIGINT)) AS l
        |  FROM hist h JOIN tot t USING (event_type)),
        |cf2 AS (
        |  SELECT event_type, value, n, cum, l,
        |         least(n, n + 1 - l) AS u, CAST(floor((n + 1) / 2.0) AS BIGINT) AS rmed
        |  FROM cumf)
        |SELECT event_type, n, l AS l_rank, u AS u_rank,
        |       min(CASE WHEN cum >= rmed THEN value END) AS median,
        |       min(CASE WHEN cum >= l THEN value END) AS ci_lo,
        |       min(CASE WHEN cum >= u THEN value END) AS ci_hi
        |FROM cf2 GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    "trimmed_mean" ->
      """WITH hist AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS iv, count(*) AS c
        |  FROM read_parquet('{dir}/events.parquet') GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        |cumf AS (
        |  SELECT h.event_type, h.iv, h.c, t.n,
        |         CAST(floor(t.n / 20.0) AS BIGINT) AS k,
        |         sum(h.c) OVER (PARTITION BY h.event_type ORDER BY h.iv
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist h JOIN tot t USING (event_type)),
        |kf AS (
        |  SELECT event_type, iv, c, n, k, cum,
        |         greatest(0, least(cum, n - k) - greatest(cum - c + 1, k + 1) + 1) AS keep
        |  FROM cumf)
        |SELECT event_type, n, k,
        |       round(CAST(sum(iv * c) AS DOUBLE) / n / 100.0 + 1e-7, 4) AS mean,
        |       round(CAST(sum(iv * keep) AS DOUBLE) / (n - 2 * k) / 100.0 + 1e-7, 4) AS trimmed_mean,
        |       round(CAST(sum(iv * keep) + k * (min(CASE WHEN cum >= k + 1 THEN iv END)
        |             + min(CASE WHEN cum >= n - k THEN iv END)) AS DOUBLE) / n / 100.0 + 1e-7, 4)
        |         AS winsorized_mean
        |FROM kf GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "ndcg_label_eval" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM read_parquet('{dir}/embeddings.parquet')),
        |q AS (SELECT vec_id AS qid, label AS q_label, v AS qv FROM e WHERE vec_id < 50),
        |lc AS (SELECT label AS q_label, count(*) AS n_label FROM e GROUP BY 1),
        |ranked AS (
        |  SELECT qid, q_label, label,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY round(list_cosine_similarity(v, qv) + 1e-9, 6) DESC, vec_id) AS rnk
        |  FROM e CROSS JOIN q WHERE vec_id <> qid),
        |perq AS (
        |  SELECT qid, q_label,
        |         sum(CASE WHEN label = q_label THEN 1.0 / log2(rnk + 1) ELSE 0.0 END) AS dcg
        |  FROM ranked WHERE rnk <= 10 GROUP BY 1, 2),
        |scored AS (
        |  SELECT perq.q_label,
        |         coalesce(dcg / nullif(list_sum(list_transform(
        |           range(1, least(10, n_label - 1) + 1),
        |           r -> 1.0 / log2(r + 1))), 0.0), 0.0) AS ndcg
        |  FROM perq JOIN lc USING (q_label))
        |SELECT q_label, count(*) AS n_queries,
        |       round(avg(ndcg) + 1e-7, 4) AS avg_ndcg
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
