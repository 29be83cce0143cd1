package graft

/** Physical-plan audits (the "would this survive 100 TB" gate):
  * assert the plan SHAPES the scale design depends on — parquet
  * pushdown, column pruning, broadcast dims, top-k lowering, single-
  * shuffle windows — so a refactor that silently regresses one of
  * them fails CI, not the cluster.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plan(name: String): String = {
    // metadata strings (PushedFilters, ReadSchema) truncate at 100
    // chars by default — widen so assertions see the full filter list
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  /** Plan AFTER execution — AQE finalizes stages (and codegen stars)
    * only once the query has run.
    */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // executes THIS plan (count() would build a new one)
    df.queryExecution.executedPlan.toString
  }

  test("sli_filter_project: ts-range + event_type predicates reach the parquet scan") {
    val p = plan("sli_filter_project")
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    // both bounds on the raw nanos ts column AND the event_type filter
    assert(scanLine.contains("GreaterThanOrEqual(ts"), scanLine)
    assert(scanLine.contains("LessThan(ts"), scanLine)
    assert(scanLine.contains("EqualTo(event_type,error)"), scanLine)
  }

  test("rev_by_region: lineitem scan pruned to 3 columns, dims broadcast") {
    val p = plan("rev_by_region")
    val lineitemScan = p.linesIterator
      .find(l => l.contains("ReadSchema") && l.contains("lineitem")).getOrElse("")
    assert(lineitemScan.contains("l_orderkey") && lineitemScan.contains("l_extendedprice"),
      lineitemScan)
    // wide columns must NOT be read
    assert(!lineitemScan.contains("l_shipdate") && !lineitemScan.contains("l_quantity"),
      lineitemScan)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "nation/region not broadcast")
  }

  test("top-k queries lower to TakeOrderedAndProject (no global sort)") {
    Seq("top10_customers", "topk_words", "cosine_topk").foreach { q =>
      assert(plan(q).contains("TakeOrderedAndProject"), s"$q has a global sort")
    }
  }

  test("asof_prior_view: linear window plan — no join, no pair explosion") {
    val p = plan("asof_prior_view")
    assert(!p.contains("Join"), "as-of regressed to a join shape")
    assert(p.contains("Window"), "expected window-based as-of")
  }

  test("star-schema queries never use cartesian/broadcast-nested-loop joins") {
    Seq("rev_by_region", "top10_customers", "semi_join_urgent",
      "anti_join_no_p_orders", "outer_join_linecount", "range_join_shipwindow",
      "rollup_region_nation", "supplier_nation_rev").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: CartesianProduct")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: BNLJ")
    }
  }

  test("every declared query has at least one WholeStageCodegen stage") {
    SparkEntry.queries.keys.foreach { q =>
      assert(finalPlan(q).contains("*("), s"$q: no codegen stage")
    }
  }

  test("dedup sketch aggregation is a hash aggregate over exploded tokens (no HOF signature)") {
    // r9: the signature aggregate moved to the SketchStore BUILD
    // (ingest DDL) — audit the build plan; the query side is pinned
    // store-probing (no documents scan) in SketchStoreSpec
    val p = graft.operators.SketchStore.sketchRows(
        graft.sources.Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), "sketches must be hash aggregates")
    assert(p.contains("Generate explode"), "token explode missing")
  }

  test("outer_join_linecount aggregates lineitem BELOW the join (SMJ mode)") {
    // r11 shape (guide §2.3): the per-order line count collapses the
    // fact BEFORE the outer join, so with broadcast off the SMJ meets
    // two orderkey-grain inputs. Expected hash exchanges: the
    // lineitem count agg (which doubles as the join-right input — the
    // agg's hash(l_orderkey) partitioning satisfies the join),
    // join-left (orders), and the n_lines re-agg = exactly 3, with
    // the count aggregate UNDER the join, not above it.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("outer_join_linecount")(spark, sf)
      df.collect()
      val full = df.queryExecution.executedPlan.toString
      val p = full.indexOf("== Initial Plan ==") match {
        case -1 => full; case i => full.substring(0, i)
      }
      assert(p.contains("SortMergeJoin"), s"expected SMJ with broadcast off:\n$p")
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(hashExchanges == 3,
        s"expected exactly 3 hash exchanges (count agg = join-right, join-left, n_lines re-agg), got $hashExchanges:\n$p")
      val joinAt = p.indexOf("SortMergeJoin")
      // toString prints children BELOW their parent, so the lineitem
      // pre-agg must appear AFTER the join line (the n_lines rollup's
      // own partial_count sits above it)
      assert(p.indexOf("partial_count", joinAt) > joinAt,
        s"expected the lineitem count agg below the join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("slo_report_maintained never scans raw events — only the maintained report table") {
    val p = plan("slo_report_maintained")
    assert(!p.contains("events.parquet"),
      s"served report re-read the raw fact table:\n$p")
    assert(p.contains("graft_report"), "expected the maintained report table scan")
  }

  test("sketch_rollup never scans raw events — only the persisted sketch table") {
    val p = plan("sketch_rollup")
    assert(!p.contains("events.parquet"),
      s"rollup re-read the raw fact table:\n$p")
    assert(p.contains("graft_sketch"), "expected the persisted sketch table scan")
  }

  /** Every shuffle is a cluster-wide data movement — at 100 TB the
    * difference between 2 and 3 exchanges in a hot query is hours.
    * Pin each declared query's shuffle-exchange count (hash/range/
    * single-partition, counted on the pre-execution plan — broadcast
    * exchanges excluded: dim-size-dependent, asserted separately
    * above) at its audited value so a refactor that silently adds a
    * shuffle fails HERE, not on the cluster. Audited at sf0.001 with
    * default confs; a query genuinely needing a new shuffle updates
    * its pin in the same commit, visibly.
    */
  private val shufflePins: Map[String, Int] = Map(
    "sli_filter_project" -> 1, "sli_minute_downsample" -> 2,
    "sli_weighted_avg" -> 2, "slo_day_report" -> 2,
    "slo_breach_count" -> 3, "slo_compliance_pct" -> 3,
    "sli_latest_per_user" -> 2, "sli_rolling_7d" -> 3,
    "sli_sessionize" -> 2, "slo_hourly_tumble" -> 2,
    "error_budget_burn" -> 4, "rev_by_region" -> 2,
    "top10_customers" -> 1, "semi_join_urgent" -> 2,
    "anti_join_no_p_orders" -> 2, "outer_join_linecount" -> 3,
    "range_join_shipwindow" -> 2, "asof_prior_view" -> 2,
    "rollup_region_nation" -> 3, "cube_flag_status" -> 3,
    "set_ops_customers" -> 8, "distinct_exact" -> 3,
    "supplier_nation_rev" -> 3, "rank_parts" -> 2,
    "string_funcs" -> 2, "date_funcs" -> 2, "math_funcs" -> 2,
    "json_extract_agg" -> 2, "percentile_value" -> 2,
    "props_map_agg" -> 2, "grouping_sets_mix" -> 3,
    // window_lag_delta: (type, day)-keyed window exchange + type-grain
    // re-agg + sort (the r5 re-key added the day component)
    "window_lag_delta" -> 3, "moving_avg_rows" -> 3,
    "topk_words" -> 1, "dedup_docs" -> 3, "near_dup_pairs" -> 2,
    "cosine_topk" -> 0, "mmr_diverse_topk" -> 1, "text_stats" -> 3, "ngram_jaccard" -> 2,
    "emb_near_dup" -> 1, "knn_join_exact" -> 2,
    "media_bytes_stats" -> 3, "lang_id" -> 2, "quality_score" -> 2,
    "token_count" -> 2, "doc_fingerprint" -> 3, "hash_split" -> 2,
    "regex_token_profile" -> 2, "curate_corpus" -> 3,
    "distinct_hll" -> 2, "segment_dedup" -> 4,
    // dedup_clusters: r10 local CC regime — the closure's ONE
    // groupByKey exchange is now part of the returned plan (the
    // iterative rounds used to run eagerly before the plan printed),
    // + groupBy(part,lbl) + orderBy
    "dedup_clusters" -> 3, "cluster_keep_best" -> 4,
    "semantic_dedup" -> 4, "corpus_mix_sample" -> 2,
    "bloom_prefilter_dedup" -> 5,
    "near_dup_minhash" -> 9,
    "simhash_dups" -> 7, "source_overlap" -> 4,
    "percentile_approx_value" -> 2, "ann_cosine_topk" -> 0,
    "sketch_rollup" -> 0, "srp_near_dup" -> 3, "salted_join" -> 2,
    "ann_knn_join" -> 4, "curate_corpus_neardup" -> 11,
    "slo_report_maintained" -> 0, "interval_join_views" -> 3,
    "burn_rate_alerts" -> 4, "zscore_anomaly" -> 3,
    "heavy_hitters" -> 4,
    "pivot_day_type" -> 3, "unpivot_type_stats" -> 5,
    "stratified_sample" -> 2, "quantile_sketch_rollup" -> 2,
    "gap_fill_minutes" -> 3, "weekly_retention" -> 6,
    // ntile_quartiles (r5 histogram rewrite): every exchange is
    // bounded-grain except the (type, value) histogram agg and the
    // (type, slice)-keyed cumsum — prefixSumBy's bounds/partials/
    // offsets frames and the quartile-edge frame are |types|- or
    // (|types|*P)-grain, the final re-agg is 4*|types| rows
    "ntile_quartiles" -> 9, "tfidf_top_terms" -> 8,
    "seq_pack_buckets" -> 2, "repetition_stats" -> 4,
    "contamination_check" -> 5, "pii_scrub" -> 2,
    "above_brand_avg" -> 4, "range_frame_daily" -> 3,
    // budget_carryover: 9 is textual, not executed-per-row — the
    // cached day-rollup's subplan (agg+window exchanges, run ONCE at
    // cache build) prints inside InMemoryRelation in both the anchor
    // and the recursive step's copy of the plan
    "pq_topk" -> 0, "ivfpq_topk" -> 0, "budget_carryover" -> 9,
    "props_variant_stats" -> 3, "sql_udf_slo" -> 2,
    "array_funcs" -> 2, "try_funcs" -> 2, "phash_dups" -> 8,
    "dist_moments" -> 2, "listagg_sources" -> 3,
    "lateral_topn" -> 3, "filtered_aggs" -> 2,
    // unigram/token_kl: the model/marginal side is localCheckpoint'd
    // (vocab-sized), so the pre-exec plan scans the checkpointed RDD —
    // the corpus-scan count (2 / 1) is the real audit, the exchanges
    // here are the probe-side agg + sort
    "unigram_logprob" -> 4, "token_kl_sources" -> 5,
    "length_trim_outliers" -> 3, "ewma_smooth" -> 3,
    "rolling_p95" -> 4, "hist_buckets" -> 2,
    // §2.5h statistics + calibration wave: regr/minmax run on the
    // daily rollup (agg + re-agg + sort); mad is two ObjectHashAgg
    // passes bridged by a broadcast; bitbool is the minimal
    // agg+sort; zipf adds the rank-limited window; quantile_norm is
    // one window exchange + sort
    "regr_value_trend" -> 3, "minmax_by_day" -> 3,
    "mad_robust" -> 3, "bitbool_aggs" -> 2,
    "zipf_slope" -> 4, "quantile_norm_chars" -> 2,
    // engagement/incident/co-occurrence wave: rolling actives =
    // (day,user) dedup [the ONE corpus-sized exchange] + day-spine
    // re-agg + two-phase distinct re-agg (2) + sort, all on the
    // days×users grain; streaks = minute agg + daily agg + islands
    // window + streak agg + sort; copurchase = one orderkey
    // exchange shared by both join sides + pair partial-agg +
    // TakeOrdered (no sort exchange)
    "rolling_active_users" -> 5, "breach_streaks" -> 5,
    "copurchase_pairs" -> 3,
    // funnel = ONE user-keyed window exchange (3 stacked windows
    // share it) + reused-partitioning per-user agg + single-row
    // final; pareto = customer-grain agg + the documented
    // single-partition global window + single-row final
    "funnel_steps" -> 3, "pareto_share" -> 4,
    // r6 swap variant: customer-rev agg + slice partials + slice-keyed
    // rank/cumsum windows + single-row report fold (offsets/bounds
    // frames broadcast; base frame behind the cut)
    "pareto_share_prefix" -> 9,
    // t2c shares funnel's single user-window exchange + final agg;
    // peak = sessionize user exchange + day-partitioned sweep window
    // + day agg/sort; ship = histogram agg + priority window + sort
    // (join is broadcast at audit SF); pagerank's pre-exec plan scans
    // the checkpointed final ranks — top-20 lowers to TakeOrdered,
    // zero exchanges (iteration shuffles run at construction, each
    // bounded to node/edge grain)
    "time_to_convert" -> 2, "peak_concurrency" -> 3,
    // copurchase_pagerank: r10 local regime — the packed-adjacency
    // single-reducer exchange is in-plan (the distributed loop's
    // node-grain shuffles used to run eagerly at construction)
    "ship_latency" -> 3, "copurchase_pagerank" -> 1,
    // growth/engagement wave: cohort = (user,day) two-phase dedup
    // (2) + user-keyed first-seen agg reusing that partitioning +
    // two-phase countDistinct re-agg (2) + broadcast cohort sizes +
    // sort (cohort sizes themselves add the 7th, calendar-grain);
    // nvr shares the dedup/first-seen shape with a plain day re-agg;
    // dow = two-phase type agg + broadcast overall avg + sort;
    // cadence = one custkey window exchange + single-row final agg
    "cohort_retention" -> 7, "new_vs_returning" -> 4,
    "seasonal_dow_index" -> 3, "repeat_cadence" -> 2,
    // behavioral-sequence + experimentation wave: transitions = user
    // window exchange + types² rollup + row-normalizing window on the
    // rollup + sort; session_paths = the sessionize user exchange
    // ONLY (per-session collect groups on (user, session) which
    // user-hash partitioning already satisfies) + path rollup,
    // top-10 lowers to TakeOrdered; ab_test = user-grain conv agg +
    // single-row fold; entropy = (source,tok) rollup + source fold +
    // sort
    "event_transitions" -> 4, "session_paths" -> 2,
    "ab_test_conversion" -> 2, "entropy_ttr" -> 3,
    // ops/quality wave: fuzzy = name-domain distinct (2-phase) +
    // block-key self-join exchange shared by both sides (names
    // re-derive per side at this SF) + sort; rfm = customer agg +
    // the documented single-partition ntile windows + grid sort;
    // interarrival = (type,day) window exchange + type re-agg +
    // minute rollup (2-phase) + broadcast-joined fano + sort;
    // dq = the multi-distinct Expand aggregation pair (stack adds
    // nothing — runs on one row)
    "fuzzy_name_pairs" -> 3, "rfm_segments" -> 3,
    // dq_profile (r11 per-column rewrite, guide §5): the 6× Expand
    // multi-distinct became six single-column two-phase distincts —
    // per column one distinct-values exchange + one single-row count
    // collapse (6×2), plus the null/min/max pass's single-row
    // collapse. Every exchange carries one column's distinct values
    // or one row; none carries the ×6 Expand blow-up that spilled
    // 31.7 GB at sf30.
    "interarrival_stats" -> 5, "dq_profile" -> 13,
    // SLO lifecycle wave: forecast = minute rollup (2-phase counts as
    // the one corpus pair) + day re-agg + broadcast min-day anchor +
    // moment agg + sort; flap = the same rollup + day lag window +
    // type agg + sort; decompose = day rollup + centered-MA window +
    // broadcast dow effect + moment agg + sort
    "burn_forecast" -> 5, "flap_rate" -> 4,
    "seasonal_decompose" -> 5,
    // imputation/attribution/discrete-stats wave: locf = minute
    // rollup + day re-agg + LOCF window + sort on the day grain;
    // attribution = ONE user window exchange + (types+1) rollup +
    // global-share window on that rollup; qdm = percentile agg +
    // (type,bucket) count + rank-1 window (WindowGroupLimit) +
    // broadcast mode join + sort
    "locf_impute" -> 4, "purchase_attribution" -> 3,
    "quantile_disc_mode" -> 4,
    // pipeline-summary wave: funnel = content-hash window exchange +
    // single-row flag fold (stack is free); emb_stats = dim-keyed
    // posexplode partial agg + two single-row folds (broadcast cross)
    "curation_funnel" -> 2, "emb_stats" -> 3,
    // weighted/banded quantile wave: wmp (two-pass histogram form) =
    // dollar-histogram partial agg + bucket-grain windows + the
    // target-bucket re-scan's price collapse + in-bucket window +
    // sort — every exchange carries histogram/bucket-grain rows, the
    // corpus is scanned twice and shuffled never; bands = day rollup
    // + percentile agg + sort
    "weighted_median_price" -> 5, "daily_percentile_bands" -> 3,
    // cross-series dependence wave: corr matrix = day rollup (2-phase)
    // + day-keyed self-join on the rollup grain + pair moment agg +
    // sort; autocorr = day rollup + lag window + moment agg (sort
    // rides the window partitioning)
    "type_corr_matrix" -> 4, "value_autocorr" -> 3,
    // embedding-geometry + corpus-growth wave: label_separation's 12
    // exchanges are ALL labels×dims/label-grain (the r6 post-explode
    // rewrite that fixed the O(d²) lambda-fold added a second
    // corpus-width partial agg — the per-label Σu² moment now
    // aggregates from the exploded frame directly instead of a
    // pre-collapsed array column; both corpus-width stages are
    // map-side partial aggs with bounded output; the pair join the
    // algebra replaces would be the real cost); vocab_growth =
    // bigram-grain first-appearance agg (2-phase) + bucket rollup +
    // bucket-grain running sum + left join
    // vocab_growth (r5): bigram first-appearance agg + bucket rollup
    // run once at PrefixOps' localCheckpoint build; the printed plan
    // is checkpoint-scan → bounds agg + slice partials/offsets +
    // slice-partitioned cumsum + final sort
    "label_separation" -> 12, "vocab_growth" -> 6,
    // planning diagnostics: tagged single-column scans union into the
    // (key, value) frequency rollup (2-phase — hot keys collapse
    // map-side) + key-grain stats + sort
    "skew_profile" -> 3,
    // order-economics wave: q6 shape = one pushed-filter scan +
    // band agg + sort; backlog = per-order max-shipdate agg (the one
    // corpus exchange) + day rollup + calendar-grain running sum
    "revenue_discount_band" -> 2, "orders_backlog" -> 3,
    // concentration + availability wave: hhi = broadcast part dim +
    // (type, supplier) rollup + types-grain totals broadcast back +
    // supplier-grain fold + sort; max_gap shares interarrival's
    // (type, day) window + day agg + type re-agg + sort
    "supplier_hhi" -> 5, "max_gap_minutes" -> 4,
    // r5 sketch-swap variants: hll profile is the POINT — one
    // single-pass agg exchange, no Expand; the sketch-served rollup
    // re-keys the persisted day sketches (day agg + spine distinct +
    // anchor re-agg + sort); gk mad = sketch pass + deviation pass +
    // sort (centers broadcast)
    "dq_profile_hll" -> 1, "rolling_active_users_sketch" -> 4,
    "mad_robust_gk" -> 3,
    // r5 filtered ANN: same probe-only shape as ann_cosine_topk —
    // broadcast pivots + DPP-pruned pushed-filter assign scan +
    // TakeOrdered; zero shuffles
    "ann_filtered_topk" -> 0,
    // r5 bm25: ONE single-row stats agg broadcast back; scoring is
    // scan-side HOF arithmetic + TakeOrdered — corpus never shuffles
    "bm25_search" -> 1,
    // r5 LSH closure: CC rounds run at construction (dedup_clusters
    // precedent); the returned summary re-aggs the checkpointed
    // labels (cluster agg + lang rollup + sort)
    "lsh_dedup_clusters" -> 4, // +1 r10: local CC's in-plan exchange
    // r5 hybrid RRF: the corpus-sized work is the two lanes' audited
    // shapes (bm25's single-row stats agg = the 1 exchange here; the
    // dense lane is broadcast-query + TakeOrdered). Everything above
    // the two TakeOrderedAndProject(50)s — in-lane rank Windows and
    // the full-outer fusion join — runs on ≤50-row frames
    "hybrid_rrf" -> 1,
    // r5 duplicate-text fraction: ONE corpus-sized exchange (the
    // shingle-grain Window — see the scaladoc for why it beats
    // groupBy+self-join here) + doc rollup + source rollup + sort
    "dup_ngram_coverage" -> 4,
    "containment_pairs" -> 2,
    // r6 LSH-Ensemble twin: sketch agg runs behind the cut(); printed
    // are the near lane's undirected-pair distinct, the far lane's
    // distinct, the verify joins' exchange pair, and the lang-grain
    // report agg (the r6 perf rework split the lanes: A/B-eligibility
    // pushed into both key frames, orientation expansion after the
    // dedup — 57.6 -> 15.7 s at sf0.1 with identical output)
    // r9 audit reshape: witness windows need their own (lang, band,
    // bucket, stratum) partitioning (a strict superset of the join
    // key, so the probe re-partitions), and the doc-grain rollup +
    // eligible-count join add two more — all seven carry band-key or
    // doc-grain volume, never in-bucket pairs
    "containment_lsh" -> 7,
    // r5 linear interpolation: locf's rollup shape + one partitioned
    // Window exchange for the four neighbor frames + sort
    "interp_impute" -> 4,
    // r5 χ² terms: ONE corpus-sized exchange (the (term, lang) hash
    // agg, partial-agg'd map-side); term-total window + lang rank +
    // sort are vocab-grain re-keys of that frame; plus the two
    // constant-size broadcast inputs' own aggs (lang totals, N)
    "chi2_terms" -> 6,
    // r5 PMI: pair-grain + vocab-grain hash aggs (partial-agg'd) +
    // the two single-row totals; top-10 is TakeOrdered. Pre-AQE the
    // vocab agg appears on each consumer branch (t1 + both broadcast
    // sides) and the pair agg twice (t2 + join) before ReuseExchange
    // folds the identical subplans — 7 printed, 4 distinct
    "bigram_pmi" -> 7,
    // r5 association rules: copurchase's basket-distinct + self-join
    // pair agg, part-dimension counts broadcast (appearing per
    // consumer branch pre-AQE), single-row N; top-10 is TakeOrdered
    "lift_rules" -> 9,
    // r5 clustering: assignment is scan-side against centroid
    // literals (ZERO shuffles per iteration on the corpus side); the
    // 2 exchanges are the k×d-grain centroid-update agg + the final
    // k-grain report agg
    "kmeans_assign" -> 2,
    // r5 triangle census; r8: reads the persisted bucketed edge
    // store — the degree agg and the orient/wedge joins keyed on the
    // bucket column carry no exchange; printed are the closing join's
    // vk re-key and a single-row stat collapse
    "triangle_parts" -> 2,
    // r5 CUSUM: (type, day) rollup (appearing twice pre-AQE: stats
    // branch + probe branch), the type-partitioned running windows +
    // peak rank, and the final type-grain fold — all calendar-grain
    // after the one corpus-sized exchange
    "cusum_changepoint" -> 5,
    // r5 DSIR: vocab model agg at construction (checkpointed); the 4
    // printed are the token→(doc, source) rollup, the source-grain
    // fold, and the broadcast sides' own single-row/vocab aggs
    "dsir_weights" -> 4,
    // r5 percent_rank tail: one brand-partitioned sort exchange for
    // the window + the output sort
    "price_position" -> 2,
    // r10 Q21 reshape (no fact-fact joins): the (orderkey, suppkey)
    // dedup agg + the per-order conditional agg + the supplier-grain
    // count. At bench SF orders broadcasts so the first two both
    // print; past broadcast range the orders SMJ's orderkey
    // partitioning carries BOTH aggs (subset clustering) and the
    // whole pipeline is one orderkey exchange + the tiny suppkey one
    "blame_supplier" -> 3,
    // r5 degree distribution; r8: degree agg rides the bucketed
    // edge-store scan — printed are only the ≤64-row bucket agg +
    // sort
    "degree_dist" -> 2,
    // r5 Tukey fences: the quartile agg (broadcast back) + the probe
    // rollup + sort — two corpus passes by design (exact quartiles
    // need the data before the fences exist)
    "iqr_outliers" -> 3,
    // r5 Q22 shape: custkey anti-join exchange pair + nation-grain
    // rollup; the balance average and nation dim broadcast
    "idle_rich_customers" -> 3,
    // r5 novelty decay: the (bucket, shingle)-distinct exchange runs
    // at construction (checkpointed); printed are the two bucket-
    // grain rollups, their join, and the sort
    "shingle_novelty" -> 4,
    // r5 source redundancy: (source, token) model agg at
    // construction (checkpointed); printed are the vocab-keyed pair
    // join's exchanges and the ≤|sources|²-group rollup —
    // TakeOrdered needs no sort exchange
    "source_cosine_pairs" -> 3,
    // r5 Gini: customer-revenue rollup (the fact exchange), the
    // segment-partitioned rank window, segment-grain fold
    "revenue_gini_by_segment" -> 3,
    // r5 assortativity; r8: degree agg and the a-keyed endpoint
    // join ride the bucketed edge-store scan — printed is only the
    // b-keyed endpoint join's re-key (the moment fold collapses into
    // the single-row agg)
    "degree_assortativity" -> 1,
    // r5 char entropy: the (lang, char)-grain agg (appearing on the
    // totals branch and the probe branch pre-AQE), the lang-grain
    // totals, their join, and the sort — alphabet-grain throughout
    "char_entropy" -> 5,
    // r6 TPC-H-shape wave. returned_revenue: the custkey revenue agg
    // is the one exchange at this SF (the orderkey fact-fact join and
    // both dim hops broadcast; at scale AQE keeps the custkey agg as
    // the only post-join exchange since the join emits custkey rows).
    // small_qty_revenue: per-part avg (2-phase pre-AQE) + the final
    // 25-row brand rollup — the probe and part joins reuse the
    // partkey partitioning. bulk_orders: orderkey qty rollup +
    // 20-row TakeOrdered re-sort after the broadcast name attach.
    // top_supplier_window: the suppkey rollup appears on the rev and
    // max branches pre-AQE (2 each, 2-phase) — all supplier-grain.
    // promo_share_monthly: 12-row month agg pair (2-phase).
    // nation_market_share: orderkey join pair + custkey market re-key
    // + year-grain agg. psi_drift: (type,bucket) conditional agg
    // (2-phase) + type totals + bounded join + sort.
    // length_survival: the |langs|-row wide conditional agg (2-phase)
    // — the explode runs on the bounded frame after it.
    "returned_revenue" -> 1, "small_qty_revenue" -> 3,
    "bulk_orders" -> 2, "top_supplier_window" -> 4,
    "promo_share_monthly" -> 2, "nation_market_share" -> 4,
    "psi_drift" -> 4, "length_survival" -> 2,
    // r6 decorrelation-shape wave 2. cheapest_supplier (r7 reshape):
    // PROMO semi-join prunes the fact scan BEFORE the one
    // (partkey,suppkey) avg; the per-part min is a partkey window on
    // the same frame (no second corpus agg, no self-join) — part-join
    // exchange + agg exchange (+window reuses it); dim hops broadcast
    // at this SF. nation_trade_volume: year-grain
    // agg (2-phase) + sort — the nation-filtered dim sides broadcast.
    // major_parts: the partkey rollup appears on the probe and
    // threshold branches pre-AQE (2-phase each) — all partkey/
    // single-row grain. supplier_variety: (type,band,suppkey)
    // distinct + (type,band) re-agg + sort (exclusion anti-join
    // broadcasts at this SF, suppkey-keyed at scale).
    // dominant_suppliers: (partkey,suppkey) qty agg + partkey total
    // re-agg + the partkey threshold join re-key + suppkey dominance
    // agg + sort.
    "cheapest_supplier" -> 4, "nation_trade_volume" -> 2,
    "major_parts" -> 4, "supplier_variety" -> 3,
    "dominant_suppliers" -> 5,
    // r6 split leakage: the bounded-slice pair join's exchange + the
    // lang rollup (the split attach rides broadcast at this SF)
    "split_leakage" -> 2,
    // r6 ES weighted sample: the lang-window exchange (WindowGroupLimit
    // lowers the rank<=10 map-side) + the final sort
    "weighted_sample" -> 2,
    // r6 k-core: the peel rounds run behind per-round cut()s; the
    // printed report plan is checkpoint-scan -> the node distinct's
    // exchange pair (partial+final over the unioned endpoints) + the
    // global count collapse -> single-row crossJoin
    "kcore_parts" -> 3,
    // r6 hot-key salted twin: the printed plan is the two lanes' union
    // into the nation rollup + sort (the hot-key counting pass runs
    // eagerly at plan-build time; lane joins broadcast at this SF,
    // suppkey-keyed at scale)
    "salted_hot_join" -> 2,
    // r6 clamp-scan swap: day rollup (2-phase) + the event_type window
    // exchange + sort — the recursion's ~30 sequential jobs are gone
    "budget_carryover_scan" -> 3,
    // r6 affine-monoid scan: the sliced running pass runs behind
    // affineScanBy's cut()s; printed are the (type, slice) totals agg
    // pair, the bounded offsets-window exchange, the seeds agg over
    // the checkpointed frame, and the final sort
    "holt_smooth" -> 5,
    // r6 link prediction; r8: the wedge self-join and every degree
    // agg ride the bucketed edge-store scan (exchange-free on x) —
    // printed is only the (a,b) pair agg's re-key; the degree
    // attaches stay UNHINTED (node = part is SF-scaled — the
    // broadcast-build tripwire class) and AQE elects BHJ when small
    "common_neighbor_recs" -> 1,
    // the r8 capped variant derives the center filter from a window
    // count INSIDE the bucketed partitioning (no semi-join exchange)
    "common_neighbor_recs_capped" -> 1,
    // r6 BFS: rounds run behind per-round cut()s; printed are the
    // node-distinct pair-collapse off the bucketed store, the hop
    // histogram agg, and the sort
    "hub_distance" -> 3,
    // r6 skyline: price-grain agg + the bounded cummax window's
    // single-partition exchange + final sort (part probe broadcasts)
    "skyline_parts" -> 3,
    // slice exchange + frontier re-agg + final window/sort
    "skyline_parts_2p" -> 5,
    // r6 Benford: digit agg pair (2-phase) + single-row total + sort
    "benford_digits" -> 4,
    // r6 bigram LM: model agg runs behind cut(); printed are the
    // doc-grain scoring agg (2-phase), the source rollup pair, and
    // the sort — the model/prefix/vocab frames all broadcast
    "bigram_logprob" -> 6,
    "bigram_logprob_pruned" -> 6,
    // r6 Holt anomalies: the residual frame is cut (state subtree +
    // σ fold behind it); printed are the worst-day window exchange,
    // the type rollup, and the sort
    "holt_anomaly" -> 3,
    // r6 drawdown: prefixMaxBy's sliced pass runs behind its cut();
    // printed are the (type, slice) partial-max agg pair, the bounded
    // offsets window, the readout rollup pair, and the sort
    "value_drawdown" -> 7,
    // r6 KM: subject frames cut (view agg + purchase join behind
    // them); printed are the duration histogram pair, its bounded
    // window's single-partition exchange, the horizon rollup, + sort
    "survival_conversion" -> 5,
    // r6 MWU: the value-domain histogram agg feeds a domain-grain
    // window + single-row fold — 2 exchanges end to end
    "mwu_value_test" -> 2,
    // r6 entity resolution: CC rounds run behind per-round cut()s;
    // printed are the entity rollup pair over the final label frame
    "name_entity_clusters" -> 2,
    // r6 isotonic: the discount-grid agg (2-phase) feeds the cut
    // bucket frame; printed are the grid rollup, the minimax joins'
    // re-keys, and the sort — all ≤B³-row frames
    "isotonic_return_rate" -> 4,
    // r6 Theil-Sen: daily rollup runs behind its cut(); printed are
    // the slope-median agg (sort-based percentile), the intercept
    // rollup, and the sort — all day²-grain or smaller
    "theilsen_trend" -> 3,
    "theilsen_trend_sampled" -> 3,
    // r6 KS: value-domain histogram agg + its bounded window's
    // single-partition exchange + the single-row fold
    "ks_value_test" -> 4,
    // r7 ANOVA: per-type sufficient-stats agg + the 5-row fold
    "anova_value_test" -> 2,
    // r7 Kruskal-Wallis: value-domain histogram agg + its bounded
    // window's single-partition exchange (fold reuses the partition)
    "kruskal_value_test" -> 2,
    // r7 Spearman: (hour, value) cell agg + two bounded midrank
    // re-aggs with their domain-grain window exchanges + the fold
    "spearman_value_hour" -> 8,
    // r7 periodogram: minute-of-day rollup + the 8640-term harmonic
    // agg + 1-row total + sort
    "dft_periodogram" -> 6,
    // r7 dedup report: content-hash agg + size histogram + 1-row
    // total + sort
    "dup_cluster_sizes" -> 5,
    // r7 int8 SQ eval: d-grain scale agg runs in the collect pass;
    // printed are the label rollup pair (scale frame is a literal)
    "emb_quantize_error" -> 2,
    // r7 Matryoshka eval: three group-limit-lowered qid window
    // exchanges over the cut pair frame + the top-10 joins + fold
    "matryoshka_recall" -> 8,
    // r7 label-ranking eval: qid window exchange + per-query agg +
    // the label rollup
    "knn_label_eval" -> 3,
    // r7 BPE profile: pair-count agg (TakeOrdered top-20, no sort
    // exchange) + the 1-row total
    "bpe_merge_candidates" -> 2,
    // r7 local clustering; r8: degree/orient ride the bucketed
    // store — printed are the closing join's vk re-key, the per-node
    // explode agg, the bucket rollup + sort
    "clustering_coeff" -> 4,
    // r7 conformal: train-mean agg + calibration score histogram +
    // its type-keyed window exchange + the n_cal rollup + sort
    "conformal_interval" -> 7,
    // r7 Poisson bootstrap: base stats agg + the (type, b) resample
    // agg + the 32-row-per-type window exchange + final join/sort
    "bootstrap_ci_mean" -> 4,
    // r7 Hill; r8: the degree agg rides the bucketed edge-store
    // scan and the top-51 list is TakeOrdered — zero exchanges
    "hill_tail_index" -> 0,
    // r7 SCD2: user-keyed window exchange + version agg + band rollup
    "scd2_versions" -> 3,
    // r7 incremental dedup: fingerprint aggs on both sides + the
    // store left join + lang rollup
    "incremental_dedup" -> 4,
    // r7 drift movers: the token-count agg runs behind its cut();
    // printed is the TakeOrdered top-20 over the scored vocab frame
    "token_drift_movers" -> 1,
    // r7 robust stats: histogram agg + per-type totals + the
    // type-keyed window exchange + the report rollup + sort
    "median_ci_binomial" -> 5,
    "trimmed_mean" -> 5,
    // r7 nDCG: shared top-10 window exchange + per-query DCG agg +
    // label rollup + sort (label-counts frame broadcasts)
    "ndcg_label_eval" -> 4)

  test("shuffle-exchange budget: no query exceeds its audited exchange count") {
    val counts = SparkEntry.queries.keys.map { q =>
      q -> "Exchange (hash|range|Single)".r.findAllIn(plan(q)).size
    }.toMap
    val unpinned = counts.keySet -- shufflePins.keySet
    assert(unpinned.isEmpty, s"new queries need a shuffle pin: $unpinned")
    val over = counts.filter { case (q, n) => n > shufflePins(q) }
    assert(over.isEmpty,
      over.map { case (q, n) => s"$q: $n shuffles (pinned ${shufflePins(q)})" }
        .mkString("shuffle regressions:\n", "\n", ""))
  }

  /** r4-verdict tripwire: an unpartitioned Window funnels its ENTIRE
    * input through one task — at 100 TB that task IS the query
    * (vocab_growth's old global cumsum was the caught instance; it now
    * runs through [[graft.operators.PrefixOps.prefixSum]]). A query may
    * carry an unpartitioned Window ONLY when pinned here with the
    * bounded-or-documented grain that justifies it; anything new fails
    * the audit. Stale pins fail too, so the list can't rot.
    */
  private val unpartitionedWindowPins: Map[String, String] = Map(
    // slice-count-grain offsets frame inside PrefixOps.prefixSum
    // (≤ spark.sql.shuffle.partitions rows, data-size constant) —
    // the corpus-grain cumsum itself is slice-partitioned
    "vocab_growth" -> "PrefixOps offsets frame (≤ shuffle.partitions rows)",
    // |event_types|+1-row rollup feeding the share denominator
    "purchase_attribution" -> "types-grain share denominator",
    // calendar-grain running sum (days since first order) — swap to
    // PrefixOps.prefixSum documented in the scaladoc if the grain
    // ever became unbounded
    "orders_backlog" -> "calendar-grain running sum",
    // customer-grain ranked curve / ntiles: bounded by the customer
    // DIMENSION, not the fact corpus; the scaladocs document the
    // two-pass swap past dimension-broadcast scale
    "pareto_share" -> "customer-dimension ranked curve (swap DEMONSTRATED: pareto_share_prefix)",
    // slice-count-grain offsets frame inside PrefixOps.rankedPrefix
    "pareto_share_prefix" -> "rankedPrefix offsets frame (<= shuffle.partitions rows)",
    "rfm_segments" -> "customer-dimension ntiles (documented swap)",
    // in-lane rank over each top-50 candidate list (k-bounded: the
    // Windows sit ABOVE TakeOrderedAndProject(50), so their input is
    // ≤50 rows at any corpus size)
    "hybrid_rrf" -> "rank over the two k=50 candidate lists (k-bounded)",
    // price-grain cummax over the part CATALOG (dimension-bounded,
    // the price_position argument); the scaladoc documents the
    // two-phase local-frontier skyline swap past catalog scale
    "skyline_parts" -> "part-dimension price-grain cummax (swap DEMONSTRATED: skyline_parts_2p)",
    // phase 2 of the two-phase skyline: cummax over the UNION OF
    // LOCAL FRONTIERS (each slice's non-dominated price groups) —
    // bounded by Σ local frontier sizes, not the catalog; phase 1's
    // per-slice cummax is slice-PARTITIONED and not flagged
    "skyline_parts_2p" -> "frontier-of-frontiers cummax (Σ local frontiers)",
    // KM fold over the DURATION-grain histogram: bounded by the
    // observation calendar in minutes, not the corpus
    "survival_conversion" -> "duration-grain KM histogram (calendar-bounded)",
    // rank windows over the VALUE-DOMAIN histogram (the ship_latency
    // lesson): grain = distinct 2-dp values, not events
    // (isotonic_return_rate's 11-row grid prefix sums run eagerly
    // behind its cut() and never appear in a printed plan)
    "mwu_value_test" -> "value-domain histogram ranks (domain-bounded)",
    // same plane: both ECDFs are prefix counts over distinct values
    "ks_value_test" -> "value-domain histogram ECDFs (domain-bounded)",
    // same plane, k arms: midranks over the distinct-value histogram
    "kruskal_value_test" -> "value-domain histogram midranks (domain-bounded)",
    // top-(k+1) degree list off a TakeOrderedAndProject — 51 rows at
    // any corpus size
    "hill_tail_index" -> "top-(k+1) degree list (k-bounded)",
    // both marginals midrank on bounded frames: hour (24 rows) and
    // the 2-dp value domain — the corpus-grain cell agg has no window
    "spearman_value_hour" -> "hour + value-domain midrank frames (domain-bounded)")

  test("no unpartitioned Window on an unbounded grain (r4 tripwire)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExecBase
    def unpartitioned(p: SparkPlan): Int = {
      val here = p match {
        case w: WindowExecBase if w.partitionSpec.isEmpty => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      here + kids.map(unpartitioned).sum
    }
    val counts = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      q -> unpartitioned(
        SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
    }.toMap
    val offenders = counts.filter { case (q, n) =>
      n > 0 && !unpartitionedWindowPins.contains(q) }
    assert(offenders.isEmpty,
      offenders.keys.toSeq.sorted.mkString(
        "unpinned unpartitioned Windows (single-task at scale):\n", "\n", ""))
    val stale = unpartitionedWindowPins.keySet.filter(q => counts(q) == 0)
    assert(stale.isEmpty, s"stale unpartitioned-Window pins: $stale")
  }

  /** r5-verdict blind spot: the tripwire above catches
    * `partitionSpec.isEmpty`, but a Window partitioned ONLY by a
    * bounded DIMENSION (event_type ~5 values, lang ~4, …) over
    * corpus-grain input is the same single-task sort wearing a
    * partition key — at 100 TB each of the ~5 tasks sorts ~corpus/5
    * rows (the window_lag_delta / ntile_quartiles finding; both now
    * re-keyed). Cardinality isn't statically knowable, so the
    * discipline is a PIN LIST: every window whose partition key
    * references ONLY bounded-dimension columns must be pinned here
    * with the (key, grain) pair that justifies it — i.e. WHY its
    * input grain is bounded (calendar rollup, dimension table,
    * k-limited list) rather than corpus-proportional. A window whose
    * key includes any data-proportional component (a day, a slice id,
    * an order key — projected to `_w…` attributes or named columns
    * not in the dimension set) passes untouched.
    */
  private val boundedDims = Set(
    "event_type", "lang", "source", "label", "grp", "segment", "variant",
    "l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority",
    "c_mktsegment", "p_brand", "p_type", "r_name", "n_name")

  /** value = the GRAIN justification. Prefix `[wgl]` additionally
    * asserts the plan contains WindowGroupLimit — the rank≤k filter
    * was lowered to a map-side partial top-k, so the final per-key
    * sort sees ≤ k×tasks rows, not the corpus.
    */
  private val boundedDimWindowPins: Map[String, String] = Map(
    // calendar-bounded input: the window runs over a (type, day/
    // minute/hour) rollup, so per-key rows are bounded by the
    // calendar, not the corpus
    "sli_rolling_7d" -> "day-grain rollup (calendar-bounded)",
    "rolling_p95" -> "day-grain rollup (calendar-bounded)",
    "gap_fill_minutes" -> "minute-grid rollup (calendar-bounded)",
    "zscore_anomaly" -> "day-grain rollup (calendar-bounded)",
    "burn_rate_alerts" -> "hour-grain rollup (calendar-bounded)",
    "breach_streaks" -> "day-grain rollup (calendar-bounded)",
    "flap_rate" -> "day-grain rollup (calendar-bounded)",
    "locf_impute" -> "day-grid rollup (calendar-bounded)",
    "interp_impute" -> "day-grid rollup (calendar-bounded)",
    "cusum_changepoint" -> "day-grain rollup (calendar-bounded)",
    "budget_carryover_scan" -> "day-grain rollup (calendar-bounded)",
    "ewma_smooth" -> "day-grain rollup (calendar-bounded)",
    "value_autocorr" -> "day-grain rollup (calendar-bounded)",
    "seasonal_decompose" -> "day-grain rollup (calendar-bounded)",
    "moving_avg_rows" -> "minute-grain rollup (calendar-bounded)",
    "range_frame_daily" -> "day-grain rollup (calendar-bounded)",
    // histogram-bucket input: the window ranks (type, bucket) counts
    // — the bucket domain is the grain, not the corpus
    "quantile_disc_mode" -> "bucket-grain mode rank (domain-bounded)",
    // rank≤k windows lowered to WindowGroupLimit (asserted): the
    // final sort sees the partial top-k survivors only
    "stratified_sample" -> "[wgl] rank<=10 per lang (group-limit lowered)",
    "weighted_sample" -> "[wgl] rank<=10 per lang (group-limit lowered)",
    "chi2_terms" -> "[wgl] rank<=5 per lang (group-limit lowered)",
    "zipf_slope" -> "[wgl] rank<=100 per source (group-limit lowered)",
    "rank_parts" -> "[wgl] dense_rank<=3 per brand (group-limit lowered)",
    // calibration-score histogram: grain = distinct 1e-4-grid scores
    // per type, not the corpus (the mwu/ks plane)
    "conformal_interval" -> "calibration score-domain histogram (domain-bounded)",
    // constant 32-resample-means frame per type
    "bootstrap_ci_mean" -> "B=32 resample means per type (constant grain)",
    // value-domain histogram prefix counts (the mwu/ks plane)
    "median_ci_binomial" -> "value-domain histogram order stats (domain-bounded)",
    "trimmed_mean" -> "centi-grid histogram rank overlaps (domain-bounded)",
    // prefixSumBy offsets frame: |types| x shuffle.partitions rows,
    // data-size constant (the corpus-grain cumsum itself is keyed by
    // (type, slice)) — the ntile_quartiles r5 fix
    "ntile_quartiles" -> "PrefixOps.prefixSumBy offsets frame (|types|*P rows)",
    // affineScanBy slice-offset frame: same |types| x P bounded grain
    // (the corpus-grain running composition is keyed by (type, slice))
    "holt_smooth" -> "affineScanBy offsets frame (|types|*P rows)",
    // same offsets frame via holtStates, plus the worst-day pick over
    // the day-grain residual rollup (calendar-bounded)
    "holt_anomaly" -> "affineScanBy offsets + day-grain worst-day rank (calendar-bounded)",
    // prefixMaxBy slice-offset frame: |types| x P rows, data-size
    // constant (the raw-event running max is keyed by (type, slice))
    "value_drawdown" -> "PrefixOps.prefixMaxBy offsets frame (|types|*P rows)",
    // corpus-grain percent_rank kept exact by design (the probe set
    // needs ranks within the FULL per-source distribution); the
    // scaladoc documents the two-pass rank swap past that
    "quantile_norm_chars" -> "corpus-grain exact percent_rank (documented two-pass swap)",
    // part-dimension ranked curve: grows with the catalog, not the
    // fact corpus; scaladoc documents the PrefixOps swap (the
    // pareto_share_prefix variant demonstrates the swap end-to-end)
    "price_position" -> "part-dimension percent_rank (documented swap)")

  test("no bounded-dimension-keyed Window over an unbounded grain (r5 tripwire)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExecBase
    def dimKeyed(p: SparkPlan): Seq[String] = {
      val here = p match {
        case w: WindowExecBase if w.partitionSpec.nonEmpty &&
            w.partitionSpec.forall(e =>
              e.references.nonEmpty &&
                e.references.forall(a => boundedDims.contains(a.name))) =>
          Seq(w.partitionSpec.flatMap(_.references.map(_.name)).distinct
            .mkString("(", ",", ")"))
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      here ++ kids.flatMap(dimKeyed)
    }
    val keys = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      q -> dimKeyed(
        SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
    }.toMap
    val offenders = keys.filter { case (q, ks) =>
      ks.nonEmpty && !boundedDimWindowPins.contains(q) }
    assert(offenders.isEmpty,
      offenders.toSeq.sortBy(_._1).map { case (q, ks) => s"$q: keys ${ks.mkString(" ")}" }
        .mkString("unpinned bounded-dimension Windows (per-key single-task at scale):\n",
          "\n", ""))
    val stale = boundedDimWindowPins.keySet.filter(q => keys(q).isEmpty)
    assert(stale.isEmpty, s"stale bounded-dimension-Window pins: $stale")
    // [wgl] pins: the bounded grain CLAIM is that the rank filter
    // lowered to WindowGroupLimit — verify it mechanically
    boundedDimWindowPins.filter(_._2.startsWith("[wgl]")).keys.foreach { q =>
      assert(plan(q).contains("WindowGroupLimit"),
        s"$q pinned as group-limit-lowered but plan has no WindowGroupLimit")
    }
  }

  /** r6-verdict tripwire: a FORCED `broadcast()` whose build side is
    * data-proportional is not a slowdown at 100 TB — it is a driver
    * OOM against the 8 GB broadcast hard limit (the bigram_logprob /
    * nation_market_share / top_supplier_window / blame_supplier
    * finding class, all fixed this round). Size-based BHJ choices are
    * fine (the planner re-decides them at real scale); what this
    * audits is the HINT — a structural bet frozen into the query.
    *
    * Rule: walk the OPTIMIZED logical plan; for every join side
    * carrying a BROADCAST hint, collect which corpus-proportional
    * base tables its subtree scans (documents/embeddings/events/
    * lineitem/orders/customer/part/supplier — the last three are
    * SF-scaled dimensions per the cheapest_supplier convention).
    * A lineage-cut frame (LogicalRDD from `.cut()`) hides its
    * provenance from the walk, so it is its own marker. Every
    * non-empty observation must be pinned here with the boundedness
    * argument (an agg to a bounded grain, a k-limit, a 1-row total);
    * stale or mismatched pins fail so the list can't rot.
    */
  private val broadcastBuildPins: Map[String, Set[String]] = Map(
    // ---- single-row scalars (a global agg collapsed to one row —
    // bounded at ANY corpus size, whatever table it reads) ----
    "benford_digits" -> Set("orders"), // 1-row grand total
    "bm25_search" -> Set("documents"), // 1-row corpus avg-len/N stats
    "burn_forecast" -> Set("events"), // 1-row min-day anchor
    "idle_rich_customers" -> Set("customer"), // 1-row global avg balance
    "ks_value_test" -> Set("events"), // 1-row per-group totals frame
    "lift_rules" -> Set("lineitem"), // 1-row basket count N
    "major_parts" -> Set("lineitem"), // 1-row revenue threshold
    "rfm_segments" -> Set("orders"), // 1-row anchor (max order date)
    "tfidf_top_terms" -> Set("documents"), // 1-row N-docs
    "bigram_pmi" -> Set("documents"), // 1-row t1/t2 token totals
    "bigram_logprob" -> Set("[cut-frame]"), // 1-row vocab size (from the cut model)
    "bigram_logprob_pruned" -> Set("[cut-frame]"), // same 1-row vocab total
    "unigram_logprob" -> Set("[cut-frame]"), // 1-row token total (from the cut vocab)
    "pareto_share_prefix" -> Set("orders", "[cut-frame]"), // 1-row totals + P-row prefix offsets
    // ---- k-bounded frames (an explicit limit/candidate cap) ----
    "bulk_orders" -> Set("lineitem", "orders"), // limit(20) winners
    "heavy_hitters" -> Set("documents"), // <=128 Misra-Gries candidates + 1-row n
    "hybrid_rrf" -> Set("documents", "embeddings"), // two k=50 candidate lists
    "top_supplier_window" -> Set("lineitem"), // 1-row max + max-filtered winners (ties only)
    // r11 per-column dq_profile: each broadcast is a SINGLE-ROW
    // count of one column's distinct values (six of them), assembled
    // by crossJoin onto the null/min/max row — bounded by construction
    "dq_profile" -> Set("orders"),
    // ---- bounded-dimension-grain stats frames (|event_type| ~5,
    // |lang| ~4, |source|, |l_returnflag| — true enums, not SF-scaled) ----
    "cusum_changepoint" -> Set("events"), // type-grain mean/sigma
    "interarrival_stats" -> Set("events"), // type-grain Fano factors
    "iqr_outliers" -> Set("events"), // type-grain quartiles
    "mad_robust" -> Set("events"), // type-grain medians
    "mad_robust_gk" -> Set("events"), // type-grain GK centers
    "ntile_quartiles" -> Set("events", "[cut-frame]"), // type-grain quartiles + offsets
    "quantile_disc_mode" -> Set("events"), // type-grain disc quantiles/mode
    "seasonal_decompose" -> Set("events"), // (type, dow)-grain effects
    "seasonal_dow_index" -> Set("events"), // type-grain baseline means
    "supplier_hhi" -> Set("lineitem", "part"), // p_type-grain totals (enum grain)
    "theilsen_trend" -> Set("[cut-frame]"), // type-grain median slopes
    "theilsen_trend_sampled" -> Set("[cut-frame]"), // same, sampled pairs
    "weighted_median_price" -> Set("lineitem"), // flag-grain median-bucket rows
    "char_entropy" -> Set("documents"), // lang-grain char totals
    "chi2_terms" -> Set("documents"), // lang-grain doc counts + 1-row N
    "length_trim_outliers" -> Set("documents"), // source-grain percentile cuts
    "source_cosine_pairs" -> Set("[cut-frame]"), // source-grain vector norms
    "token_kl_sources" -> Set("[cut-frame]"), // source-grain totals + 1-row grand total
    "dsir_weights" -> Set("[cut-frame]"), // source-grain totals (from the cut vocab)
    "contamination_check" -> Set("documents"), // fixed benchmark-suite shingle set
    // ---- calendar-bounded frames ----
    "cohort_retention" -> Set("events"), // cohort-day frame (first-seen days)
    "rolling_active_users" -> Set("events"), // day spine for the 7-day fan-out
    // ---- |keys|x P offsets frames from the prefix/affine scan planes
    // (P = shuffle.partitions — data-size constant by construction) ----
    "holt_smooth" -> Set("[cut-frame]"), // affineScanBy offsets + type-grain seeds
    "holt_anomaly" -> Set("[cut-frame]"), // same + type-grain sigma
    "value_drawdown" -> Set("[cut-frame]"), // prefixMaxBy offsets
    "vocab_growth" -> Set("[cut-frame]"), // prefixSum offsets
    // ---- constant-size ANN probe frames (1-row query vectors,
    // k x d codebooks/pivots — the IVF seed-collect class) ----
    "ann_cosine_topk" -> Set("embeddings"),
    "ann_filtered_topk" -> Set("embeddings"),
    "ann_knn_join" -> Set("embeddings"),
    "cosine_topk" -> Set("embeddings"),
    "mmr_diverse_topk" -> Set("embeddings"), // 1-row query vector
    "pq_topk" -> Set("embeddings"),
    "ivfpq_topk" -> Set("embeddings"),
    "emb_stats" -> Set("embeddings"), // d-grain global dims (dimension-bounded)
    "label_separation" -> Set("embeddings"), // d-grain global dims
    // ---- 1-row + 6-row horizon frames ----
    "survival_conversion" -> Set("[cut-frame]"), // 1-row tmax/N + 6-row horizons
    // r7: the two domain-bounded midrank frames (hour: 24 rows;
    // value: 2-dp domain histogram)
    "spearman_value_hour" -> Set("events"),
    // r7: 1-row total spectral power (the six-harmonic frame is a
    // local range, not a table scan)
    "dft_periodogram" -> Set("events"),
    // r7: 1-row corpus doc total for the share column
    "dup_cluster_sizes" -> Set("documents"),
    // r7: constant-size eval query sample (50 rows) — the ANN
    // probe-frame class, not corpus-proportional (matryoshka_recall's
    // identical 20-row sample broadcast runs eagerly inside its
    // cut() pair build and so never appears in the printed plan)
    "knn_label_eval" -> Set("embeddings"),
    // r7: same 50-row sample + the |labels|-row count frame
    "ndcg_label_eval" -> Set("embeddings"),
    // r7: 1-row char-pair grand total for the share column
    "bpe_merge_candidates" -> Set("documents"),
    // r7: type-grain train means + type-grain calibration totals
    "conformal_interval" -> Set("events"),
    // r7: the 1-row 51st-degree threshold; r8: its degree frame now
    // reads the persisted bucketed edge store, not a cut frame
    "hill_tail_index" -> Set("[edge-store]"),
    // r9: the 1-ROW maintained order-count frame (the base `meta`
    // plane since v5) lives under the store root, so it carries the
    // [edge-store] tag; it is bounded by construction (a single
    // grand total)
    "lift_rules" -> Set("[edge-store]"),
    // r7: 1-row corpus totals off the cut token-count frame
    "token_drift_movers" -> Set("[cut-frame]"),
    // r10 (the r9 verdict's red-gate item): bigram_pmi's `t1`/`t2`
    // grand totals build from the CUT vocab/pair model frames (the r9
    // arrays_zip refactor added the cut), so the hinted broadcasts now
    // classify as cut-frame builds. Bounded by construction — each is
    // a SINGLE-ROW aggregate (sum over the model frame), the exact
    // token_drift_movers shape.
    "bigram_pmi" -> Set("[cut-frame]"),
    // r10: the block-recursion step's `ends` frame builds from the
    // CUT day-rollup. Bounded by construction — block-END rows only,
    // ≤ 4 per event_type at ANY series length (block size is derived
    // in-plan as ceil(days/3), so there are at most 3 full blocks
    // plus a rounding remainder), so the broadcast is types×4 rows,
    // constant in corpus size.
    "budget_carryover" -> Set("[cut-frame]"),
    // r7: type-grain totals frames for the histogram order stats
    "median_ci_binomial" -> Set("events"),
    "trimmed_mean" -> Set("events")
  )

  test("no forced broadcast build on a corpus-proportional frame (r6 tripwire)") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.LogicalRDD
    val bigTables = Seq("documents", "embeddings", "events",
      "lineitem", "orders", "customer", "part", "supplier")
    def tablesIn(p: LogicalPlan): Set[String] =
      p.collectLeaves().flatMap {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            val paths = fs.location.rootPaths.map(_.toString).mkString(" ")
            // the persisted co-purchase edge store (r8): edge-grain —
            // SF-scaled like its source fact table, so a forced
            // broadcast of it needs a boundedness argument too
            if (paths.contains("graft_edges")) Seq("[edge-store]")
            else bigTables.filter(t => paths.contains(s"$t.parquet"))
          case _ => Seq.empty
        }
        case _: LogicalRDD => Seq("[cut-frame]")
        case _ => Seq.empty
      }.toSet
    def forced(p: LogicalPlan): Set[String] = p.collect {
      case j: Join =>
        val l = if (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)))
          tablesIn(j.left) else Set.empty[String]
        val r = if (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)))
          tablesIn(j.right) else Set.empty[String]
        l ++ r
    }.flatten.toSet
    val observed = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      q -> forced(SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan)
    }.toMap
    val offenders = observed.filter { case (q, ts) =>
      ts.nonEmpty && broadcastBuildPins.get(q) != Some(ts) }
    assert(offenders.isEmpty,
      offenders.toSeq.sortBy(_._1)
        .map { case (q, ts) => s""""$q" -> Set(${ts.toSeq.sorted.map("\"" + _ + "\"").mkString(", ")}),""" }
        .mkString("unpinned forced-broadcast builds on corpus-proportional frames:\n",
          "\n", ""))
    val stale = broadcastBuildPins.keySet.filter(q => observed(q).isEmpty)
    assert(stale.isEmpty, s"stale broadcast-build pins: $stale")
  }
}
