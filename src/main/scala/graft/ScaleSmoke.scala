package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up smoke harness (VERDICT r2 task #9): materialize a 10×-scaled
  * copy of the testdata (sf0.1 → sf1-equivalent row counts) and re-run the
  * heaviest catalog queries on it, so data-proportional cost separates
  * from the per-query scheduling/codegen floor and anything superlinear
  * (an O(n²) hiding under small constants) surfaces as a ratio ≫ factor.
  *
  * Scaling preserves per-copy semantics instead of naively duplicating
  * rows:
  *  - every key column is offset by `copy · 10^8`, so joins and
  *    groupings stay within a copy (cardinalities scale linearly, the
  *    TPC-H-ish FK structure survives);
  *  - document text is rotated through a per-copy Caesar alphabet, so
  *    copies are NOT near-duplicates of each other — shingle/minhash
  *    work scales linearly instead of exploding LSH buckets with 10
  *    byte-identical corpora (which would superlinearize candidate
  *    pairs by construction, not by algorithmic defect);
  *  - region/nation stay fixed (they are constant-size in TPC-H at any
  *    scale factor).
  */
object ScaleSmoke {

  val Factor = 10
  private val KeyOffset = 100000000L

  /** key columns to offset per copy; text columns to rotate per copy */
  private val tableSpec: Map[String, (Seq[String], Seq[String])] = Map(
    "region" -> (Nil, Nil),
    "nation" -> (Nil, Nil),
    "customer" -> (Seq("c_custkey"), Nil),
    "supplier" -> (Seq("s_suppkey"), Nil),
    "part" -> (Seq("p_partkey"), Nil),
    "orders" -> (Seq("o_orderkey", "o_custkey"), Nil),
    "lineitem" -> (Seq("l_orderkey", "l_partkey", "l_suppkey"), Nil),
    "events" -> (Seq("event_id", "user_id"), Nil),
    "documents" -> (Seq("doc_id"), Seq("text")),
    "embeddings" -> (Seq("vec_id"), Nil))

  private val alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Multipliers coprime to 26 — the `a` of the affine letter maps below. */
  private val affineA = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Per-copy alphabet permutation. Copies < 26 keep the original Caesar
    * rotation (so the standard 10× lake is bit-identical to every prior
    * round's and its fingerprint never churns); beyond 26 a plain rotation
    * WRAPS — copy 26 would share every token with copy 0 and manufacture
    * cross-copy near-duplicates, superlinearizing LSH candidates by
    * construction — so larger copies switch to affine maps
    * i → (a·i + b) mod 26 with a coprime to 26: 312 distinct permutations,
    * any two of which agree on at most 2 letters (no realistic shingle
    * survives), keeping copies token-disjoint at any supported factor.
    */
  private[graft] def permuted(k: Int): String = {
    val a = affineA(k / 26 % affineA.length)
    val b = k % 26
    (0 until 26).map(i => alphabet((a * i + b) % 26)).mkString
  }

  /** Per-copy alphabet permutation of a text column: copy 0 is the
    * original corpus; other copies share no tokens with it, so cross-copy
    * similarity is ~0. Shared with [[graft.streaming.DocStream.scaled]]
    * so the streaming dedup ingests the same token-disjoint construction
    * the scale smoke is proved on.
    */
  private[graft] def rotatedText(text: org.apache.spark.sql.Column,
                                 copy: org.apache.spark.sql.Column,
                                 copies: Int): org.apache.spark.sql.Column =
    (1 until copies).foldLeft(when(copy === 0, text)) {
      (acc, k) => acc.when(copy === k, translate(text, alphabet, permuted(k)))
    }

  private def scaledTable(df: DataFrame, keys: Seq[String], texts: Seq[String],
                          factor: Int): DataFrame = {
    if (tableIsFixed(keys, texts)) return df
    val withCopy = df.withColumn("__copy", explode(lit((0 until factor).toArray)))
    val keyed = keys.foldLeft(withCopy) { (d, k) =>
      val orig = df.schema(k).dataType
      d.withColumn(k, (col(k) + col("__copy") * KeyOffset).cast(orig))
    }
    val texted = texts.foldLeft(keyed) { (d, t) =>
      d.withColumn(t, rotatedText(col(t), col("__copy"), factor))
    }
    texted.drop("__copy")
  }

  private def tableIsFixed(keys: Seq[String], texts: Seq[String]): Boolean =
    keys.isEmpty && texts.isEmpty

  /** Per-table file-count multiplier vs the standard 10× layout: rounded,
    * not floor-divided, so a factor-15/25 lake keeps per-file size (and so
    * task granularity) within ~25% of the 10× layout instead of drifting
    * up to ~2.5× (ADVICE r13).
    */
  private def fileMultiplier(factor: Int): Int =
    math.max(1, math.round(factor.toDouble / Factor).toInt)

  /** Materialize the scaled lake once per (sfDir content, scaler version):
    * built in a temp dir and atomically published via [[AtomicPublish]],
    * so concurrent benches never interleave partial writes and a stale
    * lake (prior round's testdata) is replaced, not reused. Each table is
    * written with `defaultParallelism` files: the explode-based scaling
    * would otherwise inherit the source's 1-2 input partitions, and a 10×
    * lake packed into 2 parquet files caps every smoke query at 2-3 tasks
    * — measuring the file layout, not the operator (the r03 smoke flagged
    * q1 as "superlinear" for exactly this reason). Files are RANGE-
    * partitioned on the table's first key, not hash-scattered: the source
    * testdata is written key-clustered, so a randomly shuffled scaled
    * lake would hand every smoke query a layout the headline never sees —
    * key-selective scans (decontam's doc_id < 20 eval slice, r7's 30.7×
    * flag) lose all row-group pruning and the "superlinear" signal
    * measures the layout, not the operator. Range files keep min/max
    * stats tight, which is also how a real lake is written.
    *
    * `factor` defaults to the smoke's standard 10×; `Diag smoke` can
    * pass larger values (30, 100) to extend the trend line. Each
    * (source lake, factor) has its own [[AtomicPublish.derived]] lake; a
    * factor off the 10× grid keys its file layout into the stamp too.
    */
  def ensureScaled(spark: SparkSession, sfDir: String, factor: Int = Factor): String = {
    // 312 = |affine permutations|: beyond it copies would share tokens
    require(factor >= 2 && factor <= 312,
      s"scale factor must be in [2, 312], got $factor")
    val layout = if (factor % Factor == 0) "" else s" files=${fileMultiplier(factor)}"
    AtomicPublish.derived(s"graft_scaled_x$factor", sfDir, s"factor=$factor$layout", "3") { tmp =>
      // file count grows with the factor so per-file size (and so task
      // granularity) matches the standard 10× lake's layout
      val nFiles =
        spark.sparkContext.defaultParallelism * fileMultiplier(factor)
      tableSpec.foreach { case (name, (keys, texts)) =>
        val src = spark.read.parquet(s"$sfDir/$name.parquet")
        val scaled = scaledTable(src, keys, texts, factor)
        val out = if (tableIsFixed(keys, texts)) scaled
                  else scaled.repartitionByRange(nFiles, col(keys.head))
                    .sortWithinPartitions(keys.head)
        out.write.mode("overwrite").parquet(s"$tmp/$name.parquet")
      }
    }
  }

  /** bench=true queries deliberately NOT in the 10× smoke. Rationale:
    * each is a single-scan + bounded-aggregate / bounded-window shape, or
    * shares its only data-proportional subtree with a smoked
    * representative (the TPC-H join chains ride q1/q5/q10/q21; the
    * dedup/similarity families ride their smoked members). The partition
    * is ENFORCED: CatalogPropertySpec fails if a bench query is in
    * neither [[smokeQueries]] nor this set, so every new query must
    * either take a smoke slot or document its exemption by joining this
    * list — no heavy shape can dodge the 10× gate silently (r8 verdict
    * task #8).
    */
  val smokeExempt: Set[String] = Set(
    "cdc_envelope_scd2", "cdc_users_scd2", "cdc_json_inference_scan",
    "schema_evolution_scan", "scd2_history", "scd2_current",
    "cdc_op_mapping", "cdc_json_extract", "scd2_asof_snapshot",
    "scd2_snapshot_diff", "cdc_net_changes", "merge_into_upsert",
    "cdc_epoch_roundtrip", "scd2_late_corrections", "bitemporal_asof_asat",
    "tombstone_gc_audit", "q3_shipping_priority", "q6_forecast_revenue",
    "semi_join_exists", "anti_join_not_exists", "in_subquery_semi",
    "left_join_null_residual", "sort_limit_topk", "set_ops", "set_ops_all",
    "distinct_counts", "window_running_sum", "cte_chain",
    "scalar_subquery_corr", "not_in_null_aware", "skew_salted_join",
    "q4_order_priority", "q12_priority_by_status", "q14_promo_revenue",
    "q18_large_orders", "q19_disjunctive_pred", "full_outer_reconcile",
    "lateral_topn_per_nation", "recursive_cte_paths", "string_agg_sources",
    "null_safe_join", "agg_predicate_funcs", "q7_nation_volume",
    "q8_market_share", "q9_product_profit", "q11_important_parts",
    "q13_order_distribution", "q15_top_supplier", "q16_supplier_cnt",
    "q17_small_qty_revenue", "q22_dormant_customers", "q2_min_cost_supplier",
    "q20_excess_shippers", "rollup_agg", "window_tumbling_agg",
    "window_hopping_agg", "timeseries_gapfill_ffill",
    "timeseries_gapfill_linear", "window_rank_family", "window_range_frame",
    "grouping_sets_sql", "cube_agg", "stats_quantiles", "value_histogram",
    "funnel_signup_purchase", "cohort_retention", "interval_overlap_sweep",
    "range_join_binned", "approx_distinct_users", "window_value_family",
    "pagerank_one_step", "approx_quantile_check", "label_propagation_round",
    "bucketed_join_colocated", "zorder_layout", "key_skew_profile",
    "orders_gaps_islands", "referential_integrity_audit",
    "time_weighted_avg", "ohlc_bars", "impute_group_mean",
    "robust_mad_screen", "value_outlier_screen", "corr_onepass_moments",
    "equidepth_histogram", "window_running_distinct", "drift_tvd_bins",
    "ols_group_regression", "selfjoin_size_estimate",
    "quality_percentile_norm", "rfm_segmentation", "cusum_rate_drift",
    "graph_modularity_audit", "funnel_time_to_convert", "basket_rule_lift",
    "pareto_frontier_parts", "benford_leading_digit",
    "interval_union_coverage", "mode_event_per_user",
    "share_of_region_revenue", "hll_mergeable_daily_union",
    "hll_intersection_audit", "window_interval_range_sum",
    "drift_ks_statistic", "drift_psi_bins", "graph_degree_assortativity",
    "acf_daily_events", "fd_profile_audit", "salt_factor_planner",
    "window_funnel_depth", "boruvka_msf_round",
    "text_token_stats",
    "text_repetition_ratio", "text_lang_id", "lang_id_confusion",
    "text_quality_score", "corpus_quality_gate", "quality_median_filter",
    "text_lang_pivot", "text_bpe_tokens", "text_fingerprint",
    "pii_redaction_scan", "tokenizer_fertility", "source_dup_rate",
    "dedup_edit_distance", "dedup_edit_bounded", "simjoin_cosine_postings",
    "er_sorted_neighborhood", "minhash_estimate_audit", "bbit_minhash_audit",
    "contrastive_negative_sample", "fellegi_sunter_weights",
    "sim_topk_bruteforce", "sim_pq_topk", "embedding_centroid_drift",
    "sim_norm_stats", "embedding_int8_quantize", "knn_label_vote",
    "sim_cluster_neardup_pairs", "ann_recall_eval", "sim_matryoshka_recall",
    "pca_power_step_int8", "ann_hnsw_level_plan", "ndcg_ann_eval",
    "colbert_maxsim_topk", "mmr_diversity_rerank", "multimodal_binary_stats",
    "multimodal_bitrate_plan", "multimodal_frame_sample",
    "multimodal_decode_features", "multimodal_resize_plan",
    "multimodal_av_sync_plan", "asof_join_next_event",
    "asof_join_nearest_event", "text_wordcount", "text_bigram_freq",
    "token_pmi_pairs", "doc_unigram_surprisal", "zipf_slope_fit",
    "bpe_merge_step", "sim_ivf_assign", "sim_kmeans_step",
    "sim_ivf_persisted_topk", "token_freq_profile", "kn_continuation_counts",
    "bm25_topk", "search_conjunctive_terms", "search_phrase_positional",
    "hybrid_rrf_fusion", "token_burstiness_topk", "heaps_law_fit",
    "scalar_string_funcs", "scalar_datetime_funcs", "unpivot_lang_counts",
    "json_map_extract", "array_funcs", "posexplode_tokens",
    "scalar_null_funcs", "scalar_regex_funcs", "map_event_counts",
    "variant_shred_extract", "split_train_val_test", "sample_balance_langs",
    "decontam_ngram_overlap", "decontam_minhash_fuzzy", "chunk_docs_overlap",
    "sample_topk_per_lang", "sample_weighted_topk",
    "profile_numeric_columns",
    "profile_numeric_sketch", "dataset_card_stats", "mix_weighted_sources",
    "vocab_coverage_top100", "oov_rate_per_lang", "source_mix_entropy",
    "curriculum_buckets", "shard_manifest_greedy", "worker_snake_balance",
    "mix_temperature_quota", "seqlen_padding_audit", "span_corruption_plan",
    "cms_frequency_audit", "abtest_two_proportion_z",
    "calibration_reliability_bins", "decile_lift_table",
    "lang_source_mutual_info", "distinct_ngram_diversity",
    "path_regex_funnel", "k_anonymity_audit", "l_diversity_audit",
    "weighted_reservoir_sample", "data_freshness_audit", "clock_skew_audit",
    "isotonic_calibration_pav", "simpson_paradox_audit", "chi2_lang_source",
    "mann_kendall_trend", "seasonal_weekday_profile",
    "survival_km_conversion", "permutation_test_mean_diff",
    "markov_entropy_rate", "cuped_adjustment_audit", "sprt_sequential_test",
    "diff_in_diff_estimate", "ols_two_feature_cramer",
    "bootstrap_revenue_ci", "burst_episode_detection",
    "welch_t_test", "theil_sen_slope", "text_code_score", "t_closeness_audit",
    "kmv_distinct_sketch", "ivm_delta_join", "bh_fdr_control",
    "multimodal_phash_dedup", "link_prediction_adamic_adar",
    "search_prf_expansion", "tokenizer_vocab_prune", "anti_entropy_bucket_diff",
    "conformal_threshold_split", "dp_noisy_histogram", "ipf_raking_step",
    "fellegi_sunter_em_step", "seasonal_residual_outlier_days",
    "bleu2_neardup_pairs", "sim_ivfpq_residual_topk", "scd2_daily_snapshot_grid",
    "revenue_mom_yoy_growth", "feature_hashing_collision_audit",
    "embedding_outlier_screen", "ewma_volume_forecast",
    "hll_sliding_window_distinct", "drift_emd_wasserstein",
    "als_user_factor_step", "logreg_irls_step",
    "ann_nprobe_recall_sweep",
    // nn_descent_round shares sim_cluster_neardup_pairs' deliberate
    // exemption: the scaler clones embedding vectors verbatim, so all 10
    // copies land in the SAME 8 fixed centroids and the IVF-bucket base
    // join grows quadratically by construction (measured 14× at 10×) —
    // production scales nlist with the corpus; the NN-Descent proposal
    // stage itself is K-bounded
    "nn_descent_round",
    "markov_holding_times",
    // graph_bfs_hops_k3 shares pagerank_power_k5's persisted-edge round
    // shape (same PageRankLoop graph, same per-round SMJ + aggregate, one
    // localCheckpoint per round) and pagerank is that family's smoked
    // representative; BFS rounds additionally shrink with the frontier,
    // so its 10x cost is bounded above by pagerank's
    "graph_bfs_hops_k3",
    // graph_sssp_bellman_k3: same exemption as graph_bfs_hops_k3 — the
    // identical persisted-edge frontier round shape (weighted min instead
    // of hop min), cost bounded above by pagerank's smoked full-vector
    // rounds since the frontier only shrinks
    "graph_sssp_bellman_k3",
    // hits_power_k3: pagerank_power_k5 is the smoked representative of
    // full-vector persisted-edge loop rounds; HITS's six half-rounds are
    // the identical join+aggregate shape split across the two cached
    // orientations, with no term that could scale differently
    "hits_power_k3",
    // ppr_seed_restart_k3: same exemption as hits/BFS — the pinned
    // persisted-edge round shape with pagerank as the smoked
    // representative; PPR's vector is additionally sparse early (seeds
    // only), so per-round cost is bounded above by pagerank's
    "ppr_seed_restart_k3",
    // louvain_move_round: the only data-proportional subtree is the
    // co-purchase edge build, smoked under copurchase_pairs; everything
    // above it is one edge-proportional map-side-combined aggregate plus
    // a 16-row broadcast — no term that could scale past the edge build
    "louvain_move_round",
    // graph_randomwalk_k3: constant-size walker frontier (one row per
    // seed per round) against the same persisted edge table — per-round
    // cost strictly below graph_bfs_hops_k3's growing frontier, which is
    // itself bounded above by the smoked pagerank rounds
    "graph_randomwalk_k3",
    // gbdt_hist_split: one scan + a ≤192-cell (3 features × 64 bins)
    // map-side-combined histogram aggregate + windows over those cells —
    // the single-scan bounded-aggregate shape the drift/stats family
    // documents; nothing row-proportional survives the first aggregate
    "gbdt_hist_split",
    // target_encode_oof: the lineitem⋈part FK join is the TPC-H chain
    // smoked under q5/q10/q21; above it only the 125-cell bounded
    // aggregate and broadcasts of that matrix
    "target_encode_oof",
    // ar2_yulewalker_fit: shares acf_daily_events' entire
    // data-proportional subtree (the daily-count aggregate; the window
    // and moments run over the DATE domain) — same single-scan
    // bounded-aggregate exemption
    "ar2_yulewalker_fit",
    // cohens_kappa_langid: one projection pass into the |langs|^2 cell
    // matrix (the lang_id_confusion shape, smoked class: single-scan
    // bounded aggregate); all later terms are matrix-bounded
    "cohens_kappa_langid",
    // survival_logrank_test: shares survival_km_conversion's exempted
    // shape exactly — two per-user argmin aggregates, then every window
    // and sum runs on the calendar-bounded duration histogram
    "survival_logrank_test",
    // ar2_residual_backtest: same exemption — acf's daily-count subtree
    // is the only corpus-proportional stage; fit moments, forecasts and
    // error sums live on the date-bounded series
    "ar2_residual_backtest",
    // theil_inequality_decomp: the orders→customer→nation→region chain is
    // the TPC-H join family smoked under q5/q10/q21; above the
    // per-customer aggregate everything is 5 bounded region cells and
    // broadcasts
    "theil_inequality_decomp",
    // zonemap_prune_audit: one fact scan + a 2x stack fanout into
    // per-(layout, file) min/max cells that partial-aggregate map-side —
    // the exchange carries file-count rows (corpus/512), the same
    // footer-stats cardinality class as lake_file_skew_audit; everything
    // above is file-bounded
    "zonemap_prune_audit",
    // naive_bayes_train: the only corpus-proportional stage is one
    // explode + (lang, token) count — the vocab-cardinality exchange
    // class whose smoked representative is text_tfidf_topterms; above
    // the checkpointed model table everything is vocab-bounded
    // (WindowGroupLimit top-k, three derived aggregates, broadcasts)
    "naive_bayes_train",
    // events_sessionize_salted: the hot-key-safe twin of the smoked
    // events_sessionize — same single events scan, strictly finer
    // exchange keys ((user, 6h-block) vs (user)) plus a calendar-bounded
    // block-summary stage, so its uniform 10x cost is bounded by the
    // smoked representative's; its OWN axis is key mass, graded by the
    // SkewStress gate where it must stay flat while the plain form
    // shows the documented straggler
    "events_sessionize_salted",
    // window_sliding_distinct is the documented NON-scale path — exact
    // countDistinct after a 7× explode, kept as the correctness twin of
    // hll_sliding_window_distinct (the 100 TB architecture, which stays
    // green in the smoke). Its driver ratio swung 1.8×→4.9× across rounds
    // with zero code change (pure environment noise on a 0.3-1.6 s
    // query), so it measures the box, not the operator (r10 verdict
    // task #7 decision).
    "window_sliding_distinct")

  /** The data-heavy headline queries worth re-timing at 10×: the dedup /
    * similarity / text pipelines (shuffle- and explode-bound) plus the
    * TPC-H join chains and the event-log windows.
    */
  val smokeQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_candidates", "dedup_minhash_verified",
    "dedup_simhash", "text_tfidf_topterms",
    "q1_pricing_summary", "q5_local_supplier_volume", "q10_returned_items",
    "events_sessionize", "asof_join_last_event", "sim_ivf_topk",
    "event_trigram_paths", "pack_sequences", "embedding_dim_stats",
    // round 6: the iterative closure (label propagation rounds scale with
    // cluster diameter, not data — the thing to watch at 10×), the
    // double-correlated q21 semi+anti chain, the corpus-global rare-token
    // join-back, and the bloom prefilter (probe-side cost is the point)
    "dedup_components", "q21_waiting_supplier", "rare_token_docs",
    "decontam_bloom_prefilter",
    // round 6 additions: the banded hamming self-join (candidate-pair
    // growth is the thing to watch — the pigeonhole bands must keep it
    // linear), the co-purchase self-join (per-order pair expansion), and
    // the capped inverted-index build (WindowGroupLimit must hold the
    // posting work flat per token)
    "dedup_simhash_hamming", "copurchase_pairs", "inverted_index_postings",
    // exact prefix-filtered similarity join: candidate growth under the
    // rarest-first prefix is the scale question (must stay ≪ all-pairs)
    "simjoin_prefix_filter",
    // round 7: the new-batch LSH probe (bucket fanout must stay linear in
    // the batch) and the sparsified triangle census (wedge-join growth is
    // the thing to watch — colorful sampling + degree orientation must
    // keep it linear; key offsets keep copies disjoint and 10^8 % 16 = 0
    // preserves the color classes per copy)
    "dedup_incremental_newbatch", "graph_triangle_census",
    // round 16: the output-capped attribution born from the 10×-skew
    // catch — smoked (not exempt) because it exists precisely to hold a
    // scale property (O(purchases × 8) output, ordered scans in place of
    // the pair join), so its 10×/100× trend is the contract to watch
    "multi_touch_last_n",
    // round 7: the corpus-global shingle window (the dup-ngram shuffle is
    // the exact-dedup cardinality class — must scale with distinct
    // shingles) and the source-pair shingle matrix (per-shingle expansion
    // is capped by sources², so growth must track the distinct
    // (source, shingle) set, not pairs). sim_cluster_neardup_pairs is
    // deliberately NOT smoked: the scaler clones embedding vectors
    // verbatim, so every copy lands in the same 8 fixed centroids and
    // within-cluster pairs grow quadratically BY CONSTRUCTION — in
    // production SemDeDup's nlist scales with corpus size precisely to
    // bound that term (see the QueryDef Scaladoc).
    "corpus_dup_ngram_frac", "source_overlap_matrix",
    // round 7 batch 2: the two-phase heavy hitters (candidate volume must
    // stay 256·partitions — the tail must never shuffle, so growth tracks
    // the scan, not the vocabulary), the degree-capped wedge scorer
    // (fanout bounded by C(32,2) per node regardless of part hotness),
    // the sliding COUNT DISTINCT (expansion pinned at window/slide = 7×),
    // and the IVM merge (delta-side cost must track |delta|, the base
    // behind the checkpoint only pays its one-off argmax)
    "heavy_hitters_misra_gries", "link_prediction_common_nbrs",
    "ivm_delta_agg",
    // round 7 batch 3: the one-sided containment join (candidate volume
    // is Σ_A Σ_{tok∈prefix(A)} df(tok) — rare-token df growth is the
    // thing to watch, there is no size upper bound on the super side by
    // design) and the exact AUC (the single-partition rank window must
    // stay bounded by DISTINCT scores, not rows — a quantized score
    // domain grows sublinearly while row counts scale 10×)
    "dedup_containment_bounded", "eval_auc_ranksum",
    // round 7 batch 4: one k-core peel round — the co-purchase edge
    // build plus two degree aggregates and two semi joins; growth must
    // track edges (copies are key-disjoint, so linear by construction)
    "kcore_peel_round",
    // round 8: the per-doc similar-items cap (candidate volume must stay
    // LSH-banded after symmetrization; the ROW_NUMBER cap holds per-doc
    // state at 3 rows), the high-cardinality weighted-median window
    // (per-supplier state only — the window key grows WITH the data, so
    // no partition can outgrow an executor), and the first-seen novelty
    // window (distinct-shingle cardinality class, same exchange as the
    // dup-ngram fraction)
    "topk_similar_per_doc", "weighted_median_price", "ngram_novelty_rate",
    // (multi_touch_attribution left the smoke set in r17 with its
    // bench=false demotion — its answer is quadratic in hot-key mass by
    // semantics, and multi_touch_last_n above is the smoked scale path)
    // round 8 batch 2: the duplicated-span extractor (two shingle-keyed
    // shuffles — the count-distinct and the semi join back — growth must
    // track the distinct-shingle set; the Caesar-rotated copies keep
    // cross-copy shingles disjoint so duplication volume scales
    // linearly) and the winnowing fingerprint selection (per-doc ROWS
    // frame window over the shingle stream — strictly scan-proportional,
    // the selection density is a constant ~2/(w+1))
    "dup_span_extraction", "winnowing_fingerprints",
    // the held-out LM join: unigram/bigram count tables grow with the
    // DISTINCT n-gram set and the held-out probe joins one row per
    // distinct bigram — growth must track vocabulary, not occurrences
    "lm_bigram_perplexity",
    // round 8 batch 3: the DSIR scorer — its only corpus-sized shuffle
    // is groupBy(doc_id, bucket), capped at 512 rows per doc; the bucket
    // LM tables are fixed 512-row aggregates and λ broadcasts, so
    // growth must track the token scan, never the vocabulary — and the
    // Gini histogram — the ordered window runs over DISTINCT cent
    // values, so the single-partition stage must grow with the value
    // domain (sublinear), not the row count
    "dsir_importance_weights", "gini_revenue_concentration",
    // round 8 batch 4: the ROUGE pair scorer (cost must track the LSH
    // pair set × per-doc vocab, never all-pairs), the NMF product
    // aggregate (the (topic, tok) matrix multiply is the only corpus
    // stage — growth tracks the token scan; factor tables are k·vocab),
    // and the cross-source quantile map (per-source rank windows plus a
    // broadcast value-histogram probe — the single-partition stage is
    // the DISTINCT value domain, which grows sublinearly)
    "rouge1_neardup_pairs", "nmf_multiplicative_step",
    "quantile_normalize_sources",
    // round 10: the five-round PageRank loop — per-round cost is one
    // edge join + one aggregate, so total must be ~5× the one-step
    // query and linear in edges; a superlinear ratio here means the
    // localCheckpoint pins stopped cutting lineage between rounds
    "pagerank_power_k5",
    // round 11: three Lloyd rounds — each round is one corpus scan +
    // one argmax shuffle (a single row per vector) + an 8x64 bounded
    // aggregate, so the smoke watches that the 3x-scan stays linear
    // (the scaler clones vectors verbatim; clusters grow 10x in
    // membership, never in pair volume — no quadratic term exists)
    "kmeans_lloyd_k3",
    // round 11: k-truss support — the census's sparsified wedge join
    // PLUS the per-triangle 3-edge fanback and an edge-keyed count;
    // the smoke watches that triangle volume (and so the fanback)
    // stays linear across key-disjoint copies, same argument as the
    // smoked census but with the extra triangle-proportional stage
    "graph_ktruss_support")

  /** One paired smoke measurement: the sf0.1 headline re-timed in the
    * SAME contention window as the 10× run (`headS`), the 10× seconds
    * (`smokeS`), the 10× shuffle-write MB (plan-deterministic — the
    * box-noise-free signal), and the [[ScaleAudit]] hits from the 10×
    * run's FINAL adaptive plan. -1.0 seconds marks a failed side.
    */
  final case class SmokeMeasure(headS: Double, smokeS: Double,
                                shuffleMb: Double, audit: Seq[String])

  /** Run each smoke query best-of-2 on the HEADLINE dir and then
    * best-of-2 on the scaled dir, back to back. Pairing the two timings
    * inside one contention window is what makes the ratio adjudicable:
    * in r12 the driver's headline and smoke phases ran ~40 minutes apart
    * and box drift manufactured ten worst10 entries (up to 24.9×), none
    * of which reproduced locally (VERDICT r12 task #1). The extra sf0.1
    * re-time costs ~1-2 s per query — noise against the 10× runs.
    *
    * Each query's 10× FINAL adaptive plan is also swept by
    * [[ScaleAudit.audit]] for runtime broadcast cliffs (VERDICT r12 task
    * #5) — the class only exists at scale, so CI can't see it. An audit
    * that itself fails is recorded as a hit, never swallowed (the
    * WindowAuditSpec lesson from ADVICE r12).
    */
  def run(spark: SparkSession, sfDir: String, scaledDir: String): Map[String, SmokeMeasure] =
    RunMeter.using(spark) { meter =>
      smokeQueries.map { name =>
        val fn = SparkEntry.queries(name)
        val head = meter.best(name, 2)(fn(spark, sfDir))
        val smoke = meter.best(name, 2)(fn(spark, scaledDir))
        name -> SmokeMeasure(head.seconds, smoke.seconds,
          if (smoke.failed) -1.0 else smoke.shuffleMb, audit(smoke))
      }.toMap
    }

  /** [[ScaleAudit.audit]] of a run's FINAL adaptive plan: the plan that
    * actually ran, not the initial static-estimate plan, where
    * under-estimated broadcasts appear that AQE then replaces (the r13
    * phantom-hit lesson). A failed run has no plan to audit; an audit that
    * itself fails is recorded as a hit, never swallowed.
    */
  private[graft] def audit(run: RunMeter.Run[DataFrame]): Seq[String] =
    run.result.toSeq.flatMap { df =>
      try ScaleAudit.audit(df.queryExecution.executedPlan)
      catch { case e: Throwable =>
        Seq(s"AUDIT-ERROR: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(120)}")
      }
    }
}
