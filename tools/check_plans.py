"""Physical-plan invariant checks for the headline queries.

Asserts the scale-critical plan properties hold (the things that decay
silently as queries evolve): column pruning at the parquet scan, filter
pushdown where filters exist, broadcast joins for dim tables, and no
cartesian products outside the brute-force ANN baseline (which is a
deliberate broadcast cross of a tiny query set).

Run: python tools/check_plans.py  → one line per query, exits non-zero
on any violation.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query → (max columns any scan may read, expects_pushed_filters,
#          allow_nested_loop_or_cartesian)
# Covers EVERY registered query. Widths are the audited current scan
# widths — a wider scan means column pruning regressed. allow_nlj=True
# entries are deliberate broadcast crosses of tiny sides (each noted).
EXPECT = {
    "flagship_revenue_by_nation": (5, True, False),
    "filter_range_project": (7, True, False),
    "group_agg_ref7": (3, False, False),
    "join_ref_inner": (8, True, False),
    "latest_per_group": (4, False, False),
    "window_running_sum": (4, False, False),
    "asof_join": (5, True, False),
    "tumbling_window": (3, True, False),
    "session_window": (3, True, False),
    "dedup_exact": (2, False, False),
    "minhash_lsh_pairs": (2, False, False),
    "token_counts": (2, False, False),
    "cosine_topk": (2, True, True),  # broadcast NLJ of 5-row query set: intended
    "stat_summary": (3, False, True),  # crossJoin of two 1-row aggregates: intended
    "exact_medians_scalable": (3, False, True),  # 1-row stats broadcast onto scans: intended
    "session_ids": (3, False, False),
    "hourly_change": (2, False, False),
    "interval_overlap_join": (3, True, False),
    "corpus_filter_pipeline": (3, True, False),
    "asof_join_forward_tol": (6, True, False),
    "redact_pii": (2, False, False),
    # --- events family ---
    "locf_fill": (5, False, False),
    "rolling_avg_7": (4, False, False),
    "lagged_corr_best": (4, False, False),
    "range_join_bands": (2, True, True),  # broadcast range join vs tiny band table: intended
    "sliding_window": (2, True, False),
    "stream_static_join": (3, False, False),
    "stateful_running_total": (4, False, False),
    "json_props": (2, False, False),
    "hourly_spine_zero_fill": (2, True, True),  # tiny hour-spine broadcast: intended
    "window_distribution": (3, False, False),
    "range_window_rolling": (3, False, False),
    "value_histogram": (1, False, False),
    # --- TPC-H relational surface ---
    "join_ref_left": (3, True, False),
    "join_full_outer": (1, False, False),
    "safe_corr_qty_price": (2, False, False),
    "whole_table_agg": (1, False, False),
    "sort_nulls_rank": (3, False, False),
    "distinct_sorted": (1, False, False),
    "argmax_latest": (4, False, False),
    "topk_orders": (2, False, False),
    "minmax_dates": (1, False, False),
    "pivot_wide": (3, False, False),
    "rename_pretty": (3, False, False),
    "semi_join": (2, True, False),
    "anti_join": (2, True, False),
    "setop_union": (1, False, False),
    "setop_intersect": (2, True, False),
    "setop_except": (2, True, False),
    "setop_except_all": (2, True, False),
    "rollup_agg": (3, False, False),
    "cube_agg": (3, False, False),
    "grouping_sets": (3, False, False),
    "percentiles": (2, False, False),
    "approx_distinct_parts": (2, False, False),
    "udaf_geometric_mean": (2, True, False),
    "scalar_functions": (6, False, False),
    "datetime_functions": (2, False, False),
    "window_functions": (4, False, False),
    "unpivot_metrics": (3, False, False),
    "subquery_exists_cte": (3, True, False),
    "hash_sample": (3, True, False),
    "stratified_sample": (2, False, False),
    "column_profile": (5, False, False),
    "salted_join": (4, True, False),
    "zscore_outliers": (3, True, False),
    "levenshtein_pairs": (2, True, False),
    "map_functions": (2, True, False),
    "array_functions": (2, False, False),
    "udtf_tokens": (2, True, False),
    "synth_source_agg": (6, True, False),
    # --- documents / dedup / text ---
    "ngram_jaccard_pairs": (2, False, False),
    "text_profile": (2, False, False),
    "lang_id": (2, False, False),
    "simhash": (2, False, False),
    "repetition_ratio": (2, False, False),
    "winnow_fingerprint": (2, False, False),
    "winnow_pairs": (2, True, False),
    "tfidf_top_terms": (2, False, True),  # 1-row corpus-size scalar broadcast: intended
    "near_dup_clusters": (2, False, False),
    # --- embeddings / ANN / multimodal ---
    "embedding_norms": (2, False, False),
    "embedding_normalize": (2, False, False),
    "embedding_quantize_int8": (2, False, False),
    "lsh_topk": (2, True, False),
    "cosine_near_dups": (2, True, False),
    "ivf_topk": (2, True, True),  # broadcast centroid/probe cross of tiny sides: intended
    "multimodal_features": (2, False, False),
    "frame_sample_plan": (2, False, False),
    # --- composed demo (CSV scan side is string-typed parity mode) ---
    "demo_showcase": (3, False, False),
    # --- corpus preparation ---
    "decontaminate_ngrams": (2, False, False),
    "chunk_documents": (2, False, False),
    "pack_token_budget": (2, False, False),
    "kmeans_step": (2, False, True),  # ≤k-row centroid broadcast cross (struct-max argmax assignment): intended
    "funnel_steps": (3, True, False),
    "ann_recall": (2, True, True),  # composes the two top-k pipelines (brute-force side is the intended broadcast cross)
    "merge_upsert": (5, False, False),
    "scd2_intervals": (5, False, False),
    "bpe_pair_counts": (1, False, False),
    "unigram_logprob": (2, False, True),  # 1-row grand-total broadcast: intended
    "dataset_split": (3, False, False),
    "pca_power_step": (1, False, True),  # 1-row normalizer broadcast: intended
    # --- distributed ranking / stream-stream ---
    "global_rank_orders": (2, False, False),
    "equidepth_histogram": (2, False, True),  # 1-row total-count broadcast: intended
    "attribution_join": (5, True, False),
    "incremental_dedup_pairs": (2, False, False),
    "quota_sample": (3, False, False),
    "time_weighted_avg": (4, False, False),
    "event_transitions": (4, False, False),
    "retention_cohorts": (2, False, False),
    "debounce_events": (5, False, False),
    "topn_per_group": (3, False, False),
    "negative_samples": (1, False, True),  # 1-row corpus-count broadcast: intended
    "window_distinct_users": (3, False, False),
    "attribution_left": (5, True, False),
    "snapshot_diff": (3, True, False),
    "interevent_gap_percentiles": (4, False, False),
    "rolling_zscore_anomalies": (4, False, False),
    # --- canonical TPC-H join shapes ---
    "tpch_q3_shipping_priority": (4, True, False),
    "tpch_q7_nation_volume": (5, True, False),
    "tpch_q10_returned_items": (4, True, False),
    "tpch_q14_promo_share": (4, True, False),
    "tpch_q15_top_supplier": (4, True, True),  # 1-row max-revenue broadcast: intended
    "tpch_q17_small_qty_revenue": (3, True, False),
    "tpch_q18_large_orders": (4, False, False),
    "tpch_q22_idle_customers": (3, True, True),  # 1-row avg-balance broadcast: intended
    "tpch_q5_local_supplier_volume": (4, True, False),
    "tpch_q6_forecast_revenue": (4, True, False),
    "tpch_q8_market_share": (4, True, False),
    "tpch_q9_nation_profit": (5, True, False),
    "tpch_q19_disjunctive_filter": (4, False, False),
    "tpch_q21_waiting_supplier": (3, True, False),
    "tpch_q1_pricing_summary": (7, True, False),
    "tpch_q2_min_cost_supplier": (4, True, False),
    "tpch_q11_important_parts": (4, True, True),  # 1-row total-value broadcast: intended
    "tpch_q12_ship_priority_classes": (3, True, False),
    "tpch_q16_supplier_part_counts": (4, True, False),
    "tpch_q20_heavy_shippers": (4, True, True),  # 1-row mean-volume broadcast: intended
    "incremental_mv_rollup": (4, True, False),
    "pagerank_bipartite": (2, False, True),  # 1-row node-count broadcast: intended
    "cohort_retention": (2, False, False),
    "ewma_smooth": (4, True, False),
    "triangle_counts": (2, False, False),
    "rolling_median": (4, True, False),
    "hits_bipartite": (2, False, True),  # 1-row L1-normalizer broadcasts: intended
    "seasonal_baseline": (3, False, False),
    "bigram_logprob": (2, False, True),  # 1-row vocab-size broadcast: intended
    "benford_audit": (1, True, True),  # 1-row digit-total broadcast: intended
    # --- retrieval / mixture ---
    "bm25_search": (2, False, True),  # 1-row (N, avgdl) corpus-stats broadcast: intended
    "semdedup_prune": (3, False, True),  # ≤|labels|-row centroid broadcast cross: intended
    "kmeans_semdedup": (2, False, True),  # ≤k-row trained-centroid broadcast cross: intended
    "kmeans_semdedup_scaled": (2, False, True),  # ≤√N-row trained-centroid broadcast cross: intended
    "lsh_band_skew_monitor": (2, False, False),
    # parity-split filter (doc_id % 2) is arithmetic — not a parquet-pushable
    # predicate, same as incremental_dedup_pairs
    "guarded_incremental_dedup": (2, False, False),
    "funnel_conversion": (3, True, False),
    "event_transition_matrix": (4, False, False),
    "column_entropy_profile": (2, False, False),
    "psi_drift": (2, False, True),  # 1-row smoothing-totals broadcast: intended
    "dedup_representative": (3, False, False),
    "ngram_diversity": (2, False, False),
    "zipf_slope": (2, False, False),
    "token_fertility_by_lang": (3, False, False),
    "source_scorecard": (4, False, False),
    "embedding_outliers": (3, False, False),
    "vocab_stats": (1, False, False),
    "user_entropy_histogram": (2, False, False),
    "event_burstiness": (2, False, False),
    "image_stats_real": (1, False, False),
    "audio_stats_real": (1, False, False),
    "jpeg_stats_real": (1, False, False),
    "png_stats_real": (1, False, False),
    "video_stats_real": (1, False, False),
    "video_stats_c420": (1, False, False),
    "audio_spectrum_real": (1, False, False),
    # ADC scan = codes crossJoin broadcast 5-row query set (the
    # cosine_topk baseline convention) + the exact-baseline subtree
    "pq_topk_recall": (2, True, True),
    # synthesized spark.range corpus (no parquet scan at all — the
    # dbscan convention) + two PQ ADC broadcast crosses + the exact
    # baseline's broadcast NLJ: intended
    "opq_topk_recall": (2, False, True),
    # IVF centroid/probe broadcast crosses of tiny sides (the ivf_topk
    # convention) + the PQ ADC scan + the exact-baseline subtree
    "ivfpq_topk_recall": (2, True, True),
    # same crosses as ivfpq_topk_recall; the re-rank stage itself is
    # equi-joins only (candidates ⋈ float vectors ⋈ broadcast queries)
    "ivfpq_rerank_recall": (2, True, True),
    # fusion layer is union + hash aggregate; the PQ parent contributes
    # the whitelisted broadcast 5-row query cross
    "rrf_fusion": (2, True, True),
    # residual chain adds the broadcast normalized-centroid join; same
    # whitelisted crosses as ivfpq_topk_recall
    "ivfpq_residual_recall": (3, True, True),
    # refined codebooks: one extra encode + k·dim aggregate subtree,
    # same ADC/baseline crosses as pq_topk_recall
    "pq_refined_recall": (2, True, True),
    # filtered ANN reads the label column for the predicate (3-col
    # scan); crosses as ivfpq_topk_recall
    "filtered_ann_topk": (3, True, True),
    "filtered_ann_audit": (3, True, True),
    # two nested 1-row broadcast-array crosses (exact + hierarchical
    # HOF argmax shapes); vec_id<16 seed filter is parquet-pushable
    "hierarchical_assign_agreement": (2, True, True),
    # 1-row plane-array broadcast cross + the 5-row signature broadcast
    # + the exact-baseline subtree; vec_id<=4 query filter pushes
    "binary_hamming_recall": (2, True, True),
    # same crosses; the re-rank stage itself is equi-joins only
    "binary_rerank_recall": (2, True, True),
    # 1-row centroid-array + 1-row stats broadcasts: intended
    "ivf_cell_stats": (2, False, True),
    # composes the two top-k parents (brute-force side is the intended
    # broadcast cross)
    "retrieval_rr_at_k": (2, True, True),
    "retrieval_ndcg_at_k": (2, True, True),
    # broadcast NLJ of the 5-row query set (cosine_topk convention);
    # the label column makes it a 3-col scan
    "diversified_topk": (3, True, True),
    # shortlist stage is the whitelisted brute-force cross; the greedy
    # steps join pinned bounded frames — the FINAL plan reads only the
    # checkpointed shortlist leaves, so no parquet scan (and hence no
    # PushedFilters) appears in it
    "mmr_topk": (2, False, True),
    # lexical leg: broadcast query terms + 1-row stats broadcast;
    # vector leg: lsh_topk's pushed filter; fusion is a hash aggregate
    "hybrid_search": (2, True, True),
    # frozen-centroid ingest assignment: 1-row centroid-array broadcast
    # cross (the HOF argmax shape); parity split is arithmetic, not a
    # parquet-pushable predicate
    "ivf_incremental_assign": (3, False, True),
    "repeated_span_removal": (2, False, False),
    "repeated_span_apply": (2, False, False),
    "collocation_pmi": (1, False, True),  # 1-row bigram-total N broadcast: intended
    "source_overlap_matrix": (2, False, False),
    "corpus_curation_pipeline": (2, False, False),
    "repeated_chunks": (2, False, False),
    "oov_rate": (2, False, False),
    "mixture_resample_lang": (2, False, True),  # 1-row total-count broadcast: intended
    # --- layout ---
    "zorder_cluster_stats": (2, False, False),
    # --- data quality ---
    "data_quality_report": (5, True, True),  # 1-row total-count broadcast onto the FK count: intended
    # --- sketches / bloom / sampling / dedup-eval ---
    "minhash_accuracy": (2, False, False),
    "windowed_hll_users": (2, False, False),
    "split_divergence": (2, False, True),  # 1-row vocab/totals broadcast: intended
    "k_anonymity_audit": (2, False, False),
    "key_skew_profile": (1, False, True),  # 1-row skew-stats broadcast: intended
    "int8_topk_recall": (2, True, True),  # broadcast NLJ of 5-row query set (as cosine_topk): intended
    "sql_surface": (5, True, False),
    "frequent_part_pairs": (2, False, False),
    "ols_trend_by_type": (3, False, False),
    "revenue_concentration": (2, False, True),  # 1-row customer-count broadcast onto the pinned ranked frame: intended
    "containment_pairs": (2, False, False),
    "tpch_q4_order_priority": (3, True, False),
    "tpch_q13_order_count_dist": (3, True, False),
    "xmr_control_limits": (4, False, False),
    "conversion_delay_quantiles": (3, True, False),
    "mad_outliers": (1, False, True),  # 1-row median/MAD broadcasts: intended
    "chi_square_flags": (2, False, True),  # 1-row grand-total broadcast: intended
    "winsorize_values": (2, False, True),  # 1-row quantile-stats broadcast inside the two-phase selection: intended
    "length_bucket_stats": (1, False, False),
    "bloom_filter_join_stats": (2, True, False),
    "weighted_sample_docs": (2, True, False),
    "cms_heavy_hitters": (1, False, False),
    "hll_distinct_orders": (1, False, True),  # 1-row rmax broadcast onto ≤1024 registers: intended
    # --- round 9 ---
    # every BFS level ends in an eager checkpoint, so the FINAL plan
    # reads only the frozen visited leaf — no parquet scan survives
    # (the mmr_topk precedent), hence no PushedFilters expectation
    "bfs_distances": (2, False, False),
    # part scan: brand + two non-null predicates pushed; the sweep's
    # only window is keyed on the partition id (balanced), plus the
    # ≤num_partitions-row offsets cummax
    "skyline_parts": (4, True, False),
    # lineitem 2-col scan; frequent-pair gates are broadcast hash
    # semi-joins (equi), never NLJ
    "apriori_triples": (2, False, False),
    # events 4-col scan; one user_id exchange serves all three window
    # passes and the per-session aggregate
    "top_session_paths": (4, False, False),
    # the token-array frame is a (lazily) checkpointed multi-consumer
    # leaf, so no parquet scan survives into the final plan (the
    # mmr_topk precedent); all joins are equi
    "prefix_jaccard_pairs": (2, False, False),
    # same checkpoint-leaf shape, synthetic divisor corpus (1-col scan)
    "prefix_jaccard_zipf": (2, False, False),
    # per-round labels are eagerly pinned; the final frame IS the
    # last checkpoint leaf — no parquet scan in the plan
    "label_propagation_communities": (2, False, False),
    # same discipline (eager-pinned labels, checkpoint-leaf final
    # frame); the 1-row E2 scalar rides a broadcast cross inside the
    # rounds, behind the pin — not in the final plan
    "louvain_communities": (2, False, False),
    # mapInPandas codec fan-out over the documents id scan (the
    # video_stats_real shape); Python stage is the decode, by design
    "mjpeg_stats_real": (1, False, False),
    # customer 3-col scan (QI pair + sensitive band), one hash agg
    "l_diversity_audit": (3, False, False),
    # events 4-col scan; sessionize + truncate on one user_id exchange,
    # then a 1-row transition-probability aggregate feeds pure column
    # arithmetic (no joins at all past the windows)
    "markov_attribution": (4, False, False),
    # two 2-col scans (customer twice via union, part once), one lhs
    # hash aggregate per candidate + a 3-row fold
    "fd_audit": (2, False, False),
    # ECDF side is the pinned two-phase prefix-sum (checkpoint leaf);
    # the totals row re-scans lineitem⋈part (2-col scans, notNull
    # pushed) and broadcasts ONE row onto the reduced frame: intended
    "ks_drift_promo": (2, True, True),
    # checkpoint-leaf final plan, as bfs_distances
    "bfs_shortest_path_tree": (2, False, False),
    # exact all-pairs baseline is a deliberate broadcast cross (the
    # cosine_topk convention) + the final 1-row×1-row count cross
    "ann_join_recall": (3, False, True),
    # ann_join pairs → CC: 1-row centroid/codebook broadcast crosses
    # inside the join stage are intended (the semdedup convention)
    "ann_join_clusters": (3, False, True),
    # checkpoint-leaf final plan, as bfs_distances
    "sssp_bounded_costs": (2, False, False),
    # local relation of the collected per-round argmax rows: no scans
    "bpe_train_merges": (2, False, False),
    # checkpoint-leaf final state select (the encode step): no scans
    "bpe_encoded_lengths": (2, False, False),
    # tiny margin frames broadcast-crossed onto the reduced grid: intended
    "chi2_drift_source": (2, False, True),
    # --- implied derived analytics (functions/epi.py) ---
    # ONE whole-table OLS aggregate: 2-col lineitem scan, no filter
    "vaccination_effect_fit": (2, False, False),
    # per-nation agg + ONE-row global-bounds broadcast cross: intended
    "resilience_score_by_nation": (3, True, True),
    # checkpoint-leaf final plan (peeled edge list), as bfs_distances
    "kcore_trading_graph": (2, False, False),
    # ECDF side is the pinned two-phase prefix-sum (checkpoint leaf);
    # the totals row re-scans lineitem⋈part and broadcasts ONE row
    # onto the reduced frame: intended (the ks_drift_promo shape)
    "wasserstein_drift_promo": (2, True, True),
    # daily-reduced series; 1-row total + 1-row max broadcast crosses
    # onto the pinned prefix-sum frame: intended. Checkpoint-leaf
    # executed plan (every scan is behind the pin) — no visible
    # parquet scan, the mmr_topk precedent
    "cusum_changepoint_revenue": (2, False, True),
    # six 1-col distinct scans + value-keyed left joins, notNull pushed
    "ind_audit": (1, True, False),
    # 16-row literal coalition table NLJ-joined on bitmask containment
    # against the ≤15-row mask-count frame: literals, never data.
    # Checkpoint-leaf executed plan — no visible parquet scan
    "shapley_attribution": (3, False, True),
    # 1-row sketch frames crossed (the stat_summary convention); the
    # data path is distinct + salted two-level top-k. Checkpoint-leaf
    # executed plan — no visible parquet scan
    "kmv_setops_orders": (2, False, True),
    # tiny band-margin + 1-row total broadcast-crossed onto the
    # reduced (group, band) grid: the chi2_drift_source shape
    "t_closeness_audit": (3, False, True),
    # basket self-join on the order key + per-part (partitioned) window
    "item_cf_topk": (2, False, False),
    # one per-user max aggregate -> 2-row arm frame; pure arithmetic
    "ab_wilson_bounds": (3, False, False),
    "ab_ztest_conversion": (3, False, False),
    # deliberate reduced-frame (calendar-days) broadcast cross for the
    # pairwise slopes + 1-row min-date/median broadcasts: intended.
    # Checkpoint-leaf executed plan (the daily frame is pinned for the
    # pair join + OLS + median passes) — no visible parquet scan
    "theil_sen_trend": (2, False, True),
    # --- round 10, third wave ---
    # these five pin a mid-plan frame with localCheckpoint, so the
    # executed plan starts at the frozen RDD and shows no parquet scan
    # (the mmr_topk precedent) → pushed-filters expectation is False
    # 1-row total-at-risk broadcast cross onto the reduced per-time
    # frame: intended
    "kaplan_meier_fulfillment": (7, False, True),
    "adamic_adar_links": (2, False, False),
    # 1-row edge-count broadcast cross onto the ≤25-community frame:
    # intended
    "modularity_nations": (2, False, True),
    # 1-row BH-cutoff broadcast cross onto the 5-segment frame: intended
    "bh_fdr_segments": (3, False, True),
    # 29-row period spine + 1-row mean broadcast crosses onto the
    # calendar-bounded daily frame: intended
    "dominant_period_dft": (2, False, True),
    # 1-row margin/total broadcast crosses onto the reduced
    # lang×source grid: intended
    "mutual_info_docs": (3, False, True),
    # same pinned-prefix-sum checkpoint-leaf shape as
    # kaplan_meier_fulfillment; 1-row totals broadcast cross: intended
    "logrank_priority": (7, False, True),
    # checkpoint-leaf final plan (pinned seed distribution), as
    # pagerank_bipartite
    "ppr_trusted_sources": (2, False, True),
    # checkpoint-leaf final plan (pinned per-order frame shared by the
    # train/calibration halves); 1-row coefficient/quantile broadcast
    # crosses: intended
    "conformal_interval": (2, False, True),
    # checkpoint-leaf final plan (pinned value×label grid); the
    # candidate×grid cross runs on the ≤|distinct values| reduced
    # frame: intended
    "info_gain_split": (2, False, True),
    # --- round-10 continuation: rank stats + time-series families ---
    # pinned-prefix-sum checkpoint-leaf (midrank pass); 1-row totals
    # broadcast cross: intended
    "mann_whitney_value_shift": (2, False, True),
    # checkpoint-leaf daily frame; Kendall pair join is the reduced
    # daily-frame broadcast cross (theil_sen convention): intended
    "rank_correlation_daily": (2, False, True),
    # checkpoint-leaf zero-filled spine; 5-row lag table + 1-row mean
    # broadcast crosses onto the reduced daily frame: intended
    "acf_daily_revenue": (2, False, True),
    # checkpoint-leaf spine; 7-row offset table + 1-row grand-mean
    # broadcast crosses: intended
    "seasonal_dow_decompose": (2, False, True),
    # 1-row means broadcast cross onto the second centered-moment
    # pass: intended (two full scans by construction)
    "ridge_regression_price": (3, False, True),
    # brute-force ANN baseline: broadcast query-set cross (the
    # cosine_topk convention)
    "knn_label_vote": (3, False, True),
    # 4-row language-model axis + 1-row vocab broadcast crosses;
    # checkpoint-leaf count-table reuse: intended
    "naive_bayes_lang": (3, False, True),
    # checkpoint-leaf frontier/visited unions, as bfs_distances
    "bfs_path_counts": (2, False, False),
    # checkpoint-leaf shrinking edge frame, as kcore_trading_graph
    "ktruss_copurchase": (2, False, False),
    # 9-row neighbor-offset broadcast cross onto the checkpoint-leaf
    # cell frame: intended (the grid-blocking replication)
    "spatial_grid_join": (1, False, True),
    # broadcast query-term/stats crosses (the bm25_search convention),
    # checkpoint-leaf postings reuse: intended
    "rocchio_prf": (2, False, True),
    # per-user closed-form solves: one interaction-table aggregate
    "als_user_step": (2, False, False),
    # checkpoint-leaf forward/backward frames, as bfs_path_counts
    "seed_betweenness": (2, False, False),
    # 50-row replicate table + 1-row n/CI broadcast crosses onto the
    # checkpoint-leaf ranked daily frame: intended
    "bootstrap_mean_ci": (2, False, True),
    # 40-row stopword broadcast; checkpoint-leaf phrase frames;
    # per-document islands window: intended
    "rake_keywords": (3, False, False),
    # 1-row calendar split + 5-row coefficient broadcast crosses onto
    # the checkpoint-leaf per-(type, day) frame: intended
    "forecast_backtest": (3, False, True),
    # checkpoint-leaf relax state, as sssp_bounded_costs
    "temporal_reachability": (3, False, False),
    # 1-row pooled-count broadcast cross; per-group window runs on the
    # per-distinct-value reduced frame: intended
    "quantile_normalize_events": (3, False, True),
    # 1-row parameter broadcast cross per EM round onto the
    # checkpoint-leaf value frame: intended
    "em_gaussian_mixture": (2, False, True),
    # 1-row totals + 3-row lambda grid + 15-row coefficient broadcast
    # crosses onto the checkpoint-leaf fold frame: intended
    "ridge_cv_lambda": (5, False, True),
    # 99-row replicate table + 1-row observed-stat broadcast crosses
    # on the checkpoint-leaf daily frame: intended
    "permutation_test_weekend": (2, False, True),
    # checkpoint-leaf prefix-posting frames (PPJoin machinery); 1-row
    # name-count broadcast cross: intended
    "trigram_name_match": (2, False, True),
    # same machinery on the synthesized 20k-name universe (no parquet
    # scan at all — spark.range source): intended
    "trigram_match_scaled": (2, False, True),
    # 1-row coefficient broadcast cross per IRLS step onto the
    # checkpoint-leaf feature frame (the logistic_newton shape):
    # intended
    "quality_classifier_gate": (1, False, True),
    # synthesized spark.range corpus (no parquet scan); two IRLS chains
    # of 1-row broadcast crosses + the final 1-row readout cross:
    # intended
    "quality_classifier_lexical": (1, False, True),
    # synthesized spark.range corpus; 16-row lambda broadcast join onto
    # the bigram stream + the 1-row totals cross: intended
    "dsir_importance_weights": (1, False, True),
    # mapInPandas codec round-trip over the documents id scan (the
    # jpeg_stats_real shape)
    "jpeg420_stats_real": (1, False, False),
    # checkpoint-leaf daily spine; 28 broadcast 1-row recurrence
    # crosses (the unrolled Holt-Winters state chain): intended. r12:
    # the 1-row min/max frame is now pinned too (ADVICE — three
    # consumers), so the last visible parquet scan became a checkpoint
    # leaf and PushedFilters is structurally absent (mmr_topk rule)
    "holt_winters_forecast": (2, False, True),
    # checkpoint-leaf feature/survivor frames (training chain + the
    # unchanged dedup stages); final frame is checkpoint-leaf-only —
    # no parquet scan survives in the executed plan (mmr_topk
    # precedent)
    "curation_pipeline_learned": (2, False, False),
    # checkpoint-leaf trigram posting frames (spark.range source, no
    # parquet scan); 1-row name/pair-count broadcast crosses: intended
    "levenshtein_linkage": (2, False, True),
    # per-row codegen regex extraction + one source-keyed hash agg
    "pii_incidence_audit": (3, False, False),
    # checkpoint-leaf ranked KM frame; 1-row head-area broadcast
    # cross: intended
    "rmst_fulfillment": (3, False, True),
    # 1-row coefficient broadcast cross per Newton step onto the
    # checkpoint-leaf feature frame: intended
    "logistic_newton": (2, False, True),
    # 1-row basket-count + item-support broadcast crosses onto the
    # checkpoint-leaf basket frame: intended
    "association_rules": (2, False, True),
    # 1-row allocation-denominator + 5-row rate broadcast crosses on
    # the checkpoint-leaf event frame: intended
    "neyman_poisson_sample": (3, False, True),
    # k-row stationary-vector crosses on the k x k reduced transition
    # matrix (checkpoint leaves): intended
    "markov_entropy_rate": (4, False, True),
    # 1-row calendar-midpoint broadcast cross: intended
    "did_estimator": (3, False, True),
    # checkpoint-leaf both-direction edge frame; 1-row node-count
    # broadcast cross: intended
    "degree_assortativity": (2, False, True),
    # 1-row class-totals + IV broadcast crosses onto the 10-bin frame:
    # intended
    "woe_iv_binning": (2, False, True),
    # brand dim broadcast; 1-row global-prior cross on the
    # checkpoint-leaf (brand, fold) frame: intended
    "target_encode_oof": (4, False, True),
    # one conditional-aggregation scan per table, 6-row unpivot
    "expectation_suite": (4, False, False),
    # broadcast score table + 1-row bounds/Brier crosses on the
    # checkpoint-leaf scored frame: intended
    "calibration_report": (4, False, True),
    # checkpoint-leaf edge frame; wedge join + closure equi-join
    "clustering_coefficient": (2, False, False),
    # 9-row offset broadcast + checkpoint-leaf CC state; 1-row noise
    # total cross: intended
    "dbscan_spatial": (1, False, True),
    # per-row codegen + one hash aggregate
    "readability_ari": (3, False, False),
    # checkpoint-leaf ranked/prefix frames; 1-row total broadcast
    # cross: intended
    "abc_classification": (3, False, True),
    # 1-row beta/totals broadcast crosses per Newton step onto the
    # checkpoint-leaf per-order frame (kaplan_meier discipline):
    # intended
    "cox_ph_newton": (4, False, True),
    # broadcast score table + pinned prefix-sum rank machinery; 1-row
    # totals cross: intended
    "auc_return_score": (4, False, True),
}


# Queries whose entire point is the two-phase distributed ranking path
# (operators/selection.global_rank): the range exchange itself is hidden
# from explain by the pinning checkpoint (the plan starts at the frozen
# RDD), so the regression tripwire is the *fingerprint of the naive
# form* — a row_number()/ntile() window, which in these queries can only
# mean a bare global Window.orderBy funneling the table through one task
# (the r4 VERDICT's last single-partition sort). The only window these
# plans may contain is the O(num_partitions)-row offsets cumsum.
FORBID_PLAN_SUBSTR = {
    "sort_nulls_rank": ("row_number(", "ntile("),
    "global_rank_orders": ("row_number(", "ntile("),
    "equidepth_histogram": ("row_number(", "ntile("),
}


def main(spark=None, sf_dir: str | None = None) -> int:
    from covid_custom_sql_engine_spark import get_spark
    import __spark_entry__ as entrymod

    spark = spark or get_spark("check_plans")
    qs = entrymod.queries()
    missing = sorted(set(qs) - set(EXPECT))
    if missing:
        print(f"VIOLATION coverage: queries without a plan guard: {missing}")
        return 1
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    failures = 0
    for name, (max_cols, want_pushed, allow_nlj) in EXPECT.items():
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        probs = []
        for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
            ncols = len([c for c in schema.split(",") if c])
            if ncols > max_cols:
                probs.append(f"scan reads {ncols} cols (max {max_cols}) — pruning regressed")
        if want_pushed:
            pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
            if not any(p.strip() for p in pushed):
                probs.append("no PushedFilters — filter pushdown regressed")
        if not allow_nlj:
            for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
                if bad in plan:
                    probs.append(f"{bad} in plan — join degenerated")
        for bad in FORBID_PLAN_SUBSTR.get(name, ()):
            if bad in plan:
                probs.append(f"plan contains '{bad}' — two-phase ranking regressed to a single-partition window")
        status = "OK" if not probs else "VIOLATION"
        print(f"{status} {name}" + ("" if not probs else ": " + "; ".join(probs)))
        failures += bool(probs)
    print(f"{len(EXPECT) - failures} ok, {failures} violations")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
