"""Benchmark harness — runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full execution with a noop write (no driver
collect cost) so the number reflects plan execution, not result
transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from zoom_spark.session import get_spark  # noqa: E402

# Queries that represent each operator family; grows with the registry.
HEADLINE = [
    "flagship_delta",          # anti-join incremental delta (J1)
    "groupby_multi_agg",       # hash aggregate
    "join_enrich",             # broadcast dim join
    "union_pages_drift",       # unionByName w/ drift
    "date_functions",          # scalar date fns
    "distinct_status",         # distinct
    "tpch_q1_pricing",         # scan-heavy multi-agg
    "tpch_q3_shipping",        # 3-way join + top-k
    "tpch_q5_local_revenue",   # 6-table join
    "range_join_ship_lag",     # equi+range join
    "latest_order_per_customer",  # window row_number
    "tumbling_window_events",  # event-time window
    "session_window_events",   # session window
    "text_stats",              # text analysis pass
    "dedup_exact_docs",        # exact dedup
    "minhash_dedup_docs",      # MinHash LSH dedup
    "knn_bruteforce",          # similarity search
    "kmeans_corpus_cells",     # int-Lloyd fit — runs FIRST among the
                               # shared-cell family so the one-time
                               # memoized fit is attributed to the
                               # query whose contract IS the fit (the
                               # knn/semdedup members then reuse it)
    "knn_ivf",                 # IVF-flat ANN
    "canonical_doc_ids",       # iterative connected components
    "window_frames",           # multi-function window pass
    "exists_heavy_lineitem",   # decorrelated subquery
    "docs_pipeline_clean",     # composed corpus-cleaning pipeline
    "tpch_q16_supplier_cnt",   # distinct-agg + null-aware anti join
    "tpch_q21_waiting_suppliers",  # per-order rollup self-agg chain
    "repetition_stats",        # repetition quality signals (RLE fold)
    "interval_join_campaigns", # bucketed interval join (non-equi)
    "sessionize_events_sql",   # lag-gap sessionization
    "tfidf_top_terms",         # tf-idf ranking over corpus
    "corpus_to_shards_pipeline",  # composed pass incl. prefix-sum packing
    # round 2 additions
    "embedding_neardup_lsh",   # banded hyperplane-LSH near-dup (no crossJoin)
    "canonical_ids_chained",   # star CC on chain graph (oracle-hashed)
    "multimodal_decode_wav_ppm",  # real WAV/PPM decode via mapInArrow
    "recursive_tree_depth",    # ANSI WITH RECURSIVE (UnionLoop)
    "weighted_sample_docs",    # A-ES weighted sampling (TakeOrdered)
    "unigram_logprob_quality", # unigram-LM quality filter (2-pass join)
    "pii_redaction",           # regex scrub pass (codegen'd)
    "curation_pipeline_e2e",   # composed curation flagship (5 stages)
    # round 2 continuation
    "co_purchase_triangles",   # degree-oriented triangle count
    "pagerank_parts",          # 10-iteration PageRank fixpoint
    "linear_interp_fill",      # dense-grid linear interpolation
    "cdc_chunks_docs",         # gear-hash content-defined chunking
    # round 4 additions
    "shuffle_shards_deterministic",  # md5 shard + in-shard rank
    "temperature_mix_sample",  # temperature-weighted source mixing
    "heavy_hitter_tokens",     # two-phase exact heavy hitters
    "semdedup_corpus",         # k-means + within-cluster cosine dedup
    "pca_project_corpus",      # distributed moments + literal projection
    "knn_pq_adc",              # product-quantization ADC ANN
    "knn_ivfpq",               # residual IVF-PQ probe join
    "snapshot_diff_orders",    # CDF-style snapshot diff (full-outer)
    "mix_shard_pipeline",      # composed mix-dedup-shard flagship
    "duplicate_spans",         # stride-gram substring dup detection
    "kll_quantile_sketch_prices",  # mergeable KLL quantile sketches
    "theta_sketch_segment_overlap",  # theta set-overlap matrix
    "bitmap_exact_distinct_customers",  # exact OR-mergeable bitmap distinct
    "bigram_logprob_quality",  # add-1 bigram-LM quality scoring
    "bm25_ranking",            # BM25 retrieval ranking
    "association_rules_pairs", # market-basket support/confidence/lift
    "merge_order_intervals",   # gaps-and-islands interval merging
    # round 5 additions
    "duplicate_spans_invariant",  # alignment-invariant substring dup
    "countmin_token_freq",     # Count-Min sketch + heavy-hitter probe
    "bfs_reachable_parts",     # bounded-depth BFS frontier expansion
    "js_divergence_sources",   # per-source JS divergence (mixing drift)
    "novelty_ngram_score",     # per-doc trigram novelty
    "rfm_scores",              # distributed-rank RFM quintiles
    "decontaminate_ngram_overlap",  # test-set n-gram contamination scrub
    "gopher_quality_flags",    # Gopher/C4 heuristic quality gates
    "roc_auc_purchase_value",  # distributed-rank tie-corrected AUC
    "regr_aggregates_lineitem",  # SQL:2016 regr_* aggregate family
    "pmi_cooccurrence",        # doc-bounded PMI pair join
    "ks_test_weekend_value",   # distributed two-sample KS
    "bootstrap_ci_order_value",  # Poisson bootstrap CI
    "rolling_7day_active_users",  # windowed COUNT(DISTINCT) via explode
    "pretrain_corpus_pipeline",  # composed round-5 curation flagship
    "psi_value_drift",         # PSI drift over broadcast decile edges
    "ndcg_value_ranking",      # per-user graded ranking quality
    "containment_neardup_pairs",  # asymmetric containment via postings
    "vocab_coverage_sizes",    # Zipf coverage knees (rank + prefix mass)
    "eventually_follows_pairs",  # first/last sequence-pattern reduction
    # round 6 additions
    "hard_negative_pairs_ann", # IVF-probe contrastive mining (scale path)
    "bpe_token_counts",        # greedy BPE merge-table apply
    "adamic_adar_link_prediction",  # wedge-join link prediction
    "fuzzy_name_pairs",        # blocked levenshtein entity resolution
    "robust_winnow_fingerprints",  # MOSS window-min fingerprints
    "feature_hashing_vectors", # signed hashing-trick featurizer
    "phrase_search_postings",  # pruned positional-posting phrase match
    "seasonal_decompose_revenue",  # trend/seasonal/residual decomposition
    "lift_gains_deciles",      # two-phase-rank targeting curve
    "k_anonymity_report",      # QI equivalence-class audit
    "naive_bayes_source_classifier",  # distributed NB train+apply
    "bloom_filter_join_stats", # inspectable runtime-filter build/probe
    "wasserstein_weekend_value",  # prefix-sum ECDF-integral drift
    "conformal_interval_coverage",  # order-statistic conformal interval
    "bh_fdr_correction",       # step-up FDR over a z-test battery
    "importance_weight_ess",   # Kish ESS over DSIR weights
    # round 6 continuation
    "fisher_exact_weekend_purchase",  # distributed-lnfact exact test
    "ljung_box_daily_revenue",        # all-lags equi-join portmanteau
    "local_clustering_parts",         # per-node triangle explode
    "rolling_30day_distinct_users",   # coverage-explode window distinct
    "time_travel_asof_orders",        # CDC-log AS-OF reconstruction
    "heaps_law_fit",                  # global row number + grid join
    "shapley_channel_attribution",    # bitmask coalition aggregate
    "frequent_directions_spectrum",   # mergeable FD matrix sketch
    "jl_random_projection",           # broadcast-matrix JL transform
    "holt_winters_forecast_revenue",  # seasonal-ring recursion
    # round 7 additions (VERDICT r6 item 6: heavy round-6 ops made
    # bench-visible so regressions show round-over-round)
    "sorted_neighborhood_pairs",      # sort-key sliding-window ER
    "k_truss_copurchase",             # iterative support peel
    "kcore_parts",                    # iterative degree peel (now oracle)
    "blocklist_scan_docs",            # Aho-Corasick multi-pattern scan
    "margin_mutual_knn_pairs",        # margin-scored mutual top-1 mining
    "jaro_winkler_name_pairs",        # blocked pandas_udf similarity
    "theil_sen_revenue_trend",        # pairwise-median robust slope
    "huber_regression_revenue_trend", # IRLS robust regression
    "textrank_keywords",              # word-graph pagerank keywords
    "als_one_sweep_rmse",             # one-sweep ALS factorization
    "target_encoding_oof",            # out-of-fold target encoding
    "lakehouse_maintenance_pipeline", # composed MERGE+diff+zone-map (R242)
    "kneser_ney_bigram_quality",      # KN LM scoring (4 count frames)
    "fellegi_sunter_part_linkage",    # blocked probabilistic linkage
    "dbscan_embedding_cells",         # grid DBSCAN + CC
    "boilerplate_segment_removal",    # segment strip + ordered reassembly
    "gmm_em_order_values",            # 5-round broadcast-params EM
    "bradley_terry_sources",          # MM strength ranking
    "deterministic_random_walks",     # hash-coin walk generation
    "er_clusters_from_linkage",       # FS matches -> CC entities
    "suffix_array_corpus",            # prefix-doubling suffix array
    "matrix_profile_revenue",         # day-frame motif/discord mining
    "abc_xyz_inventory",              # weekly demand class matrix
    "community_labels_copurchase",    # sync LPA (now oracle-hashed)
    "corpus_quality_scorecard",       # composed KN+diversity+boilerplate
    # agg_breadth (round-8 headline expansion)
    "approx_quantiles_prices",
    "boolean_aggregates",
    "collect_sorted_lines",
    "histogram_prices",
    "locf_gap_fill",
    "map_functions",
    "math_functions",
    "orders_lineitem_reconciliation",
    "orders_per_day_densified",
    "percentile_prices",
    "profile_orders",
    "range_frame_rolling_revenue",
    "rank_distributions",
    "stats_aggregates",
    "unpivot_order_metrics",
    "user_value_slope",
    "variant_json_extract",
    # diagnostics (round-8 headline expansion)
    "bartlett_variance_priorities",
    "brier_decomposition_purchase",
    "granger_count_to_revenue",
    "jarque_bera_order_value",
    "mcc_value_classifier",
    "partial_correlation_daily",
    "ridge_lineitem_price_model",
    "risk_ratio_weekend_purchase",
    "spiegelhalter_z_calibration",
    # experimentation (round-8 headline expansion)
    "bayes_ab_prob_purchase",
    "hoeffding_confidence_sequence",
    "jackknife_ratio_revenue_per_order",
    "median_ci_order_stats",
    "runs_test_purchase_sequence",
    "sprt_purchase_rate",
    # forecasting (round-8 headline expansion)
    "durbin_watson_revenue_trend",
    "holt_linear_forecast_revenue",
    # rank_stats (round-8 headline expansion)
    "anova_f_segments",
    "cochran_armitage_weekday_trend",
    "effect_sizes_weekend",
    "friedman_priority_by_weekday",
    "kruskal_wallis_segments",
    "levene_brown_forsythe",
    "mann_whitney_u_weekend",
    "overdispersion_daily_events",
    # relational_extras (round-8 headline expansion)
    "bigram_counts",
    "gini_customer_spend",
    "lateral_top_orders_per_customer",
    "left_lateral_latest_urgent_order",
    "null_safe_join_segments",
    # round6_breadth (round-8 headline expansion)
    "cohort_retention_matrix",
    "join_size_estimator",
    "join_skew_advisor",
    "mixing_budget_allocation",
    "readability_scores",
    "table_checksum_buckets",
    # round6_depth (round-8 headline expansion)
    "cuped_adjusted_ab",
    "diff_in_diff_order_value",
    "dp_noisy_counts",
    "gdpr_erasure_cascade",
    "group_kfold_assignment",
    "horvitz_thompson_total",
    "padding_waste_report",
    "rake_keywords",
    "retention_decay_fit",
    "seasonal_anomaly_days",
    "word2vec_sampling_table",
    "zone_map_skipping_report",
    # round7_ops (round-8 headline expansion)
    "arch_lm_test_revenue",
    "atkinson_index_spend",
    "bass_diffusion_fit",
    "cmh_pooled_odds_morning_purchase",
    "competing_risks_cif",
    "cramer_von_mises_weekend",
    "delta_method_ratio_ci",
    "distance_correlation_daily",
    "duplicate_token_waste",
    "gpd_tail_fit_spend",
    "gumbel_block_maxima_fit",
    "hill_tail_index_spend",
    "hurst_exponent_revenue",
    "kuiper_test_weekend",
    "lang_id_confusion_matrix",
    "lexical_diversity_docs",
    "mahalanobis_anomaly_events",
    "median_of_means_order_value",
    "mmr_rerank_topk",
    "modularity_brand_partition",
    "negative_binomial_fit_events",
    "obrien_fleming_sequential",
    "ols_influence_diagnostics",
    "pacf_daily_revenue",
    "periodogram_fixed_bins",
    "permutation_entropy_revenue",
    "poissonness_basket_sizes",
    "power_sample_size_by_priority",
    "powerlaw_degree_fit",
    "randomized_response_estimate",
    "rich_club_coefficients",
    "rmst_conversion",
    "sample_entropy_revenue",
    "seasonality_strength_revenue",
    "silhouette_label_centroids",
    "taylors_law_demand",
    "token_stats_by_lang",
    "tukey_hsd_segments",
    "two_segment_trend_fit",
    "variance_ratio_test_revenue",
    # round8_ops (round-8 headline expansion)
    "anderson_darling_interevent",
    "ansari_bradley_weekend",
    "burrows_delta_sources",
    "conover_squared_ranks_weekend",
    "dagostino_k2_order_values",
    "diebold_mariano_revenue",
    "generalized_esd_revenue",
    "harmonic_centrality_parts",
    "iv_2sls_orders_revenue",
    "kpss_level_revenue",
    "mood_median_segments",
    "page_hinkley_revenue",
    "pinball_loss_weekday_quantiles",
    "regression_discontinuity_acctbal",
    "somers_d_balance_urgency",
    "srm_check_assignment",
    "t_closeness_report",
    "weibull_fit_interevent",
    "woe_iv_acctbal",
    # scalar_breadth (round-8 headline expansion)
    "array_functions",
    "case_when_buckets",
    "epoch_timezone_functions",
    "explode_doc_tokens",
    "higher_order_arrays",
    "null_handling",
    "pivot_status_counts",
    "regexp_groups",
    "string_functions",
    "try_functions",
    "url_encode_names",
    # stats_suite (round-8 headline expansion)
    "ab_test_proportions",
    "chi_square_independence",
    "train_val_test_split",
    # subqueries (round-8 headline expansion)
    "correlated_scalar_vs_cust_avg",
    "in_subquery_parts",
    "not_exists_quiet_customers",
    "scalar_subquery_above_avg",
    # survival (round-8 headline expansion)
    "exponential_fit_interevent",
    "logrank_arm_conversion",
    "nelson_aalen_conversion",
    # tpch_advanced (round-8 headline expansion)
    "tpch_q10_returned_items",
    "tpch_q11_important_parts",
    "tpch_q12_priority_by_returnflag",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q17_small_quantity_revenue",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_excess_suppliers",
    "tpch_q22_global_sales_opportunity",
    "tpch_q2_top_supplier_per_nation",
    "tpch_q4_priority_count",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q9_profit_by_nation_year",
    # tpch_like (round-8 headline expansion)
    "cross_join_status_region",
    "full_outer_balance",
    "tpch_q13_order_distribution",
    "tpch_q18_large_orders",
    "tpch_q7_nation_volume",
    # warehouse_ops (round-8 headline expansion)
    "dp_median_exponential_mechanism",
    "funnel_signup_purchase",
    "fuzzy_part_matches",
    "hll_distinct_users",
    "incremental_agg_maintenance",
    "l_diversity_report",
    "modern_aggregates",
    "tdigest_quantiles_prices",
    "zorder_layout_keys",
    # late round-8 registrations
    "cucconi_test_weekend",
    "brunner_munzel_weekend",
    "jonckheere_terpstra_balance_orders",
    "rrf_fusion_ranking",
    "mann_kendall_revenue_trend",
    "knn_sq8_rerank",
    "bh_fdr_nation_urgency",
    "soundex_blocked_dedup",
]


def _ambient_load() -> dict:
    """Machine-load snapshot so ambient-contention claims adjudicate
    themselves (VERDICT r11 #7): 1-min loadavg plus the cumulative
    /proc/stat jiffy counters (total and idle). Two snapshots bracket
    the bench run; their delta gives machine-wide CPU busy-fraction
    DURING the run, which separates "this box was loaded" from "a
    query regressed" without a per-query diff argument."""
    out: dict = {}
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(p) for p in parts]
        out["cpu_jiffies_total"] = sum(vals)
        out["cpu_jiffies_idle"] = vals[3] + (vals[4] if len(vals) > 4 else 0)
    except (OSError, ValueError, IndexError):
        pass
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("zoom-spark-bench")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # Since round 9 the headline is the FULL registry: the curated
    # HEADLINE list keeps its stable family ordering (so round-over-
    # round per-query comparisons stay aligned), and every remaining
    # registry query is appended after it — the engine side of every
    # gate is benched, including the two whose DuckDB ORACLE is
    # quadratic (only their SQL twin is slow, not the Spark plan).
    names = [n for n in HEADLINE if n in qs] + [
        n for n in qs if n not in HEADLINE
    ]
    # Warm the JVM once so timings measure execution, not first-use
    # JIT/codegen: touch the parquet footers and compile the
    # join/aggregate/window codegen paths with a tiny plan. Standard
    # benchmark warmup — none of the measured queries run here.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).limit(1000)
    warm = (
        li.limit(1000)
        .join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.sum("l_quantity").alias("q"))
        .withColumn("r", F.row_number().over(Window.orderBy("o_orderstatus")))
    )
    warm.write.format("noop").mode("overwrite").save()
    li.count()
    # r14: warm the PYTHON-WORKER POOL as well. The first query that
    # fans a mapInPandas/applyInPandas across every core otherwise
    # pays the whole pool spawn (one Python process + pyspark/pandas
    # import per core) inside ITS timed span — measured this round:
    # multimodal_decode_wav_ppm read 10.5 s cold in bench context vs
    # 1.6 s with the pool already spawned, and the driver's r13 line
    # (13.2 s) carried the same artifact. Same declared intent as the
    # JIT/codegen warmup above: timings measure execution, not
    # first-use session infrastructure. NOTE (measurement change,
    # r14): lines for whichever query previously hit the cold pool
    # (r13: multimodal_decode_wav_ppm) drop by the spawn cost; earlier
    # rounds' numbers include it.
    _p = spark.sparkContext.defaultParallelism

    def _warm_workers(batches):
        for pdf in batches:
            yield pdf

    spark.range(0, _p, 1, _p).mapInPandas(_warm_workers, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


    # ADVICE r12: sample the first ambient snapshot AFTER JVM startup
    # and the warmup noop write, immediately before the timed loop —
    # otherwise one-time startup/warmup CPU folds into cpu_busy_frac
    # and dilutes the ambient-contention signal it exists to measure.
    load_before = _ambient_load()

    from zoom_spark.session import release_storage

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        t0 = time.perf_counter()
        df = None
        try:
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 — one broken query must
            # not wipe the whole benchmark record (round-3 lesson)
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)
        # Between-query storage hygiene (OUTSIDE the timed section):
        # without it, ~259 localCheckpoint sites accumulate executor
        # blocks over the 579-query session and the resulting GC
        # pressure inflated late-bench lines 2-4x (round-11
        # adjudication — all seven flagged movers were this artifact).
        del df
        release_storage(spark)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    load_after = _ambient_load()
    ambient = {"before": load_before, "after": load_after}
    if (
        "cpu_jiffies_total" in load_before
        and "cpu_jiffies_total" in load_after
    ):
        dt = load_after["cpu_jiffies_total"] - load_before["cpu_jiffies_total"]
        di = load_after["cpu_jiffies_idle"] - load_before["cpu_jiffies_idle"]
        if dt > 0:
            # Machine-wide busy fraction over the whole bench window
            # (includes our own Spark work; compare ACROSS runs of the
            # same code to spot ambient contention).
            ambient["cpu_busy_frac"] = round(1.0 - di / dt, 3)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "ambient": ambient,
    }
    if errors:
        detail["errors"] = errors
    # Full per-query detail: printed first (for humans/logs) and written
    # to BENCH_DETAIL.json. The LAST stdout line must stay well under the
    # driver's 2000-char tail capture or the recorded round loses its
    # machine-readable total (BENCH_r05.json parsed:null) — so the final
    # line carries the total plus only the slowest queries, trimmed to fit.
    print(json.dumps(detail))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"), "w"
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])
    )
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "query_count": len(timings),
        "error_count": len(errors),
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
        "load_1m": [
            load_before.get("loadavg_1m"),
            load_after.get("loadavg_1m"),
        ],
        "cpu_busy_frac": ambient.get("cpu_busy_frac"),
    }
    while len(json.dumps(summary)) > 1200 and summary["queries"]:
        summary["queries"].pop(next(reversed(summary["queries"])))
    print(json.dumps(summary))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
